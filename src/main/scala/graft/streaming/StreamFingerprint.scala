package graft.streaming

import graft.operators.Multimodal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous MEDIA near-dup ingest — the fingerprint family's streaming
  * twin (q117/q119/q120 live): new media on the feed checks against a
  * PERSISTED fingerprint index instead of waiting for the nightly batch
  * pair job, exactly as [[StreamNearDup]] does for text. What persists is
  * [[Multimodal.bandKeys56]]'s rows — (id, 56-bit fingerprint, packed
  * chunk-pair blocking key), ~24 B/doc/key, never a pixel or sample:
  * the batch job and the stream share one blocking design, so a pair the
  * nightly q117 would report is exactly a pair the stream drops.
  *
  * `fingerprint` maps a doc micro-batch to (doc_id, ph) — pass
  * [[Multimodal.imagePhash]], [[Multimodal.audioFingerprint]] or
  * [[Multimodal.videoFingerprint]]; one started stream per modality
  * (their hash spaces are unrelated — cross-modal fusion is q121's batch
  * job, which consumes the same survivors).
  *
  * Layout under `indexDir`: `keys/` parquet (append-only) plus
  * `_batches/mb-<id>` markers (the stream's micro-batch ids) and
  * `_batches/day-<id>` markers ([[growBatch]]'s nightly epoch days) —
  * namespaced PER PRODUCER (r12 ADVICE: sharing one numeric namespace
  * relied on micro-batch counters never reaching the ~18k epoch-day
  * range; a long-lived stream crossing it would silently no-op a
  * nightly grow). A bare `_batches/<id>` from before the namespacing is
  * refused loudly ([[Markers]], shared with StreamNearDup). Survivors
  * (full input rows) land in `survivorsDir/batch=<id>/`, overwritten per
  * batch id.
  *
  * Delivery semantics — [[StreamNearDup]]'s write order, verbatim:
  *   1. marker exists → the batch is fully applied: skip (checkpoint
  *      replay changes nothing).
  *   2. survivors are computed against the CURRENT index and written
  *      overwrite to the batch's own directory — a retried batch
  *      recomputes the identical result and overwrites in place.
  *   3. the marker commits BEFORE the index append: a crash inside the
  *      append window can only LOSE index keys for this batch's
  *      survivors (future batches miss a dedup opportunity), never lose
  *      survivor rows and never double-drop.
  *
  * Scale shape: the decode+hash is one scan of the micro-batch (pixels
  * die inside the scan); the index side is pruned to the BATCH's
  * blocking keys by a semi-join BEFORE anything is verified, so each
  * micro-batch pays O(|batch| · keys/doc + touched index rows), never
  * O(|index|) — the [[graft.operators.Dedup.incrementalNearDup]] ingest
  * contract. Cross-match verification is existence-only (any hit drops
  * the doc), so no pair stream materializes. `bucketCap` forwards to the
  * within-batch [[Multimodal.hammingPairs56]] guard and defaults to
  * [[Multimodal.ProductionBucketCap]] like every other production entry
  * point (r12 verdict #2: this was the one fingerprint path still
  * inheriting the unarmed 0 — micro-batch sizing bounds the blast
  * radius, but a pathological batch of one repeated fingerprint would
  * still grind one task; pass 0 explicitly to disarm).
  */
object StreamFingerprint {

  def start(
      docs: DataFrame, idCol: String,
      fingerprint: DataFrame => DataFrame,
      indexDir: String, survivorsDir: String, checkpointDir: String,
      maxHamming: Int = 4,
      bucketCap: Int = Multimodal.ProductionBucketCap,
      onBatch: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val kept = applyBatch(
          batch.sparkSession, batch, idCol, fingerprint,
          indexDir, survivorsDir, batchId, maxHamming, bucketCap)
        onBatch(batchId, kept)
      }
      .start()

  /** True iff `batchId` is already applied under `namespace` ("mb" or
    * "day"; [[Markers]] owns the rule). Shared by [[applyBatch]],
    * [[growBatch]] and the LlmIngestDag gate so gate and apply can never
    * disagree on what "applied" means.
    */
  def batchApplied(
      spark: SparkSession, indexDir: String, batchId: Long,
      namespace: String): Boolean =
    Markers.applied(spark, indexDir, batchId, namespace)

  /** One batch of the protocol above (factored out so the semantics are
    * unit-testable without a streaming runtime). Returns the number of
    * survivors written, or -1 if the batch was already applied.
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, idCol: String,
      fingerprint: DataFrame => DataFrame,
      indexDir: String, survivorsDir: String, batchId: Long,
      maxHamming: Int = 4,
      bucketCap: Int = Multimodal.ProductionBucketCap): Long = {
    // the blocking keys are bandKeys56's chunk-pair covering of the
    // Hamming ball — a pure function of maxHamming. A producer under a
    // different radius emits keys the persisted index never stored (and
    // vice versa): probes silently stop matching. Stamp-or-validate
    // before anything touches the index; the fingerprint FUNCTION's
    // identity stays the caller's contract (it is code, not a scalar —
    // both producers must ship the same decode, as with any model).
    graft.sources.IndexConf.ensure(spark, indexDir,
      Map("maxHamming" -> maxHamming.toString), "media fingerprint index")
    val conf = spark.sessionState.newHadoopConf()
    val marker = Markers.markerPath(indexDir, batchId, "mb")
    val fs = marker.getFileSystem(conf)
    if (batchApplied(spark, indexDir, batchId, "mb")) return -1L

    // decode+hash once; both the cross check and the within check read
    // the same banded rows (the incrementalNearDup materialize-once rule)
    val hashes = fingerprint(batch).localCheckpoint()
    val banded = Multimodal.bandKeys56(hashes, maxHamming).localCheckpoint()

    val keysPath = new Path(s"$indexDir/keys")
    // a nightly compact_media_index swap interrupted mid-rename must not
    // read as "no index yet" — READER-mode heal only ever completes a
    // sealed swap (the StreamNearDup.load discipline)
    graft.sources.Compaction.healCompactFlat(spark, keysPath.toString)
    val ham: Column = bit_count(col("ph").bitwiseXOR(col("ph_b"))).cast("int")
    val crossDrop: DataFrame =
      if (!fs.exists(keysPath)) banded.limit(0).select(col("id"))
      else {
        // prune the persisted index to the batch's buckets BEFORE any
        // verify — the index grows forever, the touched slice is
        // O(|batch| · keys/doc) for bounded buckets. Self-hits (a
        // re-delivered id already indexed) deliberately match at
        // hamming 0 and drop — the dedup contract.
        val touched = spark.read.parquet(keysPath.toString)
          .join(banded.select("bk").distinct(), Seq("bk"), "left_semi")
        banded.join(
          touched.select(col("bk"), col("ph").as("ph_b")), Seq("bk"))
          .filter(ham <= maxHamming)
          .select(col("id")).distinct()
      }

    // within-batch: the shared blocked pair join (canonical-key single
    // emission; opt-in hot-bucket chunking) — the larger id drops
    val withinDrop = Multimodal.hammingPairs56(hashes, maxHamming, bucketCap)
      .select(col("id_b").as("id")).distinct()

    val keptRows = batch.join(
      crossDrop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .join(withinDrop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .localCheckpoint() // pin the result BEFORE the index mutates

    keptRows.write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    banded.join(
      keptRows.select(col(idCol).cast("long").as("id")), Seq("id"), "left_semi")
      .write.mode("append").parquet(keysPath.toString)
    keptRows.count()
  }

  /** The NIGHTLY grow half (r11 verdict #7): append `docs`' band keys
    * into the same `keys/` artifact the live stream probes, marker-
    * idempotent — so the batch DAG and [[applyBatch]] share ONE index
    * lifecycle exactly as text near-dup's `cross_day_neardup` does for
    * [[StreamNearDup]]. The caller passes already-deduped survivors
    * (the DAG grows the index by what it KEPT); this only fingerprints
    * and appends, it drops nothing.
    *
    * Write order differs from [[applyBatch]] deliberately: keys append
    * BEFORE the marker commits, because here a replay-after-crash can
    * only DUPLICATE key rows — benign for the existence-only cross check
    * (and folded away by any compaction) — whereas applyBatch's
    * marker-first order exists to protect survivor rows this method
    * never writes. Markers live in the producer-namespaced
    * `_batches/day-<id>` (r12 ADVICE: the previous shared numeric
    * namespace relied on a documented disjoint-range convention —
    * epoch days vs micro-batch counters — that a stream whose counter
    * reached ~18k would silently violate, no-op'ing a nightly grow).
    * Returns key rows appended, or -1 for a replay.
    */
  def growBatch(
      spark: SparkSession, docs: DataFrame, idCol: String,
      fingerprint: DataFrame => DataFrame,
      indexDir: String, batchId: Long, maxHamming: Int = 4): Long = {
    // same stamp-or-validate as applyBatch: both producers share the one
    // keys/ artifact, so both must agree on the blocking radius
    graft.sources.IndexConf.ensure(spark, indexDir,
      Map("maxHamming" -> maxHamming.toString), "media fingerprint index")
    val conf = spark.sessionState.newHadoopConf()
    val marker = Markers.markerPath(indexDir, batchId, "day")
    val fs = marker.getFileSystem(conf)
    if (batchApplied(spark, indexDir, batchId, "day")) return -1L
    val banded = Multimodal.bandKeys56(
      fingerprint(docs.select(col(idCol).cast("long").as("doc_id"), col("text"))),
      maxHamming).localCheckpoint()
    // a compact_media_index swap interrupted between its two renames
    // leaves `keys/` ABSENT with the full index sealed in the stage
    // (r13 ADVICE, high): appending here without healing would recreate
    // the dir with only this day's keys, and the next writer-mode heal
    // would then discard the sealed stage AND the moved-aside copy — the
    // entire historical index silently lost. Reader-mode heal first
    // (applyBatch's discipline): complete the sealed swap, never delete.
    graft.sources.Compaction.healCompactFlat(spark, s"$indexDir/keys")
    banded.write.mode("append").parquet(s"$indexDir/keys")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    banded.count()
  }
}
