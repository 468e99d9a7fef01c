package graft.streaming

import graft.operators.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous NEAR-dup ingest — [[graft.operators.Dedup.incrementalNearDup]]
  * run micro-batch by micro-batch against a PERSISTED index, the streaming
  * completion of the dedup family: [[StreamDedup]] drops exact copies
  * inside the watermark horizon; this drops near-duplicates against
  * everything ever ingested, because the index (band keys + hashed
  * shingle sets, 8-byte rows) is what persists — never the corpus text.
  *
  * Layout under `indexDir`: `bands/` and `shingles/` parquet (append-only),
  * a `_conf` layout stamp ([[graft.sources.IndexConf]]: the band keys are
  * a pure function of (n, bands, rowsPerBand) — a producer under
  * different values must fail loudly, not silently stop matching; a
  * pre-stamp index is stamped on first touch with the caller's values),
  * plus `_batches/mb-<id>` markers (the live stream's micro-batch ids) and
  * `_batches/day-<id>` markers (`cross_day_neardup`'s epoch days) —
  * namespaced PER PRODUCER (r13 verdict #1, the StreamFingerprint r13
  * pattern: sharing one numeric namespace relied on micro-batch counters
  * never reaching the ~18k epoch-day range; a long-lived stream crossing
  * it would silently no-op a day's ingest). A bare `_batches/<id>` from
  * before the namespacing is refused loudly ([[Markers]], shared with
  * StreamFingerprint): re-running an applied day would self-hit every
  * doc against its own index keys and empty the survivor set.
  * Survivors land in `survivorsDir/batch=<id>/` (full rows), overwritten
  * per batch id — survivor dirs stay bare-numeric on purpose: the two
  * producers' id RANGES are what collide in the marker namespace, but a
  * given deployment feeds the warehouse from ONE producer.
  *
  * Delivery semantics, in write order per batch:
  *   1. marker exists → the batch is already fully applied: skip (a
  *      checkpoint-replayed batch changes nothing).
  *   2. survivors are computed against the CURRENT index and written to
  *      the batch's own directory in overwrite mode — a retried batch
  *      recomputes the identical result (the index hasn't changed) and
  *      overwrites in place: no duplicate survivor rows, ever.
  *   3. the marker commits the batch BEFORE the index append: a crash
  *      inside the append window can only LOSE index rows for this
  *      batch's survivors — future batches miss a dedup opportunity
  *      against them (the streaming-dedup compromise, same shape as
  *      StreamDedup's watermark horizon), but never lose survivor rows
  *      and never double-drop. Duplicate index rows cannot occur; even a
  *      partially-visible append is correctness-safe downstream (both
  *      candidate joins `distinct` before verification).
  */
object StreamNearDup {

  def start(
      docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, survivorsDir: String, checkpointDir: String,
      n: Int = 3, threshold: Double = 0.7,
      onBatch: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val kept = applyBatch(
          batch.sparkSession, batch, idCol, textCol,
          indexDir, survivorsDir, batchId, n, threshold)
        onBatch(batchId, kept)
      }
      .start()

  /** The two producer namespaces sharing one index: the live stream's
    * micro-batch counters and the nightly DAG's epoch days.
    */
  val StreamNamespace = "mb"
  val DayNamespace = "day"

  /** True iff `batchId` is already applied under `namespace` ([[Markers]]
    * owns the rule, shared with [[StreamFingerprint]] so the two indexes'
    * "applied" semantics cannot drift). The LlmIngestDag gate uses this
    * so gate and apply can never disagree.
    */
  def batchApplied(
      spark: SparkSession, indexDir: String, batchId: Long,
      namespace: String): Boolean =
    Markers.applied(spark, indexDir, batchId, namespace)

  /** One batch of the protocol above (factored out so the semantics are
    * unit-testable without a streaming runtime). `namespace` identifies
    * the PRODUCER ([[StreamNamespace]] for micro-batches — the default,
    * what [[start]] passes — [[DayNamespace]] for `cross_day_neardup`'s
    * epoch days); ids only need to be unique within their producer.
    * Returns the number of survivors written, or -1 if the batch was
    * already applied.
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, survivorsDir: String, batchId: Long,
      n: Int = 3, threshold: Double = 0.7,
      namespace: String = StreamNamespace): Long = {
    // the index's band keys and hashed shingle sets are derived from
    // (n, bands, rowsPerBand) — this entry point bakes in
    // incrementalNearDup's default banding, and the stamp pins all three
    // so a producer under different parameters (a restarted stream, a
    // misconfigured DAG leg) fails loudly instead of appending keys no
    // probe will ever match (IndexConf doc: the silent-miss failure)
    graft.sources.IndexConf.ensure(spark, indexDir,
      Map("n" -> n.toString, "bands" -> "32", "rowsPerBand" -> "4"),
      "near-dup band/shingle index")
    val conf = spark.sessionState.newHadoopConf()
    val marker = Markers.markerPath(indexDir, batchId, namespace)
    val fs = marker.getFileSystem(conf)
    if (batchApplied(spark, indexDir, batchId, namespace)) return -1L

    // empty-but-correctly-typed frames when the index doesn't exist yet:
    // derive the schemas from the batch itself via a zero-row index build
    val empty = Dedup.nearDupIndex(batch.limit(0), idCol, textCol, n)
    def load(sub: String, or: DataFrame): DataFrame = {
      // a compaction swap interrupted mid-rename must not read as "no
      // index yet" — that would silently dedup against nothing. READER
      // mode (the default): only ever COMPLETES a sealed swap, never
      // deletes a stage — so racing the nightly compactFlat is safe
      // (r12 ADVICE: the old always-delete heal could destroy a stage
      // the writer was mid-writing)
      graft.sources.Compaction.healCompactFlat(spark, s"$indexDir/$sub")
      val p = new Path(s"$indexDir/$sub")
      if (p.getFileSystem(conf).exists(p)) spark.read.parquet(p.toString) else or
    }
    val index = Dedup.NearDupIndex(
      load("bands", empty.bands), load("shingles", empty.shingles))

    val inc = Dedup.incrementalNearDup(
      batch, idCol, textCol, index, n, threshold)
    val keptRows = batch.join(
      inc.survivors.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
      .localCheckpoint() // pin the result BEFORE the index mutates
    val added = Dedup.NearDupIndex(
      inc.added.bands.localCheckpoint(), inc.added.shingles.localCheckpoint())

    keptRows.write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    added.bands.write.mode("append").parquet(s"$indexDir/bands")
    added.shingles.write.mode("append").parquet(s"$indexDir/shingles")
    keptRows.count()
  }
}
