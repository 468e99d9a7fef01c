package graft.pipelines

import java.sql.Connection
import java.time.LocalDate

import graft.operators.Dedup
import graft.sources.{Compaction, JdbcSink, JsonlGz, SqlSink}
import graft.streaming.{StreamFingerprint, StreamNearDup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's daily DAG generalized to the TRAINING-DATA setting:
  * one [[Dag]] per execution date that ingests a day of raw documents,
  * cleans them with [[CorpusPipeline]] (perplexity stage on), collapses
  * cross-day near-duplicates against the PERSISTED q65 index (each day
  * dedups against every prior day without re-reading prior days' text),
  * compacts the survivor warehouse, and publishes per-source counts to a
  * SQL warehouse behind a row-count gate —
  *
  * {{{
  * start >> ingest_raw >> clean_corpus >> cross_day_neardup
  *       >> compact_warehouse >> publish_counts >> finish
  *   (cross_day_neardup >> compact_neardup_index >> finish — the
  *    band/shingle index's own small-file maintenance, r12)
  *   (cross_day_neardup >> grow_media_index >> compact_media_index
  *    >> finish — the media band-key index's grow + maintenance, r13:
  *    every index artifact now has a compaction owner)
  * }}}
  *
  * Composition, not new machinery: task bodies are the library's own
  * operators (JsonlGz dead-lettering, CorpusPipeline.clean,
  * StreamNearDup.applyBatch = q65's exactly-once batch protocol keyed by
  * epoch day, Compaction.compact, JdbcSink.load + rowCountGate), and
  * multi-day driving is [[Catchup]] — so an outage back-fills in order
  * and a caught-up schedule re-runs nothing. Idempotency stacks the same
  * way: per-date overwrite paths (raw/clean), the neardup batch marker
  * (a replayed day is a no-op and the index grows by each day's
  * SURVIVORS exactly once), and a DELETE-then-INSERT publish keyed by
  * execution date.
  */
object LlmIngestDag {

  val InputSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  val CountsTable = "corpus_daily_counts"

  val CountsSchema: StructType = StructType(Seq(
    StructField("execution_date", StringType),
    StructField("source", StringType),
    StructField("n_docs", LongType)))

  final case class Build(
      tasks: Seq[Dag.Task],
      edges: Seq[(String, String)],
      rawPath: String,
      cleanPath: String,
      survivorsDir: String,
      indexDir: String)

  /** Wire one execution date. `connect` is a serializable factory (the
    * JdbcSink contract — executors open their own connections); the
    * `corpus_daily_counts` table must exist ([[ensureCountsTable]]).
    *
    * `embeddingsFor` (r10, optional): the day's (doc_id, embedding) rows
    * — in production the embedding service's daily output. When present, a
    * `grow_ann_index` task appends the day's SURVIVORS' vectors into the
    * persisted IVF-PQ index at `warehouse/ann_index` under the frozen
    * model ([[graft.operators.Pq.appendBatch]] — day one builds, every
    * later day appends, batch-marker idempotent exactly like the minhash
    * index), so BOTH dedup-index artifacts grow together day by day.
    *
    * `annUnionEmbeddings` (r11, optional, needs `embeddingsFor`): the
    * FULL embedding store — (doc_id, embedding) for every doc ever
    * embedded. When present, a `rebuild_ann_if_drifted` task runs after
    * the append: if [[graft.operators.Pq.occupancyDrift]] says the frozen
    * model has drifted, the index retrains + re-encodes on all surviving
    * docs' vectors ([[graft.operators.Pq.rebuildIfDrifted]]); a no-drift
    * day touches nothing. This closes the loop the r10 gate only
    * observed: appends stay cheap daily, the full-build price is paid
    * exactly when probe pruning has actually degraded.
    */
  def build(
      spark: SparkSession,
      inputRoot: String, outputRoot: String,
      date: LocalDate,
      connect: () => Connection,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config(dropPplTail = true),
      retries: Int = 1, minRows: Long = 1,
      compactMaxFiles: Int = 8,
      embeddingsFor: Option[LocalDate => org.apache.spark.sql.DataFrame] = None,
      annUnionEmbeddings: Option[() => org.apache.spark.sql.DataFrame] = None,
      mediaFingerprint: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = None): Build = {
    val rawPath = s"$outputRoot/warehouse/raw/date=$date"
    val cleanPath = s"$outputRoot/warehouse/clean_daily/date=$date"
    val survivorsDir = s"$outputRoot/warehouse/corpus"
    val indexDir = s"$outputRoot/warehouse/neardup_index"
    val (y, m, d) = (date.getYear, date.getMonthValue, date.getDayOfMonth)

    val tasks = Seq(
      Dag.Task("start", () => ()),

      // raw ingest with dead-lettering: unparseable lines go to the
      // quarantine (removed when there are none), clean rows to the
      // per-date raw partition (both overwrite)
      Dag.Task("ingest_raw", () => {
        val inPath = f"$inputRoot/$y%04d/$m%02d/$d%02d/*.jsonl.gz"
        val raw = JsonlGz.read(spark, inPath, InputSchema)
        JsonlGz.deadLetter(raw, s"$outputRoot/quarantine/$date")
        JsonlGz.clean(raw).write.mode("overwrite").parquet(rawPath)
      }, retries = retries),

      // the 100 TB cleaning chain (lang, quality, repetition, ppl-tail,
      // exact + within-day near-dup, per-source cap), per-date overwrite
      Dag.Task("clean_corpus", () => {
        CorpusPipeline.clean(spark.read.parquet(rawPath), cfg)
          .write.mode("overwrite").parquet(cleanPath)
      }, retries = retries),

      // q65 across days: dedup today's clean docs against the persisted
      // index of every prior day (text never re-read), append survivors'
      // band/shingle keys exactly once (day-namespaced epoch-day batch
      // marker — r13 verdict #1: the DAG and the live stream share one
      // index but must not share one marker namespace)
      Dag.Task("cross_day_neardup", () => {
        StreamNearDup.applyBatch(
          spark, spark.read.parquet(cleanPath), "doc_id", "text",
          indexDir, survivorsDir, batchId = date.toEpochDay,
          namespace = StreamNearDup.DayNamespace)
        ()
      }, retries = retries,
        // marker present = the batch is applied (this run's or a replay's)
        gate = () => StreamNearDup.batchApplied(
          spark, indexDir, date.toEpochDay, StreamNearDup.DayNamespace)),

      // fold the day's small survivor files into target-size files;
      // idempotent (re-compaction of a compacted partition is a no-op)
      Dag.Task("compact_warehouse", () => {
        Compaction.compact(spark, survivorsDir, "batch",
          maxFiles = compactMaxFiles)
        ()
      }, retries = retries),

      // the band/shingle index appends one small file set per day forever
      // without an owner (r11 verdict #5) — fold both flat dirs with the
      // same knob as the warehouse; staged-swap rewrite, so a replayed or
      // crashed compaction never half-rewrites the index (Compaction
      // .compactFlat) and cross-day dedup results are unchanged
      Dag.Task("compact_neardup_index", () => {
        Compaction.compactFlat(spark, s"$indexDir/bands",
          maxFiles = compactMaxFiles)
        Compaction.compactFlat(spark, s"$indexDir/shingles",
          maxFiles = compactMaxFiles)
        ()
      }, retries = retries),

      // publish per-source survivor counts, DELETE-then-INSERT on the
      // execution date so a re-run converges instead of duplicating
      Dag.Task("publish_counts", () => {
        val day = spark.read.parquet(s"$survivorsDir/batch=${date.toEpochDay}")
        val counts = day.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .select(
            lit(date.toString).as("execution_date"),
            col("source"), col("n_docs"))
        val conn = connect()
        try JdbcSink.run(conn,
          Seq(s"""DELETE FROM $CountsTable WHERE "execution_date" = '$date'"""))
        finally conn.close()
        JdbcSink.load(counts, CountsTable, connect)
      }, retries = retries,
        gate = () => {
          val conn = connect()
          try {
            JdbcSink.rowCountGate(
              conn, CountsTable, "execution_date", date.toString, minRows)
            true
          } catch { case _: IllegalStateException => false }
          finally conn.close()
        }),

      Dag.Task("finish", () => ()))

    // optional ANN-index leg: runs AFTER cross-day dedup (only survivors
    // are worth indexing) and independently of compaction/publish
    val annDir = s"$outputRoot/warehouse/ann_index"
    val annTasks = embeddingsFor.toSeq.map { embFor =>
      Dag.Task("grow_ann_index", () => {
        val survivors = spark.read
          .parquet(s"$survivorsDir/batch=${date.toEpochDay}")
          .select(col("doc_id"))
        val dayEmb = embFor(date)
          .join(survivors, Seq("doc_id"), "left_semi")
        graft.operators.Pq.appendBatch(
          spark, dayEmb, "doc_id", "embedding", annDir,
          batchId = date.toEpochDay)
        ()
      }, retries = retries,
        // gate on the marker's CONTENT, not its existence: the append
        // branch claims with an empty marker before the non-idempotent
        // write, so bare exists() would report a crashed append green
        gate = () =>
          graft.operators.Pq.appendBatchApplied(
            spark, annDir, date.toEpochDay))
    } ++ (for (_ <- embeddingsFor.toSeq; unionEmb <- annUnionEmbeddings.toSeq)
      yield Dag.Task("rebuild_ann_if_drifted", () => {
        // rebuild corpus = every SURVIVOR's vector (exactly what the
        // index holds: appends only ever indexed survivors). A `def`, so
        // the by-name parameter constructs it UNDER the rebuild lease —
        // its file listings cannot miss a stream append racing this task
        // (Pq.rebuildIfDrifted scaladoc, r17)
        def union = unionEmb().join(
          spark.read.parquet(survivorsDir).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        graft.operators.Pq.rebuildIfDrifted(
          spark, annDir, union, "doc_id", "embedding")
        ()
      }, retries = retries,
        // done = the gate no longer flags drift (a fresh build's
        // occupancy reference makes this true by construction; a
        // no-drift day was already green)
        gate = () => !graft.operators.Pq.occupancyDrift(spark, annDir)
          .select(col("retrain_due")).head().getBoolean(0))) ++
      // each append adds one small file set per touched cell; without
      // maintenance a year of days = hundreds of KB files per cell and
      // the probe's pruned scan pays per-file open cost. Same Compaction
      // the survivor warehouse gets, pointed at the cell partitions —
      // content-preserving, so probes are unchanged (PqSpec)
      embeddingsFor.toSeq.map { _ =>
        Dag.Task("compact_ann_index", () => {
          Compaction.compact(spark, annDir, "cell", maxFiles = compactMaxFiles)
          ()
        }, retries = retries)
      }
    val annEdges = embeddingsFor.toSeq.flatMap { _ =>
      val chain = Seq("cross_day_neardup", "grow_ann_index") ++
        (if (annUnionEmbeddings.isDefined) Seq("rebuild_ann_if_drifted") else Nil) ++
        Seq("compact_ann_index", "finish")
      chain.zip(chain.tail)
    }

    // optional media fingerprint-index leg (r11 verdict #7): the band-key
    // artifact StreamFingerprint probes live gets a nightly owner — each
    // day's SURVIVORS' keys append marker-idempotently (epoch-day batch
    // ids, disjoint from the stream's micro-batch counters), so the live
    // and nightly halves share one index lifecycle exactly as text
    // near-dup does via cross_day_neardup
    val mediaIndexDir = s"$outputRoot/warehouse/media_index"
    val mediaTasks = mediaFingerprint.toSeq.flatMap { fp =>
      Seq(
        Dag.Task("grow_media_index", () => {
          StreamFingerprint.growBatch(
            spark, spark.read.parquet(s"$survivorsDir/batch=${date.toEpochDay}"),
            "doc_id", fp, mediaIndexDir, batchId = date.toEpochDay)
          ()
        }, retries = retries,
          // growBatch appends BEFORE its marker (duplicate keys are benign
          // for the existence-only probe; lost keys are not), so marker
          // presence == the day's keys landed (day-namespaced, r12 ADVICE)
          gate = () => StreamFingerprint.batchApplied(
            spark, mediaIndexDir, date.toEpochDay, "day")),

        // the band-key index appends one file set per day (DAG) and per
        // micro-batch (live stream) forever — the LAST index without a
        // compaction owner (r12 verdict #1). Same staged-swap fold as the
        // neardup index; single WRITER by DAG ordering (after the day's
        // grow), while the live stream's probes ride through the swap via
        // reader-mode heal (StreamFingerprint.applyBatch)
        Dag.Task("compact_media_index", () => {
          Compaction.compactFlat(spark, s"$mediaIndexDir/keys",
            maxFiles = compactMaxFiles)
          ()
        }, retries = retries))
    }
    val mediaEdges = mediaFingerprint.toSeq.flatMap { _ =>
      Seq("cross_day_neardup" -> "grow_media_index",
        "grow_media_index" -> "compact_media_index",
        "compact_media_index" -> "finish")
    }

    val edges = Seq(
      "start" -> "ingest_raw",
      "ingest_raw" -> "clean_corpus",
      "clean_corpus" -> "cross_day_neardup",
      "cross_day_neardup" -> "compact_warehouse",
      "cross_day_neardup" -> "compact_neardup_index",
      "compact_neardup_index" -> "finish",
      "compact_warehouse" -> "publish_counts",
      "publish_counts" -> "finish") ++ annEdges ++ mediaEdges

    Build(tasks.init ++ annTasks ++ mediaTasks :+ tasks.last, edges,
      rawPath, cleanPath, survivorsDir, indexDir)
  }

  /** Create the counts table (Derby-compatible DDL; no-op if present). */
  def ensureCountsTable(conn: Connection): Unit =
    try JdbcSink.run(conn, Seq(SqlSink.createTableSql(
      CountsTable, CountsSchema, ifNotExists = false, varcharWidth = 256)))
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }

  /** Multi-day driving via [[Catchup]]: derive the missed dates from the
    * watermark, run one day dag per missed date in order. A failed day is
    * left unwatermarked (retried next tick) and never blocks later days.
    */
  def catchup(
      spark: SparkSession,
      inputRoot: String, outputRoot: String,
      connect: () => Connection,
      startDate: LocalDate, untilExclusive: LocalDate,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config(dropPplTail = true),
      retries: Int = 1, minRows: Long = 1,
      compactMaxFiles: Int = 8,
      embeddingsFor: Option[LocalDate => org.apache.spark.sql.DataFrame] = None,
      annUnionEmbeddings: Option[() => org.apache.spark.sql.DataFrame] = None,
      mediaFingerprint: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = None)
      : Seq[Catchup.DayRun] = {
    val wm = s"$outputRoot/_catchup_watermark"
    var details = Map.empty[LocalDate, Seq[Dag.Outcome]]
    val ran = Catchup.run(spark, wm, startDate, untilExclusive) { d =>
      val b = build(spark, inputRoot, outputRoot, d, connect, cfg,
        retries, minRows, compactMaxFiles, embeddingsFor, annUnionEmbeddings,
        mediaFingerprint)
      val out = Dag.run(b.tasks, b.edges)
      details += d -> out
      out.forall(_.status == Dag.Succeeded)
    }
    ran.map { case (d, ok) => Catchup.DayRun(d, ok, details.getOrElse(d, Nil)) }
  }
}
