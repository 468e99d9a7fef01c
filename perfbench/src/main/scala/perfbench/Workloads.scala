package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.{Connection, DriverManager, Timestamp}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.operators.{Bm25, Pq}
import graft.pipelines.{Backfill, DailyPipeline}
import graft.sources.{JdbcSink, SqlSink}
import graft.streaming.{StreamAnnGrow, StreamBm25Grow}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What every workload gives the run loop in [[Main]]. */
trait Workload {
  /** Operations (calls into graft) one iteration attempts. */
  def opsPerIteration: Int
  /** Inputs and base state; part of the timed set-up. */
  def setup(): Unit
  /** One closed-loop iteration; returns how many of its operations failed.
    * Every call into graft runs inside a span of `ctx.trace`.
    */
  def iteration(i: Int): Int
  /** The spans of the write phase, each called once per iteration (write_s). */
  def writeSpans: Seq[String]
  /** Writes what the checkers read (`check.json` plus data files). */
  def finish(): Unit
  /** Per-layer metrics this workload measures itself (traced mode). */
  def layerExtras: Map[String, Double] = Map.empty
}

final case class Ctx(spark: SparkSession, work: File, seed: Long, trace: Trace) {
  def path(rel: String): String = new File(work, rel).getAbsolutePath
  def writeJson(rel: String, json: String): Unit =
    Files.write(new File(work, rel).toPath, json.getBytes("UTF-8"))
}

// --------------------------------------------------------------- backfill

/** The paper's daily batch: `Backfill.run` for one execution date over
  * gzipped JSONL tweets, then the staged summary loaded into an embedded
  * Derby warehouse through `JdbcSink` and gated on its row count. Dates
  * are taken in turn; a re-run date overwrites its outputs, as the
  * pipeline's idempotent per-date paths promise.
  */
final class DailyBackfill(ctx: Ctx) extends Workload {
  import DailyBackfill._
  private val spark = ctx.spark
  private val days = (0 until Days).map(d => LocalDate.of(2020, 3, 1).plusDays(d.toLong))
  private val in = ctx.path("tweets")
  private val out = ctx.path("staged")
  private var expect: Vector[Gen.DayExpect] = Vector.empty
  private var conn: Connection = _
  private val records = ArrayBuffer.empty[String]

  def opsPerIteration: Int = 2
  def writeSpans: Seq[String] = Seq("pipelines.backfill_day")

  def setup(): Unit = {
    expect = Gen.tweets(new File(in), ctx.seed, days, FilesPerDay, LinesPerFile)
    conn = DriverManager.getConnection(s"$DbUrl;create=true")
    JdbcSink.run(conn, Seq(SqlSink.createTableSql("tweets_sentiment", DailyPipeline.SummarySchema,
      primaryKey = Some("tweets_sentiment_id"), ifNotExists = false, varcharWidth = 4096)))
  }

  def iteration(i: Int): Int = {
    val date = days(i % Days)
    val key = s"$date(en)"
    val outcome = ctx.trace.span("pipelines.backfill_day") {
      Backfill.run(spark, in, out, date, date).head
    }
    val gate = ctx.trace.span("sources.warehouse_load") {
      JdbcSink.run(conn, Seq(s"""DELETE FROM tweets_sentiment WHERE "tweets_sentiment_id" = '$key'"""))
      val staged = spark.read.schema(DailyPipeline.SummarySchema).json(s"$out/tweets-sentiment/$date.jsonl")
      JdbcSink.load(staged, "tweets_sentiment", connect)
      JdbcSink.rowCountGate(conn, "tweets_sentiment", "date", Timestamp.valueOf(date.atStartOfDay))
    }
    records += Json.obj(
      "iteration" -> i, "date" -> date.toString, "ok" -> outcome.ok, "attempts" -> outcome.attempts,
      "summary_rows" -> outcome.summaryRows, "corrupt_lines" -> outcome.corruptLines,
      "quarantine" -> outcome.quarantinePath.orNull, "error" -> outcome.error.orNull,
      "gate_rows" -> gate)
    if (outcome.ok) 0 else 1
  }

  def finish(): Unit = {
    // the warehouse as the checker sees it: every row, read over plain JDBC
    val st = conn.createStatement()
    val rs = st.executeQuery(
      """SELECT "tweets_sentiment_id", "positive_count", "negative_count", "na_count" FROM tweets_sentiment""")
    val rows = ArrayBuffer.empty[String]
    while (rs.next())
      rows += Json.obj("id" -> rs.getString(1), "positive" -> rs.getInt(2),
        "negative" -> rs.getInt(3), "na" -> rs.getInt(4))
    rs.close(); st.close(); conn.close()
    ctx.writeJson("check.json", Json.obj(
      "workload" -> "daily_backfill",
      "staged_root" -> s"$out/tweets-sentiment",
      "lines_per_day" -> FilesPerDay * LinesPerFile,
      "expected" -> expect.map(e => Map(
        "date" -> e.date, "positive" -> e.positive, "negative" -> e.negative, "na" -> e.na,
        "non_en" -> e.nonEn, "retweets" -> e.retweets, "corrupt" -> e.corrupt)),
      "warehouse" -> RawJson(rows.mkString("[", ",", "]")),
      "outcomes" -> RawJson(records.mkString("[", ",", "]"))))
  }
}

object DailyBackfill {
  val Days = 4
  val FilesPerDay = 4
  val LinesPerFile = 25000
  val DbUrl = "jdbc:derby:memory:perfbench_wh"
  /** Runs on executors: opens its own connection per partition. */
  val connect: () => Connection = () => DriverManager.getConnection(DbUrl)
}

/** A pre-rendered JSON fragment inside a [[Json]] record. */
final case class RawJson(json: String) {
  override def toString: String = json
}

// ------------------------------------------------------------------ index

/** Index maintenance: each iteration starts from the same base state and
  * appends the same two small batches into one IVF-PQ and one BM25 index:
  * batch 0 through the stream producer (`growBatch`, namespace `mb`), then
  * batch 1 through the day producer (`appendBatch`, namespace `day`). Then
  * it probes the grown indexes: one batched IVF-PQ probe and each of the
  * BM25 queries once. Every iteration makes the same calls.
  */
final class IndexGrow(ctx: Ctx) extends Workload {
  import IndexGrow._
  private val spark = ctx.spark
  private val annBase = ctx.path("ann_base")
  private val bm25Base = ctx.path("bm25_base")
  private val annDir = ctx.path("ann")
  private val bm25Dir = ctx.path("bm25")
  private var vecBatches: IndexedSeq[DataFrame] = _
  private var docBatches: IndexedSeq[DataFrame] = _
  private var allVecs: DataFrame = _
  private var queryVecs: DataFrame = _
  private var queryTerms: IndexedSeq[Vector[String]] = _
  private val annResults = ArrayBuffer.empty[Seq[(Long, Int, Long)]]
  private val bm25Results = ArrayBuffer.empty[Seq[Seq[(Long, Double, Int)]]]
  private val applied = ArrayBuffer.empty[Seq[Long]]
  private var offered = 0L
  private var appliedRows = 0L
  private val dataFiles = ArrayBuffer.empty[Double]
  private val protocolFiles = ArrayBuffer.empty[Double]

  def opsPerIteration: Int = 5 + Queries
  def writeSpans: Seq[String] = Seq(
    "streaming.ann_grow", "operators.pq_append", "streaming.bm25_grow", "operators.bm25_append")

  private val vecSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false))))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType)))

  def setup(): Unit = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 15485863L + 7L)
    val centres = Gen.centres(rnd, 24, Dim)
    def vecDf(ids: Seq[Long], v: Array[Array[Float]]): DataFrame =
      spark.createDataFrame(ids.indices.map(i => Row(ids(i), v(i).toSeq)).asJava, vecSchema)
    def docDf(ids: Seq[Long], t: Array[String]): DataFrame =
      spark.createDataFrame(ids.indices.map(i => Row(ids(i), t(i), "en")).asJava, docSchema)
    val baseIds = (0L until BaseRows.toLong)
    val baseVecs = Gen.vectors(rnd, centres, BaseRows)
    val baseDocs = Gen.bm25Docs(rnd, BaseRows)
    val batchIds = (0 until Batches).map(b =>
      (0 until BatchRows).map(j => BaseRows.toLong + b.toLong * BatchRows + j))
    val bVecs = batchIds.map(ids => Gen.vectors(rnd, centres, ids.size))
    val bDocs = batchIds.map(ids => Gen.bm25Docs(rnd, ids.size))
    val qIds = (0 until AnnQueries).map(q => QueryIdBase + q)
    val qVecs = Gen.vectors(rnd, centres, AnnQueries)
    queryTerms = (0 until Queries).map(_ => Gen.bm25Query(rnd))

    // the inputs as the checkers read them; the program receives
    // in-memory DataFrames
    val allIds = baseIds ++ batchIds.flatten
    val allVecArr = baseVecs ++ bVecs.flatten
    val lines = ArrayBuffer.empty[String]
    def record(kind: String, ids: Seq[Long], xs: Seq[Any]): Unit =
      ids.indices.foreach(i => lines += Json.obj("kind" -> kind, "id" -> ids(i), "value" -> xs(i)))
    record("vector", allIds, allVecArr.toSeq)
    record("doc", allIds, (baseDocs ++ bDocs.flatten).toSeq)
    record("query", qIds.map(_.toLong), qVecs.toSeq)
    Files.write(new File(ctx.path("inputs.jsonl")).toPath, lines.asJava)
    allVecs = vecDf(allIds, allVecArr)
    queryVecs = vecDf(qIds.map(_.toLong), qVecs)
    vecBatches = batchIds.indices.map(b => vecDf(batchIds(b), bVecs(b)))
    docBatches = batchIds.indices.map(b => docDf(batchIds(b), bDocs(b)))

    // the base state every iteration starts from: day batch 0 builds both
    require(Pq.appendBatch(spark, vecDf(baseIds, baseVecs), "id", "vec", annBase, 0L,
      Nlist, M, K) == BaseRows, "IVF-PQ base build")
    require(Bm25.appendBatch(spark, docDf(baseIds, baseDocs), bm25Base, 0L, Buckets) == BaseRows,
      "BM25 base build")
  }

  def iteration(i: Int): Int = {
    copyTree(annBase, annDir)
    copyTree(bm25Base, bm25Dir)
    var failed = 0
    val got = ArrayBuffer.empty[Long]
    def grow(span: String, dir: String)(call: => Long): Unit = {
      val before = if (ctx.trace.enabled) listing(dir) else Map.empty[String, Long]
      val n = ctx.trace.span(span)(call)
      if (ctx.trace.enabled) {
        val after = listing(dir)
        val changed = (after.keySet ++ before.keySet).filter(k => after.get(k) != before.get(k))
        val (data, protocol) = changed.partition(isDataFile)
        dataFiles += data.size; protocolFiles += protocol.size
      }
      got += n
      offered += BatchRows
      if (n == BatchRows) appliedRows += n else failed += 1
    }
    grow("streaming.ann_grow", annDir)(StreamAnnGrow.growBatch(
      spark, vecBatches(0), "id", "vec", annDir, 1L, Nlist, M, K))
    grow("operators.pq_append", annDir)(Pq.appendBatch(
      spark, vecBatches(1), "id", "vec", annDir, 1L, Nlist, M, K))
    grow("streaming.bm25_grow", bm25Dir)(StreamBm25Grow.growBatch(
      spark, docBatches(0), bm25Dir, 1L, Buckets))
    grow("operators.bm25_append", bm25Dir)(Bm25.appendBatch(
      spark, docBatches(1), bm25Dir, 1L, Buckets))
    val ann = ctx.trace.span("operators.ann_probe") {
      val idx = Pq.readIndex(spark, annDir)
      Pq.ivfTopKIndexed(idx, allVecs, queryVecs, "id", "vec", TopK).collect()
    }
    val bm = queryTerms.map { terms =>
      ctx.trace.span("operators.bm25_probe") {
        Bm25.retrieveIndexed(Bm25.readIndex(spark, bm25Dir), spark, terms, TopK).collect()
      }
    }
    applied += got.toSeq
    annResults += ann.toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    bm25Results += bm.map(_.toSeq.map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._3))
    failed
  }

  def finish(): Unit =
    ctx.writeJson("check.json", Json.obj(
      "workload" -> "index_grow",
      "inputs" -> ctx.path("inputs.jsonl"),
      "ann_index" -> annDir, "bm25_index" -> bm25Dir,
      "batch_rows" -> BatchRows, "top_k" -> TopK, "k1" -> 1.2, "b" -> 0.75,
      "query_terms" -> queryTerms,
      "applied" -> applied,
      "ann" -> annResults.map(_.map { case (q, r, n) => Seq(q, r, n) }),
      "bm25" -> bm25Results.map(_.map(_.map { case (d, s, r) => Seq(d, s, r) }))))

  override def layerExtras: Map[String, Double] = Map(
    "streaming.grow_applied_ratio" -> (if (offered == 0) 0.0 else appliedRows.toDouble / offered),
    "sources.files_per_batch" -> mean(dataFiles),
    "streaming.commit_files_per_batch" -> mean(protocolFiles))

  private def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Data files: not under an `_`-prefixed protocol directory, not hidden. */
  private def isDataFile(rel: String): Boolean =
    !rel.split('/').exists(p => p.startsWith("_") || p.startsWith("."))

  /** Relative path → modification time of every file under `dir`. */
  private def listing(dir: String): Map[String, Long] = {
    val root = new File(dir).toPath
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
    finally s.close()
  }

  private def copyTree(from: String, to: String): Unit = {
    deleteTree(new File(to).toPath)
    val src = new File(from).toPath
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = new File(to).toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}

object IndexGrow {
  val Dim = 32
  val BaseRows = 5000
  /** Batch 0 goes through the stream producer, batch 1 through the day one. */
  val Batches = 2
  val BatchRows = 500
  val AnnQueries = 32
  /** BM25 queries, each probed once per iteration. */
  val Queries = 2
  val TopK = 10
  val Nlist = 32
  val M = 8
  val K = 16
  val Buckets = 64
  val QueryIdBase = 10000000L
}
