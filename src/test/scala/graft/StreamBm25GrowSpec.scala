package graft

import graft.operators.Bm25
import graft.streaming.StreamBm25Grow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

/** The posting index's live producer leg (r15 verdict #1): micro-batches
  * grow the same q82b artifact the nightly DAG grows, with
  * Bm25.appendBatch's marker/claim/self-heal semantics under the `mb`
  * namespace. BM25 appends are EXACT (stateless posting rows,
  * probe-time df), so the headline assertion is bit-identical probes vs
  * a one-shot batch build of the union corpus — not a recall gate.
  */
class StreamBm25GrowSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "alpha bravo charlie words words", "en"),
    (1L, "charlie delta echo foxtrot", "en"),
    (2L, "alpha golf hotel india alpha", "en"),
    (3L, "bravo bravo juliet kilo", "de"),
    (4L, "alpha charlie lima mike", "en"),
    (5L, "november oscar papa charlie", "en"))

  private def docsDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "text", "lang")

  private def probe(idx: Bm25.Bm25Index) =
    Bm25.retrieveIndexed(idx, spark, terms = Seq("alpha", "charlie", "bravo"), k = 6)
      .as[(String, Long, Double, Int)].collect().toSet

  test("live micro-batches grow the index exactly: probes bit-identical to a one-shot union build; checkpoint replay no-ops") {
    val indexDir = Files.createTempDirectory("sbg_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("sbg_ckpt").toString

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    var batches = Vector.empty[(Long, Long)]
    val q = StreamBm25Grow.start(
      input.toDF().toDF("doc_id", "text", "lang"), indexDir, ckpt,
      buckets = 8, onBatch = (id, n) => batches :+= (id, n))
    try {
      input.addData(corpus(0), corpus(1), corpus(2)) // batch 0 BUILDS
      q.processAllAvailable()
      input.addData(corpus(3), corpus(4))            // batch 1 appends
      q.processAllAvailable()
      input.addData(corpus(5))                       // batch 2 appends
      q.processAllAvailable()
    } finally q.stop()
    assert(batches == Vector((0L, 3L), (1L, 2L), (2L, 1L)),
      s"applied counts per micro-batch: $batches")

    // the stream-grown index probes BIT-IDENTICAL to a one-shot build
    // of the union corpus (appendToIndex's exactness contract)
    val oneShot = Bm25.writeIndex(
      docsDf(corpus), Files.createTempDirectory("sbg_ref").toString + "/idx",
      buckets = 8)
    val grown = Bm25.readIndex(spark, indexDir)
    assert(grown.n == 6L && grown.n == oneShot.n && grown.tt == oneShot.tt)
    assert(probe(grown) == probe(oneShot) && probe(grown).nonEmpty)

    // replay (the checkpoint-retry path, driven directly): no-op, index
    // files untouched
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = graft.streaming.Markers.dataFileManifest(fs, indexDir)
    assert(StreamBm25Grow.growBatch(
      spark, docsDf(Seq(corpus(3), corpus(4))), indexDir, 1L, buckets = 8) == -1L)
    assert(graft.streaming.Markers.dataFileManifest(fs, indexDir) == before)
    assert(StreamBm25Grow.batchApplied(spark, indexDir, 1L))
    assert(!StreamBm25Grow.batchApplied(spark, indexDir, 9L))
  }

  test("colliding mb/day counters: a DAG day id equal to a stream micro-batch id still applies (namespaced markers, both directions)") {
    val indexDir = Files.createTempDirectory("sbg_ns").toString + "/idx"
    // stream claims mb-7
    assert(StreamBm25Grow.growBatch(
      spark, docsDf(corpus.take(2)), indexDir, 7L, buckets = 8) == 2L)
    // the DAG's day 7 must NOT be shadowed by mb-7
    assert(Bm25.appendBatch(
      spark, docsDf(Seq(corpus(2), corpus(3))), indexDir, 7L, buckets = 8) == 2L)
    // and a stream micro-batch colliding with an applied DAY id applies
    assert(Bm25.appendBatch(
      spark, docsDf(Seq(corpus(4))), indexDir, 8L, buckets = 8) == 1L)
    assert(StreamBm25Grow.growBatch(
      spark, docsDf(Seq(corpus(5))), indexDir, 8L, buckets = 8) == 1L)
    val grown = Bm25.readIndex(spark, indexDir)
    assert(grown.n == 6L)
    // each producer's own replays still no-op
    assert(StreamBm25Grow.growBatch(
      spark, docsDf(corpus.take(2)), indexDir, 7L, buckets = 8) == -1L)
    assert(Bm25.appendBatch(
      spark, docsDf(Seq(corpus(2))), indexDir, 7L, buckets = 8) == -1L)
  }

  test("a crashed micro-batch retried by the checkpoint self-heals only with manifest proof; a claim with data landed reads red") {
    val indexDir = Files.createTempDirectory("sbg_heal").toString + "/idx"
    assert(StreamBm25Grow.growBatch(
      spark, docsDf(corpus.take(3)), indexDir, 0L, buckets = 8) == 3L)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // crashed attempt: empty mb-1 claim + .pre manifest matching disk —
    // provably nothing landed, so the retry applies
    val marker = new org.apache.hadoop.fs.Path(s"$indexDir/_batches/mb-1")
    val pre = new org.apache.hadoop.fs.Path(s"$indexDir/_batches/mb-1.pre")
    val o1 = fs.create(pre, true)
    o1.write(graft.streaming.Markers.dataFileManifest(fs, indexDir).getBytes("UTF-8"))
    o1.close()
    fs.create(marker, true).close()
    assert(!StreamBm25Grow.batchApplied(spark, indexDir, 1L),
      "an empty claim must not read as applied")
    assert(StreamBm25Grow.growBatch(
      spark, docsDf(Seq(corpus(3))), indexDir, 1L, buckets = 8) == 1L)
    assert(StreamBm25Grow.batchApplied(spark, indexDir, 1L))

    // crashed attempt where data DID land (manifest moved): stays red
    val o2 = fs.create(new org.apache.hadoop.fs.Path(s"$indexDir/_batches/mb-2.pre"), true)
    o2.write("not the current manifest".getBytes("UTF-8")); o2.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$indexDir/_batches/mb-2"), true).close()
    assert(StreamBm25Grow.growBatch(
      spark, docsDf(Seq(corpus(4))), indexDir, 2L, buckets = 8) == -1L)
    assert(!StreamBm25Grow.batchApplied(spark, indexDir, 2L))
  }

  test("concurrent stream and DAG APPENDS on an existing index: the mutation lease serializes the _stats read-modify-write — no lost update") {
    val indexDir = Files.createTempDirectory("sbg_app").toString + "/idx"
    // day-one build, serial
    assert(Bm25.appendBatch(
      spark, docsDf(corpus.take(2)), indexDir, 0L, buckets = 8) == 2L)
    val s2 = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val stream = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = StreamBm25Grow.growBatch(
          spark, docsDf(Seq(corpus(2), corpus(3))), indexDir, 1L, buckets = 8)
      })
      val day = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val sq = s2
          import sq.implicits._
          Bm25.appendBatch(s2,
            Seq(corpus(4), corpus(5)).toDF("doc_id", "text", "lang"),
            indexDir, 50L, buckets = 8)
        }
      })
      assert(stream.get(120, java.util.concurrent.TimeUnit.SECONDS) == 2L)
      assert(day.get(120, java.util.concurrent.TimeUnit.SECONDS) == 2L)
    } finally pool.shutdownNow()
    // the lost-update failure mode: an unleased concurrent append reads
    // stale (n, tt) and overwrites the other's delta — n would be 4
    val grown = Bm25.readIndex(spark, indexDir)
    assert(grown.n == 6L, s"_stats lost an append's delta: n=${grown.n}")
    val oneShot = Bm25.writeIndex(
      docsDf(corpus), Files.createTempDirectory("sbg_app_ref").toString + "/idx",
      buckets = 8)
    assert(grown.tt == oneShot.tt && probe(grown) == probe(oneShot))
  }

  test("stream and DAG racing the EMPTY index: the day-one build lease serializes — one builds, the loser appends, union content") {
    val indexDir = Files.createTempDirectory("sbg_race").toString + "/idx"
    val s2 = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val stream = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = StreamBm25Grow.growBatch(
          spark, docsDf(corpus.take(3)), indexDir, 0L, buckets = 8)
      })
      val day = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val sq = s2
          import sq.implicits._
          Bm25.appendBatch(s2,
            corpus.drop(3).toDF("doc_id", "text", "lang"),
            indexDir, 100L, buckets = 8)
        }
      })
      val (a, b) = (stream.get(120, java.util.concurrent.TimeUnit.SECONDS),
        day.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(a == 3L && b == 3L, s"both producers must apply: $a, $b")
    } finally pool.shutdownNow()
    // no double-build: the index holds exactly the union once
    val grown = Bm25.readIndex(spark, indexDir)
    assert(grown.n == 6L, s"union corpus must land exactly once, n=${grown.n}")
    val oneShot = Bm25.writeIndex(
      docsDf(corpus), Files.createTempDirectory("sbg_race_ref").toString + "/idx",
      buckets = 8)
    assert(probe(grown) == probe(oneShot))
    assert(StreamBm25Grow.batchApplied(spark, indexDir, 0L))
    assert(Bm25.appendBatchApplied(spark, indexDir, 100L))
  }
}
