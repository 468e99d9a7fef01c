package graft

import graft.operators.Pq
import graft.streaming.{Markers, StreamAnnGrow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The ANN index's live producer leg (r15 verdict #1): embedding
  * micro-batches grow the same q107b/q107c artifact the nightly DAG
  * grows, under Pq.appendBatch's marker protocol in the `mb` namespace.
  * The headline assertion is the appendToIndex contract made live: the
  * stream-grown index's (id, cell, codes) content equals a one-shot
  * encode of the union corpus under the SAME frozen model + centroids.
  */
class StreamAnnGrowSpec extends SparkTestBase {
  import spark.implicits._

  private def vec(i: Int): Array[Float] =
    Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)

  private def embDf(ids: Seq[Int]) =
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private def contentRows(path: String): Set[(Long, Int, Seq[Int])] =
    spark.read.parquet(path)
      .select(col("id"), col("cell").cast("int"), col("codes"))
      .as[(Long, Int, Seq[Int])].collect().toSet

  test("live micro-batches grow the index: batch 0 builds, later batches append; content equals a one-shot encode of the union under the frozen model; replay no-ops") {
    val indexDir = Files.createTempDirectory("sag_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("sag_ckpt").toString

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    var batches = Vector.empty[(Long, Long)]
    val q = StreamAnnGrow.start(
      input.toDF().select(col("value").cast("long").as("vec_id"))
        .withColumn("embedding", expr(
          // the vec(i) formula as a pure expression: a udf here would
          // close over the spec class (not serializable)
          "transform(sequence(0, 7), d -> cast((vec_id * 31 + d * 7) % 13 - 6 as float))")),
      "vec_id", "embedding", indexDir, ckpt,
      nlist = 4, m = 4, k = 8, onBatch = (id, n) => batches :+= (id, n))
    try {
      input.addData(0 until 16: _*)   // batch 0 BUILDS (train + writeIndex)
      q.processAllAvailable()
      input.addData(16 until 24: _*)  // batch 1 appends under the frozen model
      q.processAllAvailable()
      input.addData(24 until 28: _*)  // batch 2 appends
      q.processAllAvailable()
    } finally q.stop()
    assert(batches == Vector((0L, 16L), (1L, 8L), (2L, 4L)),
      s"applied counts per micro-batch: $batches")

    // content contract: grown index rows == one-shot indexRows of the
    // union corpus under the index's OWN frozen model + centroids
    val idx = Pq.readIndex(spark, indexDir)
    val expected = Pq.indexRows(embDf(0 until 28), "vec_id", "embedding",
      idx.model, idx.centroids)
      .select(col("id"), col("cell").cast("int"), col("codes"))
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(contentRows(indexDir) == expected && expected.size == 28)

    // the grown index probes (the q107b serving path stays live mid-grow)
    val res = Pq.ivfTopKIndexed(idx, embDf(0 until 28),
      embDf(Seq(5)), "vec_id", "embedding", 3, nprobe = 4, refine = 32)
    assert(res.count() == 3)

    // checkpoint replay, driven directly: no-op, files untouched
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = Markers.dataFileManifest(fs, indexDir)
    assert(StreamAnnGrow.growBatch(spark, embDf(16 until 24),
      "vec_id", "embedding", indexDir, 1L, nlist = 4, m = 4, k = 8) == -1L)
    assert(Markers.dataFileManifest(fs, indexDir) == before)
    assert(StreamAnnGrow.batchApplied(spark, indexDir, 1L))
    assert(!StreamAnnGrow.batchApplied(spark, indexDir, 9L))
  }

  test("colliding mb/day counters: DAG day ids and stream micro-batch ids never shadow each other; each producer's replay no-ops") {
    val indexDir = Files.createTempDirectory("sag_ns").toString + "/idx"
    // stream claims mb-3 (this builds — first touch)
    assert(StreamAnnGrow.growBatch(spark, embDf(0 until 12),
      "vec_id", "embedding", indexDir, 3L, nlist = 4, m = 4, k = 8) == 12L)
    // the DAG's day 3 is not shadowed by mb-3
    assert(Pq.appendBatch(spark, embDf(12 until 18),
      "vec_id", "embedding", indexDir, 3L, nlist = 4, m = 4, k = 8) == 6L)
    // a stream id colliding with an applied DAY id applies
    assert(Pq.appendBatch(spark, embDf(18 until 20),
      "vec_id", "embedding", indexDir, 4L, nlist = 4, m = 4, k = 8) == 2L)
    assert(StreamAnnGrow.growBatch(spark, embDf(20 until 22),
      "vec_id", "embedding", indexDir, 4L, nlist = 4, m = 4, k = 8) == 2L)
    assert(contentRows(indexDir).size == 22)
    // each producer's own replay no-ops
    assert(StreamAnnGrow.growBatch(spark, embDf(0 until 12),
      "vec_id", "embedding", indexDir, 3L, nlist = 4, m = 4, k = 8) == -1L)
    assert(Pq.appendBatch(spark, embDf(12 until 18),
      "vec_id", "embedding", indexDir, 3L, nlist = 4, m = 4, k = 8) == -1L)
  }

  test("stream and DAG racing the EMPTY index: the day-one lease serializes — one builds, the loser appends onto the winner's index") {
    val indexDir = Files.createTempDirectory("sag_race").toString + "/idx"
    val s2 = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val stream = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = StreamAnnGrow.growBatch(spark, embDf(0 until 10),
          "vec_id", "embedding", indexDir, 0L, nlist = 4, m = 4, k = 8)
      })
      val day = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val sq = s2
          import sq.implicits._
          Pq.appendBatch(s2,
            (10 until 20).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
            "vec_id", "embedding", indexDir, 200L, nlist = 4, m = 4, k = 8)
        }
      })
      val (a, b) = (stream.get(180, java.util.concurrent.TimeUnit.SECONDS),
        day.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(a == 10L && b == 10L, s"both producers must apply: $a, $b")
    } finally pool.shutdownNow()
    // exactly-once: the union landed once, under ONE frozen model
    val rows = contentRows(indexDir)
    assert(rows.size == 20, s"expected 20 rows exactly once, saw ${rows.size}")
    assert(rows.map(_._1) == (0 until 20).map(_.toLong).toSet)
    assert(StreamAnnGrow.batchApplied(spark, indexDir, 0L))
    assert(Pq.appendBatchApplied(spark, indexDir, 200L))
  }
}
