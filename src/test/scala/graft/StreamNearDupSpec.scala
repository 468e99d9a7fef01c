package graft

import graft.streaming.StreamNearDup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

class StreamNearDupSpec extends SparkTestBase {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog today"
  private val docB = "completely different words forming unique content here for testing"
  private val docC = "fresh unseen material with no overlap at all anywhere else"

  test("stream near-dup: dedup within batch, across batches via index, marker idempotency") {
    val indexDir = Files.createTempDirectory("snd_idx").toString
    val outDir = Files.createTempDirectory("snd_out").toString
    val ckpt = Files.createTempDirectory("snd_ckpt").toString

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    var batches = Vector.empty[(Long, Long)]
    val q = StreamNearDup.start(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexDir, outDir, ckpt, onBatch = (id, n) => batches :+= (id, n))
    try {
      // batch: A, copy-of-A (within-batch drop), B
      input.addData((1L, docA), (2L, docA), (3L, docB))
      q.processAllAvailable()
      // next batch: copy-of-A (drops via the PERSISTED index), C (new)
      input.addData((4L, docA), (5L, docC))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(outDir).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
    assert(batches.map(_._2) == Vector(2L, 1L))

    // the index carries exactly the survivors
    assert(spark.read.parquet(s"$indexDir/shingles").select("id")
      .as[Long].collect().toSet == Set(1L, 3L, 5L))

    // checkpoint-replay semantics: re-applying a committed batch is a no-op
    val replay = Seq((1L, docA), (2L, docA), (3L, docB)).toDF("doc_id", "text")
    val rc = StreamNearDup.applyBatch(
      spark, replay, "doc_id", "text", indexDir, outDir, batchId = 0L)
    assert(rc == -1L)
    assert(spark.read.parquet(outDir).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 3L, 5L))

    // and a RETRIED uncommitted batch (marker missing, index already has
    // older batches) converges: new batch id, all near-dups of index drop
    val retry = Seq((6L, docB), (7L, "totally novel sentence nothing shares")).toDF("doc_id", "text")
    assert(StreamNearDup.applyBatch(
      spark, retry, "doc_id", "text", indexDir, outDir, batchId = 7L) == 1L)
    assert(StreamNearDup.applyBatch(
      spark, retry, "doc_id", "text", indexDir, outDir, batchId = 7L) == -1L)
    assert(spark.read.parquet(outDir).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 3L, 5L, 7L))
  }

  test("producer namespaces: a stream counter colliding with an epoch day — both apply, neither no-ops") {
    val indexDir = Files.createTempDirectory("snd_ns_idx").toString
    val streamOut = Files.createTempDirectory("snd_ns_sout").toString
    val dayOut = Files.createTempDirectory("snd_ns_dout").toString

    // the live stream's micro-batch counter reaches 18750 — numerically
    // equal to an epoch day (2021-05-03 = 18750): pre-r14, one shared
    // namespace made whichever producer ran second silently no-op
    val id = 18750L
    val b1 = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    assert(StreamNearDup.applyBatch(
      spark, b1, "doc_id", "text", indexDir, streamOut, batchId = id) == 2L)

    // the DAG's day with the SAME numeric id still applies (day namespace)
    val b2 = Seq((10L, docC), (11L, docA)).toDF("doc_id", "text")
    assert(StreamNearDup.applyBatch(
      spark, b2, "doc_id", "text", indexDir, dayOut, batchId = id,
      namespace = StreamNearDup.DayNamespace) == 1L,
      "the day must apply (and dedup 11 against the stream-grown index)")

    // each producer's replay is still a no-op in its OWN namespace
    assert(StreamNearDup.applyBatch(
      spark, b1, "doc_id", "text", indexDir, streamOut, batchId = id) == -1L)
    assert(StreamNearDup.applyBatch(
      spark, b2, "doc_id", "text", indexDir, dayOut, batchId = id,
      namespace = StreamNearDup.DayNamespace) == -1L)

    // the index holds both producers' survivors exactly once
    assert(spark.read.parquet(s"$indexDir/shingles").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 10L))
    assert(new java.io.File(s"$indexDir/_batches/mb-$id").exists())
    assert(new java.io.File(s"$indexDir/_batches/day-$id").exists())
  }

  test("layout stamp: a producer under a different shingle n fails loudly, never silently mismatches keys") {
    val indexDir = Files.createTempDirectory("snd_conf_idx").toString
    val outDir = Files.createTempDirectory("snd_conf_out").toString
    val day = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    assert(StreamNearDup.applyBatch(
      spark, day, "doc_id", "text", indexDir, outDir, batchId = 1L) == 2L)
    // day 2 configured with n=5: its band keys and shingle hashes are a
    // different function — appending them would make future probes miss
    val err = intercept[IllegalStateException] {
      StreamNearDup.applyBatch(
        spark, day, "doc_id", "text", indexDir, outDir, batchId = 2L, n = 5)
    }
    assert(err.getMessage.contains("n: index=3 caller=5"))
    // index unchanged by the refused batch; the right n still proceeds
    assert(spark.read.parquet(s"$indexDir/shingles").select("id")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(StreamNearDup.applyBatch(
      spark, Seq((3L, docC)).toDF("doc_id", "text"),
      "doc_id", "text", indexDir, outDir, batchId = 2L) == 1L)
  }

  test("layout stamp migration: a pre-stamp index is stamped on first touch with the caller's n") {
    val indexDir = Files.createTempDirectory("snd_legacy_idx").toString
    val outDir = Files.createTempDirectory("snd_legacy_out").toString
    val day = Seq((1L, docA)).toDF("doc_id", "text")
    assert(StreamNearDup.applyBatch(
      spark, day, "doc_id", "text", indexDir, outDir, batchId = 1L) == 1L)
    // simulate a pre-upgrade index: data present, no stamp
    new java.io.File(s"$indexDir/${graft.sources.IndexConf.ConfFile}").delete()
    assert(graft.sources.IndexConf.read(spark, indexDir).isEmpty)
    assert(StreamNearDup.applyBatch(
      spark, Seq((2L, docB)).toDF("doc_id", "text"),
      "doc_id", "text", indexDir, outDir, batchId = 2L) == 1L)
    assert(graft.sources.IndexConf.read(spark, indexDir)
      .exists(_("n") == "3"), "first post-upgrade touch stamps")
  }
}
