package graft

import graft.operators.Multimodal
import graft.streaming.StreamFingerprint
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

/** The fingerprint family's live half: media near-dups caught against the
  * persisted band-key index micro-batch by micro-batch (r10 verdict #6),
  * with StreamNearDup's marker/overwrite replay semantics.
  */
class StreamFingerprintSpec extends SparkTestBase {
  import spark.implicits._

  // the MultimodalSpec image regime: a one-char edit keeps the decoded
  // raster's dHash inside the h=4 ball, while the stride patterns below
  // are ProbePhashDist-verified mutually > 4 bits from the base and from
  // each other — distinct images the stream must NOT conflate
  private val base = ("the quick brown fox jumps over the lazy dog " * 6).trim
  private val edited = base.updated(10, 'Q')
  private val edited2 = base.updated(20, 'Z')
  private def pat(a: Int, b: Int) =
    (0 until base.length).map(i => ('a' + (i * a + b) % 26).toChar).mkString
  private val imgA = pat(7, 3)   // ham to base 12
  private val imgB = pat(13, 7)  // ham: base 8, imgA 10
  private val imgC = pat(3, 11)  // ham: base 11, imgA 7, imgB 7

  test("stream image near-dup: within-batch drop, cross-batch via the persisted key index, replay no-op") {
    val indexDir = Files.createTempDirectory("sfp_idx").toString
    val outDir = Files.createTempDirectory("sfp_out").toString
    val ckpt = Files.createTempDirectory("sfp_ckpt").toString

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    var batches = Vector.empty[(Long, Long)]
    val q = StreamFingerprint.start(
      input.toDF().toDF("doc_id", "text"), "doc_id",
      Multimodal.imagePhash, indexDir, outDir, ckpt,
      onBatch = (id, n) => batches :+= (id, n))
    try {
      // batch 0: base, a one-char edit of base (within-batch near-dup:
      // different bytes, close fingerprint), and an unrelated image
      input.addData((1L, base), (2L, edited), (3L, imgA))
      q.processAllAvailable()
      // batch 1: ANOTHER edit of base — only near the batch-0 survivor
      // through the PERSISTED index (its own batch has nothing close) —
      // plus a genuinely new image
      input.addData((4L, edited2), (5L, imgB))
      q.processAllAvailable()
    } finally q.stop()

    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L, 5L))
    assert(batches.map(_._2) == Vector(2L, 1L))

    // the index holds exactly the survivors' band keys (9 keys/doc at
    // h=4), fingerprints only — never pixels
    val keys = spark.read.parquet(s"$indexDir/keys")
    assert(keys.select("id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    assert(keys.count() == 3 * 9)
    assert(keys.columns.toSet == Set("id", "ph", "bk"))

    // checkpoint-replay: a committed batch id is a no-op, survivors stay
    val replay = Seq((1L, base), (2L, edited), (3L, imgA)).toDF("doc_id", "text")
    assert(StreamFingerprint.applyBatch(
      spark, replay, "doc_id", Multimodal.imagePhash,
      indexDir, outDir, batchId = 0L) == -1L)
    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L, 5L))

    // a RETRIED uncommitted batch converges: first apply drops the
    // index-dup and keeps the novelty, the re-apply is a marker no-op
    val retry = Seq((6L, base), (7L, imgC)).toDF("doc_id", "text")
    assert(StreamFingerprint.applyBatch(
      spark, retry, "doc_id", Multimodal.imagePhash,
      indexDir, outDir, batchId = 9L) == 1L)
    assert(StreamFingerprint.applyBatch(
      spark, retry, "doc_id", Multimodal.imagePhash,
      indexDir, outDir, batchId = 9L) == -1L)
    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L, 5L, 7L))

    // stream == batch: every doc the stream dropped is near (<= h) some
    // smaller-id survivor under the nightly job's own pair query
    val all = Seq((1L, base), (2L, edited), (3L, imgA), (4L, edited2),
      (5L, imgB), (6L, base), (7L, imgC))
      .toDF("doc_id", "text")
    val pairs = Multimodal.imagePhashPairs(all, maxHamming = 4)
      .as[(Long, Long, Int)].collect()
    val survivors = Set(1L, 3L, 5L, 7L)
    for (dropped <- Set(2L, 4L, 6L))
      assert(pairs.exists(p => p._2 == dropped && survivors(p._1)),
        s"stream dropped $dropped but the batch job sees no surviving partner")
  }

  test("growBatch heals an interrupted compaction swap before appending (no silent index loss)") {
    val indexDir = Files.createTempDirectory("sfp_heal_idx").toString
    val outDir = Files.createTempDirectory("sfp_heal_out").toString

    // two days of history in the index
    assert(StreamFingerprint.growBatch(
      spark, Seq((1L, base), (2L, imgA)).toDF("doc_id", "text"),
      "doc_id", Multimodal.imagePhash, indexDir, batchId = 100L) == 2 * 9L)
    assert(StreamFingerprint.growBatch(
      spark, Seq((3L, imgB)).toDF("doc_id", "text"),
      "doc_id", Multimodal.imagePhash, indexDir, batchId = 101L) == 9L)

    // simulate compact_media_index crashing BETWEEN its two renames: the
    // live keys dir is ABSENT, the full index is sealed in the stage, and
    // the moved-aside copy still exists (r13 ADVICE, high: growBatch
    // appending here without a heal recreated keys/ with only the new
    // day — and the next writer-mode heal then discarded BOTH the sealed
    // stage and the .old copy, losing the entire historical index)
    val keys = new java.io.File(s"$indexDir/keys")
    val staged = new java.io.File(s"$indexDir/keys.compact.staged")
    val old = new java.io.File(s"$indexDir/keys.compact.old")
    def cpTree(src: java.io.File, dst: java.io.File): Unit = {
      org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    }
    cpTree(keys, staged)
    cpTree(keys, old)
    new java.io.File(staged, "_swap_ready").createNewFile()
    org.apache.commons.io.FileUtils.deleteDirectory(keys)

    // the next nightly grow must first COMPLETE the sealed swap, then
    // append — all three days present afterwards
    assert(StreamFingerprint.growBatch(
      spark, Seq((4L, imgC)).toDF("doc_id", "text"),
      "doc_id", Multimodal.imagePhash, indexDir, batchId = 102L) == 9L)
    assert(spark.read.parquet(s"$indexDir/keys").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L),
      "heal must restore the sealed history before the append")

    // and the following writer pass (the nightly compactFlat) keeps every
    // key — the pre-fix sequence lost days 100-101 exactly here
    graft.sources.Compaction.compactFlat(
      spark, s"$indexDir/keys", maxFiles = 1, smallFileBytes = Long.MaxValue)
    assert(spark.read.parquet(s"$indexDir/keys").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(!staged.exists() && !old.exists(), "writer pass clears the debris")

    // cross-batch probe still sees the healed history: a copy of day-100
    // media drops through the index
    assert(StreamFingerprint.applyBatch(
      spark, Seq((9L, base)).toDF("doc_id", "text"), "doc_id",
      Multimodal.imagePhash, indexDir, outDir, batchId = 0L) == 0L)
  }

  test("layout stamp: a producer under a different maxHamming fails loudly on both grow and apply") {
    val indexDir = Files.createTempDirectory("sfp_conf_idx").toString
    val outDir = Files.createTempDirectory("sfp_conf_out").toString
    assert(StreamFingerprint.growBatch(
      spark, Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", Multimodal.imagePhash, indexDir, batchId = 1L) == 9L)
    // a radius-3 producer emits a different chunk-pair covering: its
    // probes would match almost nothing in a radius-4 index — refuse
    val err = intercept[IllegalStateException] {
      StreamFingerprint.growBatch(
        spark, Seq((2L, imgA)).toDF("doc_id", "text"),
        "doc_id", Multimodal.imagePhash, indexDir, batchId = 2L,
        maxHamming = 3)
    }
    assert(err.getMessage.contains("maxHamming: index=4 caller=3"))
    intercept[IllegalStateException] {
      StreamFingerprint.applyBatch(
        spark, Seq((2L, imgA)).toDF("doc_id", "text"), "doc_id",
        Multimodal.imagePhash, indexDir, outDir, batchId = 2L,
        maxHamming = 3)
    }
    // the refused producers appended nothing; the right radius proceeds
    assert(spark.read.parquet(s"$indexDir/keys").count() == 9L)
    assert(StreamFingerprint.growBatch(
      spark, Seq((2L, imgA)).toDF("doc_id", "text"),
      "doc_id", Multimodal.imagePhash, indexDir, batchId = 2L) == 9L)
  }
}
