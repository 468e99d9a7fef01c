package graft

import graft.operators.Bm25
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "a a b x", "en"), // both terms, tf_a=2
    (1L, "a x x x", "en"), // one term, same dl
    (2L, "x x x x", "en"), // no query term -> excluded
    (3L, "b", "de")) // short doc, other lang
    .toDF("doc_id", "text", "lang")

  test("bm25 scores match the hand-computed formula and rank per language") {
    val out = Bm25.retrieve(docs, terms = Seq("a", "b"), k = 2)
      .as[(String, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq

    // collection stats over the 4 docs: N=4, tt=13, df_a=2, df_b=2
    val (n, tt) = (4.0, 13.0)
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Double, dl: Double) =
      tf * (1.2 + 1.0) / (tf + 1.2 * (0.25 + 0.75 * dl * n / tt))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s0 = r4(idf(2) * w(2, 4) + idf(2) * w(1, 4)) // doc 0: tf_a=2, tf_b=1
    val s1 = r4(idf(2) * w(1, 4) + idf(2) * w(0, 4)) // doc 1: tf_a=1
    val s3 = r4(idf(2) * w(0, 1) + idf(2) * w(1, 1)) // doc 3: tf_b=1, dl=1

    assert(out == Seq(
      ("de", 3L, s3, 1),
      ("en", 0L, s0, 1), // two matching terms outrank one at equal dl
      ("en", 1L, s1, 2))) // doc 2 (no term) never appears
    assert(s0 > s1)
  }

  test("bm25 plan: no explode, stats broadcast, bounded top-k, one corpus shuffle") {
    val df = Bm25.retrieve(docs, terms = Seq("a", "b"), k = 2)
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    // tf comes from array HOFs over the split column, never a token
    // explode: the only Generate is the posexplode of the <=k winners
    val generates = s.linesIterator.filter(_.contains("Generate")).toSeq
    assert(generates.size == 1 && generates.head.contains("posexplode"),
      s"token explode in the BM25 plan:\n$s")
    // the one-row stats frame broadcasts; the corpus never re-shuffles for it
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"stats must broadcast:\n$s")
    // ranking is the bounded aggregator, not a window sort
    assert(s.contains("partial_boundedtopk"), s"top-k must be map-side bounded:\n$s")
    assert(!s.contains("Window"), s"no window sort:\n$s")
    // corpus-side data crosses at most: stats agg (1 row) + lang top-k
    val ex = plan.collect { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, s"unexpected shuffles (${ex.size}):\n$s")
  }

  // --- the persisted index lifecycle (r11 verdict #3: the family
  // discipline minhash and IVF-PQ already have, applied to postings) ---

  private def day(lo: Long, hi: Long) = Seq(
    (0L, "a a b x", "en"), (1L, "a x x x", "en"),
    (2L, "x x x x", "en"), (3L, "b", "de"),
    (4L, "a b b y", "en"), (5L, "b y y a", "de"),
    (6L, "y a a a", "en"), (7L, "x b a y", "de"))
    .filter(r => r._1 >= lo && r._1 < hi)
    .toDF("doc_id", "text", "lang")

  private def probe(idx: Bm25.Bm25Index) =
    Bm25.retrieveIndexed(idx, spark, terms = Seq("a", "b"), k = 3)
      .as[(String, Long, Double, Int)].collect().toSet

  test("appendBatch: replay no-ops, grown == fresh union build, crash claims read red and self-heal only with manifest proof") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_batch").toString + "/idx"
    // day 1 builds, day 2 appends
    assert(Bm25.appendBatch(spark, day(0, 4), dir, batchId = 1L) == 4L)
    assert(Bm25.appendBatch(spark, day(4, 8), dir, batchId = 2L) == 4L)
    assert(Bm25.appendBatchApplied(spark, dir, 1L) && Bm25.appendBatchApplied(spark, dir, 2L))
    // replays are no-ops — postings are NOT double-appended
    assert(Bm25.appendBatch(spark, day(0, 4), dir, batchId = 1L) == -1L)
    assert(Bm25.appendBatch(spark, day(4, 8), dir, batchId = 2L) == -1L)
    // grown index == a fresh one-shot build of the union corpus, probe
    // for probe (stateless posting rows + probe-time df = EXACT appends)
    val freshDir = java.nio.file.Files.createTempDirectory("bm25_fresh").toString + "/idx"
    val fresh = Bm25.writeIndex(day(0, 8), freshDir)
    val grown = Bm25.readIndex(spark, dir)
    assert(grown.n == fresh.n && grown.tt == fresh.tt)
    assert(probe(grown) == probe(fresh))

    // a claimed-but-dead batch (empty marker) with NO manifest: no proof
    // nothing landed -> red for the operator, not a silent re-append
    val b3 = new java.io.File(s"$dir/_batches/day-3")
    b3.getParentFile.mkdirs(); b3.createNewFile()
    assert(Bm25.appendBatch(spark, day(0, 2), dir, batchId = 3L) == -1L)
    assert(!Bm25.appendBatchApplied(spark, dir, 3L))
    // with a manifest proving nothing landed since the claim: self-heals
    val manifest = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      graft.streaming.Markers.dataFileManifest(fs, dir)
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_batches/day-3.pre"),
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Bm25.appendBatch(spark, day(0, 2), dir, batchId = 3L) == 2L)
    assert(Bm25.appendBatchApplied(spark, dir, 3L))
    // a STALE manifest (data landed after the claim) must stay red
    val b4pre = java.nio.file.Paths.get(s"$dir/_batches/day-4.pre")
    java.nio.file.Files.write(b4pre,
      "not-the-current-manifest".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(s"$dir/_batches/day-4").createNewFile()
    assert(Bm25.appendBatch(spark, day(2, 4), dir, batchId = 4L) == -1L)
    // mismatched bucket count on an append fails loudly, never mis-routes
    val err = intercept[IllegalArgumentException] {
      Bm25.appendBatch(spark, day(2, 4), dir, batchId = 9L, buckets = 17)
    }
    assert(err.getMessage.contains("buckets"))
  }

  test("pb-partition compaction: 10 appends fold to a bounded file count, probes unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_compact").toString + "/idx"
    // 10 daily appends over a tiny bucket space -> many small files per pb
    val buckets = 4
    for (d <- 0 until 10) {
      val delta = (0 until 8).map { i =>
        val id = d * 8L + i
        (id, s"a b term$i x y common", if (i % 2 == 0) "en" else "de")
      }.toDF("doc_id", "text", "lang")
      assert(Bm25.appendBatch(spark, delta, dir, batchId = d.toLong,
        buckets = buckets) == 8L)
    }
    val before = probe(Bm25.readIndex(spark, dir))
    def fileCount(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .count(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_"))
    }
    val nBefore = fileCount()
    val rewritten = graft.sources.Compaction.compact(
      spark, dir, "pb", maxFiles = 2, smallFileBytes = 32L << 20)
    assert(rewritten.nonEmpty, "10 appends x 4 buckets must trip the compactor")
    val nAfter = fileCount()
    assert(nAfter < nBefore && nAfter <= buckets * 2,
      s"file count must fold: $nBefore -> $nAfter")
    // content untouched: same probes, same stats
    assert(probe(Bm25.readIndex(spark, dir)) == before)
    // replay protection survives compaction (markers are sidecars)
    assert(Bm25.appendBatch(spark, day(0, 1), dir, batchId = 0L,
      buckets = buckets) == -1L)
  }
}
