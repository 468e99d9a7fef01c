package graft

import graft.operators.{Bm25, Knn, Pq}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The MIXED-producer grow surface (r16 verdict #1): stream (`mb-`) and
  * DAG (`day-`) namespace `appendBatch` calls interleaved on ONE
  * artifact — the StreamAnnGrow/StreamBm25Grow-beside-the-DAG deployment
  * the r16 lease work made safe, now asserted end-to-end rather than
  * per-pairwise-race. These are the component twins of the registered
  * `q82c_bm25_mixed_grow` / `q107d_knn_ivfpq_mixed_grow` queries (whose
  * DuckDB rows verify the same protocol at three scales).
  *
  * Exactness ladder:
  *  - BM25: mixed-grown probes BIT-IDENTICAL to a one-shot build of the
  *    union corpus (append maintenance is exact — stateless posting
  *    rows, probe-time df).
  *  - IVF-PQ: mixed-grown probes BIT-IDENTICAL to the same batches
  *    applied by a single producer (the frozen-model contract: day-0
  *    trains deterministically — k-smallest-id seed, long-grid
  *    arithmetic — so WHO appends a delta cannot change its codes).
  * Plus the marker inventory: each producer's batches land under its own
  * namespace, all non-empty, and replays of EITHER namespace no-op with
  * the data dir untouched.
  */
class MixedGrowSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "alpha bravo charlie words words", "en"),
    (1L, "charlie delta echo foxtrot", "en"),
    (2L, "alpha golf hotel india alpha", "en"),
    (3L, "bravo bravo juliet kilo", "de"),
    (4L, "alpha charlie lima mike", "en"),
    (5L, "november oscar papa charlie", "en"),
    (6L, "alpha quebec romeo sierra", "en"),
    (7L, "tango uniform bravo victor", "de"))

  private def docsDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "text", "lang")

  private def bmProbe(idx: Bm25.Bm25Index) =
    Bm25.retrieveIndexed(idx, spark, terms = Seq("alpha", "charlie", "bravo"), k = 8)
      .as[(String, Long, Double, Int)].collect().toSet

  private def markerNames(indexDir: String): Set[String] = {
    val d = new java.io.File(s"$indexDir/_batches")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(f =>
      graft.streaming.Markers.isBatchMarker(f.getName)).map(_.getName).toSet
  }

  test("BM25: interleaved mb-/day- appendBatch on one artifact probes bit-identical to a one-shot union build; both namespaces' replays no-op") {
    val indexDir = Files.createTempDirectory("mg_bm").toString + "/idx"
    // day-0 builds; then the two producers alternate
    assert(Bm25.appendBatch(spark, docsDf(corpus.slice(0, 3)), indexDir, 0L,
      buckets = 8, namespace = "day") == 3L)
    assert(Bm25.appendBatch(spark, docsDf(corpus.slice(3, 5)), indexDir, 1L,
      buckets = 8, namespace = "mb") == 2L)
    assert(Bm25.appendBatch(spark, docsDf(corpus.slice(5, 6)), indexDir, 1L,
      buckets = 8, namespace = "day") == 1L)
    assert(Bm25.appendBatch(spark, docsDf(corpus.slice(6, 8)), indexDir, 2L,
      buckets = 8, namespace = "mb") == 2L)

    // every batch under its producer's own namespace, every marker
    // non-empty (a claimed-but-dead batch would read as a 0-length file)
    assert(markerNames(indexDir) == Set("day-0", "day-1", "mb-1", "mb-2"))
    Seq(("day", 0L), ("day", 1L), ("mb", 1L), ("mb", 2L)).foreach {
      case (ns, id) =>
        assert(Bm25.appendBatchApplied(spark, indexDir, id, namespace = ns),
          s"$ns-$id must gate as applied")
    }

    // exactness: the mixed-grown index IS the union corpus's index
    val grown = Bm25.readIndex(spark, indexDir)
    val oneShot = Bm25.writeIndex(docsDf(corpus),
      Files.createTempDirectory("mg_bm_ref").toString + "/idx", buckets = 8)
    assert(grown.n == 8L && grown.n == oneShot.n && grown.tt == oneShot.tt)
    assert(bmProbe(grown) == bmProbe(oneShot) && bmProbe(grown).nonEmpty)

    // replays from EITHER producer no-op with the data dir untouched
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = graft.streaming.Markers.dataFileManifest(fs, indexDir)
    assert(Bm25.appendBatch(spark, docsDf(corpus.slice(3, 5)), indexDir, 1L,
      buckets = 8, namespace = "mb") == -1L)
    assert(Bm25.appendBatch(spark, docsDf(corpus.slice(5, 6)), indexDir, 1L,
      buckets = 8, namespace = "day") == -1L)
    assert(graft.streaming.Markers.dataFileManifest(fs, indexDir) == before)
  }

  test("IVF-PQ: interleaved mb-/day- appendBatch probes bit-identical to the same batches applied by a single producer (frozen-model contract)") {
    val emb = (0 until 96).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()
    def tranche(lo: Int, hi: Int) =
      emb.filter(pmod(col("vec_id"), lit(4)).between(lo, hi))
    val q = emb.filter(col("vec_id") < 6)

    // mixed: day-0 builds (frozen model trains on the 50% base), then
    // the two producers alternate deltas
    val mixed = Files.createTempDirectory("mg_pq").toString + "/idx"
    assert(Pq.appendBatch(spark, tranche(2, 3), "vec_id", "embedding",
      mixed, 0L, nlist = 4, m = 4, k = 8, namespace = "day") == 48L)
    assert(Pq.appendBatch(spark, tranche(0, 0), "vec_id", "embedding",
      mixed, 1L, nlist = 4, m = 4, k = 8, namespace = "mb") == 24L)
    assert(Pq.appendBatch(spark, tranche(1, 1), "vec_id", "embedding",
      mixed, 1L, nlist = 4, m = 4, k = 8, namespace = "day") == 24L)
    assert(markerNames(mixed) == Set("day-0", "day-1", "mb-1"))

    // single producer, same batches in the same order
    val single = Files.createTempDirectory("mg_pq_ref").toString + "/idx"
    Seq((tranche(2, 3), 0L), (tranche(0, 0), 1L), (tranche(1, 1), 2L))
      .foreach { case (t, id) =>
        Pq.appendBatch(spark, t, "vec_id", "embedding", single, id,
          nlist = 4, m = 4, k = 8, namespace = "day")
      }

    val im = Pq.readIndex(spark, mixed)
    val is = Pq.readIndex(spark, single)
    // same frozen model (deterministic day-0 train) …
    assert(im.centroids.map(_.toSeq).toSeq == is.centroids.map(_.toSeq).toSeq)
    // … and the probes agree row-for-row: who appended a delta cannot
    // change its codes
    def probe(idx: Pq.IvfPqIndex) =
      Pq.ivfTopKIndexed(idx, emb, q, "vec_id", "embedding", 3,
        nprobe = 2, refine = 20)
        .as[(Long, Int, Long)].collect().toSet
    val (pm, ps) = (probe(im), probe(is))
    assert(pm == ps && pm.nonEmpty)
    // and the grown index genuinely retrieves: recall gate vs brute force
    val gate = Knn.recallGate(
      Pq.ivfTopKIndexed(im, emb, q, "vec_id", "embedding", 3,
        nprobe = 2, refine = 20),
      Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 3), 3, floor = 0.4)
      .collect().head
    assert(gate.getBoolean(1), s"recall gate failed: $gate")
  }
}
