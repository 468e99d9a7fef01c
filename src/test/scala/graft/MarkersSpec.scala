package graft

import graft.streaming.{Markers, StreamNearDup}

import java.nio.file.Files

class MarkersSpec extends SparkTestBase {
  import spark.implicits._

  /** Every `_batches` entry with its bytes, plus the index's data-file
    * manifest: a call that changes neither wrote nothing to the index.
    */
  private def snapshot(dir: String): (String, Map[String, Seq[Byte]]) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batches = new java.io.File(s"$dir/_batches").listFiles().toSeq
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    (Markers.dataFileManifest(fs, dir), batches)
  }

  test("a bare pre-namespace marker is refused loudly, never re-applied or rebuilt over") {
    // IVF-PQ: day 1 built and applied, then its marker spelled bare
    val dir = Files.createTempDirectory("markers_bare").toString + "/idx"
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    assert(graft.operators.Pq.appendBatch(
      spark, emb, "vec_id", "embedding", dir, 1L, nlist = 4, m = 4, k = 8) == 40L)
    assert(new java.io.File(s"$dir/_batches/day-1")
      .renameTo(new java.io.File(s"$dir/_batches/1")))
    val before = snapshot(dir)
    // batch 1 meets the bare marker in the per-id probe; batch 2 in the
    // build-vs-append listing, where "no namespaced marker" would
    // otherwise rebuild the index from batch 2 alone
    for (batch <- Seq(1L, 2L)) {
      val err = intercept[IllegalStateException] {
        graft.operators.Pq.appendBatch(spark, emb, "vec_id", "embedding",
          dir, batch, nlist = 4, m = 4, k = 8)
      }
      assert(err.getMessage.contains(s"$dir/_batches/1") &&
        err.getMessage.contains("day-1"), err.getMessage)
      assert(snapshot(dir) == before, s"batch $batch touched the index")
    }

    // near-dup: the same refusal through the shared per-id probe, for
    // both producer namespaces
    val ndDir = Files.createTempDirectory("markers_bare_nd").toString
    val out = Files.createTempDirectory("markers_bare_nd_out").toString
    val day = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    assert(StreamNearDup.applyBatch(spark, day, "doc_id", "text", ndDir, out,
      batchId = 1L, namespace = StreamNearDup.DayNamespace) == 1L)
    assert(new java.io.File(s"$ndDir/_batches/day-1")
      .renameTo(new java.io.File(s"$ndDir/_batches/1")))
    val ndBefore = snapshot(ndDir)
    for (ns <- Seq(StreamNearDup.DayNamespace, StreamNearDup.StreamNamespace)) {
      val err = intercept[IllegalStateException] {
        StreamNearDup.applyBatch(spark, day, "doc_id", "text", ndDir, out,
          batchId = 1L, namespace = ns)
      }
      assert(err.getMessage.contains(s"$ndDir/_batches/1") &&
        err.getMessage.contains("mb-1"), err.getMessage)
      assert(snapshot(ndDir) == ndBefore, s"namespace $ns touched the index")
    }
  }

  test("inspect classifies every claim state with its evidence, including the CONSTRUCTED data-landed-marker-unfilled red window (r18 verdict #2)") {
    val dir = Files.createTempDirectory("markers_inspect").toString + "/idx"
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    // day-one build: a real index with an APPLIED day-1 marker
    val n = graft.operators.Pq.appendBatch(
      spark, emb, "vec_id", "embedding", dir, 1L, nlist = 4, m = 4, k = 8)
    assert(n == 40L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bdir = new org.apache.hadoop.fs.Path(s"$dir/_batches")
    def write(name: String, text: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(bdir, name), true)
      out.write(text.getBytes("UTF-8")); out.close()
    }
    val before = Markers.dataFileManifest(fs, dir)
    // the NARROW WINDOW (never hit in 15 fuzz seeds): a claim whose
    // append DID land files but died before the marker was filled —
    // record the pre-claim manifest, then land a data file
    write("day-8.pre", before)
    write("day-8", "")
    val cell = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .head.getPath
    val landed = new org.apache.hadoop.fs.Path(cell, "part-landed-by-dead-day8.parquet")
    val out = fs.create(landed, true); out.write("x".getBytes("UTF-8")); out.close()
    // a clean dead claim: proof recorded AFTER the landed file, so the
    // manifest still matches
    write("day-7.pre", Markers.dataFileManifest(fs, dir))
    write("day-7", "")
    // a proofless claim and an orphan proof
    write("day-9", "")
    write("mb-11.pre", before)

    val byMarker = Markers.inspect(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getString(3), r.getLong(4), r.getString(5)))
      .toMap
    assert(byMarker("day-1")._1 == "applied" && byMarker("day-1")._2 == 40L)
    assert(byMarker("day-7")._1 == "dead_clean")
    val (s8, _, e8) = byMarker("day-8")
    assert(s8 == "red_landed", s"day-8 classified $s8")
    assert(e8.contains("DATA MAY HAVE LANDED") &&
      e8.contains("part-landed-by-dead-day8.parquet"),
      s"red evidence must name the landed file: $e8")
    assert(byMarker("day-9")._1 == "red_no_proof")
    assert(byMarker("mb-11.pre")._1 == "orphan_proof")

    // the tool and the heal agree: healDeadClaims removes exactly the
    // dead_clean claim, leaves both red states for the operator
    Markers.healDeadClaims(fs, dir)
    val after = Markers.inspect(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(!after.contains("day-7"), "dead_clean claim not healed")
    assert(after("day-8") == "red_landed" && after("day-9") == "red_no_proof",
      "a red claim must never be auto-healed")
  }
}
