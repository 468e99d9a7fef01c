package graft

import java.nio.file.Files
import java.sql.DriverManager
import java.time.LocalDate

import graft.pipelines.{CorpusPipeline, Dag, LlmIngestDag}
import org.apache.spark.sql.functions._

/** The end-to-end daily LLM-ingest DAG: Dag + JsonlGz + CorpusPipeline
  * (ppl stage on) + q65 cross-day near-dup index + Compaction + JdbcSink
  * as one graph, driven multi-day by Catchup.
  */
class LlmIngestDagSpec extends SparkTestBase {
  import spark.implicits._

  // A "fluent" sentence pool: long enough to clear the quality floor,
  // varied enough to dodge the repetition cut and the ppl tail band.
  private def sentence(i: Int): String = {
    val subjects = Seq("the quick fox", "a careful engineer", "the old library",
      "every small town", "this bright student")
    val verbs = Seq("builds", "reads", "watches", "repairs", "measures")
    val objects = Seq("a long bridge over the river", "the morning paper with care",
      "a detailed map of the region", "the garden wall each spring",
      "a set of wooden tools")
    (0 until 6).map { k =>
      val j = i * 7 + k * 3
      s"${subjects(j % 5)} ${verbs((j / 5) % 5)} ${objects((j / 25) % 5)}"
    }.mkString(" ") + s" chapter $i closes the day"
  }

  private def writeDay(root: String, date: LocalDate, docs: Seq[(Long, String, String)],
      corruptLines: Int = 0): Unit = {
    val dayDir = new java.io.File(
      f"$root/in/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d")
    dayDir.mkdirs()
    val gz = new java.io.PrintStream(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dayDir/part-0.jsonl.gz")))
    docs.foreach { case (id, text, src) =>
      gz.println(s"""{"doc_id": $id, "text": "$text", "source": "$src"}""")
    }
    (0 until corruptLines).foreach(i => gz.println(s"{broken json $i"))
    gz.close()
  }

  private def connectTo(db: String): () => java.sql.Connection = {
    val url = s"jdbc:derby:memory:$db;create=true"
    () => DriverManager.getConnection(url)
  }

  test("multi-day ingest: catchup in order, mid-run failure retried, index grows by survivors only") {
    val root = Files.createTempDirectory("graft-llm").toString
    val d1 = LocalDate.parse("2021-05-01")
    val d2 = LocalDate.parse("2021-05-02")
    val d3 = LocalDate.parse("2021-05-03")

    // day 1: 8 distinct docs (+1 corrupt line for the quarantine path);
    // day 2: 4 new docs + 2 exact repeats of day-1 text (cross-day dups);
    // day 3: 3 new docs + 1 repeat of a day-2 text
    writeDay(root, d1, (0L until 8L).map(i => (i, sentence(i.toInt), "web")), corruptLines = 1)
    writeDay(root, d2,
      (10L until 14L).map(i => (i, sentence(i.toInt), "web")) ++
        Seq((14L, sentence(2), "web"), (15L, sentence(5), "web")))
    writeDay(root, d3,
      (20L until 23L).map(i => (i, sentence(i.toInt), "web")) :+ (23L, sentence(12), "web"))

    val connect = connectTo("graft_llm")
    val c0 = connect(); LlmIngestDag.ensureCountsTable(c0); c0.close()

    // this test pins the dedup/index/publish semantics: the sampler cap,
    // the repetition cut, and the ppl tercile (which by construction
    // drops a third of every source) are kept out of the way so survivor
    // sets are exact; the ppl-on composition has its own test below
    val cfg = CorpusPipeline.Config(
      maxTopWordFrac = 0.5, samplePerSource = 1000, dropPplTail = false)

    // mid-run failure: the publish task's connection factory dies once on
    // day 2 (transient outage); Dag's retry must absorb it
    var publishCalls = 0
    val flakyConnect: () => java.sql.Connection = () => {
      publishCalls += 1
      if (publishCalls == 3) throw new RuntimeException("warehouse outage")
      connect()
    }

    val runs = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", flakyConnect, d1, d3.plusDays(1), cfg)
    assert(runs.map(_.date) == Seq(d1, d2, d3), "days must run in order")
    runs.foreach { r =>
      assert(r.ok, s"${r.date}: ${r.detail.mkString("; ")}")
      assert(r.detail.forall(_.status == Dag.Succeeded))
    }
    val retried = runs.flatMap(_.detail).filter(_.id == "publish_counts").map(_.attempts)
    assert(retried.exists(_ > 1), s"the outage must have forced a retry: $retried")

    // quarantine captured day 1's corrupt line
    assert(spark.read.text(s"$root/out/quarantine/$d1").count() == 1)

    // cross-day dedup: day-2 repeats of day-1 text and day-3 repeat of a
    // day-2 text are dropped; new docs survive
    val corpus = s"$root/out/warehouse/corpus"
    def batchIds(d: LocalDate) =
      spark.read.parquet(s"$corpus/batch=${d.toEpochDay}")
        .select("doc_id").as[Long].collect().toSet
    assert(batchIds(d1) == (0L until 8L).toSet)
    assert(batchIds(d2) == (10L until 14L).toSet, "day-2 repeats of day-1 must drop")
    assert(batchIds(d3) == (20L until 23L).toSet, "day-3 repeat of day-2 must drop")

    // the index grew by each day's survivors exactly once
    val indexIds = spark.read.parquet(s"$root/out/warehouse/neardup_index/shingles")
      .select("id").as[Long].collect().toSeq
    val survivors = batchIds(d1) ++ batchIds(d2) ++ batchIds(d3)
    assert(indexIds.toSet == survivors, "index must hold survivors only")
    assert(indexIds.size == survivors.size, "no duplicate index entries")

    // published counts match the surviving corpus, one row per (date, source)
    val conn = connect()
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery(
        s"""SELECT "execution_date", "n_docs" FROM ${LlmIngestDag.CountsTable} ORDER BY 1""")
      val rows = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2))).toList
      assert(rows == List(d1.toString -> 8L, d2.toString -> 4L, d3.toString -> 3L))
    } finally conn.close()

    // caught-up schedule: a second catchup runs nothing and changes nothing
    val again = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d3.plusDays(1), cfg)
    assert(again.isEmpty)
    assert(spark.read.parquet(s"$root/out/warehouse/neardup_index/shingles")
      .count() == survivors.size)

    // forced replay of a completed day (watermark lost, warehouse intact):
    // the batch marker makes the neardup step a no-op and the index does
    // not grow; the publish converges via delete-then-insert
    val fs = new java.io.File(s"$root/out/_catchup_watermark/date=$d2")
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmRf)); f.delete(); ()
    }
    rmRf(fs)
    val replay = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d3.plusDays(1), cfg)
    assert(replay.map(_.date) == Seq(d2) && replay.head.ok)
    assert(spark.read.parquet(s"$root/out/warehouse/neardup_index/shingles")
      .count() == survivors.size, "replayed day must not re-grow the index")
    val conn2 = connect()
    try {
      val n = graft.sources.JdbcSink.queryLong(conn2,
        s"""SELECT count(*) AS n FROM ${LlmIngestDag.CountsTable} WHERE "execution_date" = ?""",
        Seq(d2.toString))
      assert(n == 1L, "replayed publish must converge, not duplicate")
    } finally conn2.close()
  }

  test("ANN index grows alongside the minhash one: day-1 build, day-2 append, replay no-op") {
    val root = Files.createTempDirectory("graft-llm-ann").toString
    val d1 = LocalDate.parse("2021-07-01")
    val d2 = LocalDate.parse("2021-07-02")
    // day 2 repeats one day-1 text (id 15 = sentence(2)): its vector must
    // never enter the ANN index because the doc dies in cross-day dedup
    writeDay(root, d1, (0L until 8L).map(i => (i, sentence(i.toInt), "web")))
    writeDay(root, d2,
      (10L until 14L).map(i => (i, sentence(i.toInt), "web")) :+ (15L, sentence(2), "web"))
    val connect = connectTo("graft_llm_ann")
    val c0 = connect(); LlmIngestDag.ensureCountsTable(c0); c0.close()
    val cfg = CorpusPipeline.Config(
      maxTopWordFrac = 0.5, samplePerSource = 1000, dropPplTail = false)

    // deterministic unit vectors per doc id — the embedding service stub
    val embFor: LocalDate => org.apache.spark.sql.DataFrame = _ => {
      val all = (0L until 24L).map { id =>
        val raw = (0 until 16).map(j => math.sin(id * 31 + j + 1))
        val n = math.sqrt(raw.map(x => x * x).sum)
        (id, raw.map(x => (x / n).toFloat).toArray)
      }
      all.toDF("doc_id", "embedding")
    }

    val runs = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d2.plusDays(1), cfg,
      embeddingsFor = Some(embFor))
    runs.foreach(r => assert(r.ok, s"${r.date}: ${r.detail.mkString("; ")}"))
    assert(runs.flatMap(_.detail).count(_.id == "grow_ann_index") == 2)

    val annDir = s"$root/out/warehouse/ann_index"
    val survivors = (0L until 8L).toSet ++ (10L until 14L).toSet
    def annIds() = spark.read.parquet(annDir)
      .select("id").as[Long].collect().toSeq
    assert(annIds().toSet == survivors, "ANN index must hold survivors only")
    assert(annIds().size == survivors.size, "no duplicate ANN entries")
    // both batch markers exist (day 1 = build, day 2 = append) — written
    // producer-namespaced since r15 (graft.streaming.Markers)
    for (d <- Seq(d1, d2))
      assert(new java.io.File(s"$annDir/_batches/day-${d.toEpochDay}").exists())

    // the grown artifact probes end-to-end through the persisted path
    val idx = graft.operators.Pq.readIndex(spark, annDir)
    val q = embFor(d1).filter(col("doc_id") < 2)
    val hits = graft.operators.Pq.ivfTopKIndexed(
      idx, embFor(d1).join(annIds().toDF("doc_id"), Seq("doc_id"), "left_semi"),
      q, "doc_id", "embedding", 3, nprobe = 32, refine = 12)
      .as[(Long, Int, Long)].collect()
    assert(hits.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L) && hits.length == 6)

    // replay of day 2 (watermark lost): the marker makes the ANN step a
    // no-op — the index must not re-grow
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmRf)); f.delete(); ()
    }
    rmRf(new java.io.File(s"$root/out/_catchup_watermark/date=$d2"))
    val replay = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d2.plusDays(1), cfg,
      embeddingsFor = Some(embFor))
    assert(replay.map(_.date) == Seq(d2) && replay.head.ok)
    assert(annIds().size == survivors.size, "replayed day must not re-grow the ANN index")
  }

  test("rebuild_ann_if_drifted: no-drift day is a no-op, a drift-tripping day retrains in-DAG") {
    val root = Files.createTempDirectory("graft-llm-annrb").toString
    val d1 = LocalDate.parse("2021-08-01")
    val d2 = LocalDate.parse("2021-08-02")
    // day 1 tiny (4 docs), day 2 big (20 docs): the append grows the
    // index ~6x past occupancyDrift's default maxGrowth=4, so day 2's
    // rebuild task must FIRE where day 1's was a green no-op
    writeDay(root, d1, (0L until 4L).map(i => (i, sentence(i.toInt), "web")))
    writeDay(root, d2, (10L until 30L).map(i => (i, sentence(i.toInt), "web")))
    val connect = connectTo("graft_llm_annrb")
    val c0 = connect(); LlmIngestDag.ensureCountsTable(c0); c0.close()
    val cfg = CorpusPipeline.Config(
      maxTopWordFrac = 0.5, samplePerSource = 1000, dropPplTail = false)

    val embFor: LocalDate => org.apache.spark.sql.DataFrame = _ => {
      val all = (0L until 30L).map { id =>
        val raw = (0 until 16).map(j => math.sin(id * 31 + j + 1))
        val n = math.sqrt(raw.map(x => x * x).sum)
        (id, raw.map(x => (x / n).toFloat).toArray)
      }
      all.toDF("doc_id", "embedding")
    }

    val runs = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d2.plusDays(1), cfg,
      embeddingsFor = Some(embFor),
      annUnionEmbeddings = Some(() => embFor(d1)))
    runs.foreach(r => assert(r.ok, s"${r.date}: ${r.detail.mkString("; ")}"))
    assert(runs.flatMap(_.detail).count(_.id == "rebuild_ann_if_drifted") == 2)

    val annDir = s"$root/out/warehouse/ann_index"
    val survivors = spark.read.parquet(s"$root/out/warehouse/corpus")
      .select("doc_id").as[Long].collect().toSet
    val ids = spark.read.parquet(annDir).select("id").as[Long].collect().toSeq
    assert(ids.toSet == survivors && ids.size == survivors.size,
      "rebuilt index must hold each survivor exactly once")

    // the rebuild really happened: the occupancy REFERENCE now counts the
    // union (a day-1-build reference would still say n_build = day-1 size,
    // growth ~6x, gate red) — and the gate is re-armed green
    val drift = graft.operators.Pq.occupancyDrift(spark, annDir).collect().head
    assert(drift.getAs[Long]("n_build") == survivors.size.toLong)
    assert(drift.getAs[Double]("growth") == 1.0 && !drift.getAs[Boolean]("retrain_due"))

    // replay markers survived the rebuild: a re-run of day 2 no-ops and
    // the index keeps exactly one row per survivor
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmRf)); f.delete(); ()
    }
    rmRf(new java.io.File(s"$root/out/_catchup_watermark/date=$d2"))
    val replay = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d2.plusDays(1), cfg,
      embeddingsFor = Some(embFor),
      annUnionEmbeddings = Some(() => embFor(d1)))
    assert(replay.map(_.date) == Seq(d2) && replay.head.ok)
    val ids2 = spark.read.parquet(annDir).select("id").as[Long].collect().toSeq
    assert(ids2.size == survivors.size, "replay after rebuild re-grew the index")
  }

  test("default config composes the ppl stage: dag green, per-source tail dropped") {
    val root = Files.createTempDirectory("graft-llm-ppl").toString
    val d1 = LocalDate.parse("2021-06-01")
    writeDay(root, d1, (0L until 9L).map(i => (i, sentence(i.toInt), "web")))
    val connect = connectTo("graft_llm_ppl")
    val c0 = connect(); LlmIngestDag.ensureCountsTable(c0); c0.close()

    // dropPplTail = true is LlmIngestDag.build's own default — restated
    // here because the relaxed repetition knob forces an explicit Config
    val cfg = CorpusPipeline.Config(
      maxTopWordFrac = 0.5, samplePerSource = 1000, dropPplTail = true)
    val runs = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d1.plusDays(1), cfg)
    assert(runs.size == 1 && runs.head.ok, runs.mkString("; "))

    // the tercile banding dropped SOME docs as tail, and survivors are a
    // strict subset of the day's input
    val survivors = spark.read
      .parquet(s"$root/out/warehouse/corpus/batch=${d1.toEpochDay}")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.nonEmpty && survivors.size < 9,
      s"ppl tail must drop part of the corpus, kept ${survivors.size}/9")
    assert(survivors.subsetOf((0L until 9L).toSet))
  }

  test("compact_neardup_index: N-day run bounds the band/shingle file count; dedup and replay semantics unchanged") {
    val root = Files.createTempDirectory("graft-llm-ndc").toString
    val d1 = LocalDate.parse("2021-07-01")
    val days = (0 until 5).map(d1.plusDays(_))
    // 5 days of 4 new docs each; days 3-5 also repeat one text from an
    // EARLIER day, so the cross-day drop must keep working through the
    // repeatedly-compacted index
    days.zipWithIndex.foreach { case (d, i) =>
      val fresh = (i * 10L until i * 10L + 4L).map(id => (id, sentence(id.toInt), "web"))
      val repeat = if (i >= 2) Seq((i * 10L + 9L, sentence((i - 2) * 10), "web")) else Nil
      writeDay(root, d, fresh ++ repeat)
    }
    val connect = connectTo("graft_llm_ndc")
    val c0 = connect(); LlmIngestDag.ensureCountsTable(c0); c0.close()
    val cfg = CorpusPipeline.Config(
      maxTopWordFrac = 0.5, samplePerSource = 1000, dropPplTail = false)
    // compactMaxFiles = 2: every day's append trips the fold
    val runs = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, days.last.plusDays(1), cfg,
      compactMaxFiles = 2)
    assert(runs.size == 5 && runs.forall(_.ok),
      runs.map(r => s"${r.date}: ${r.detail.mkString("; ")}").mkString("\n"))

    // file counts bounded despite 5 appends (unbounded growth was the
    // r11 gap: every other artifact had a compaction owner except this)
    def nFiles(sub: String): Int = new java.io.File(
      s"$root/out/warehouse/neardup_index/$sub").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles("bands") <= 4, s"bands: ${nFiles("bands")} files")
    assert(nFiles("shingles") <= 4, s"shingles: ${nFiles("shingles")} files")

    // dedup through the compacted index: the cross-day repeats dropped
    def batchIds(d: LocalDate) = spark.read
      .parquet(s"$root/out/warehouse/corpus/batch=${d.toEpochDay}")
      .select("doc_id").as[Long].collect().toSet
    days.zipWithIndex.foreach { case (d, i) =>
      assert(batchIds(d) == (i * 10L until i * 10L + 4L).toSet,
        s"day ${i + 1}: repeats must drop through the compacted index")
    }
    // index holds survivors exactly once (compaction preserved rows)
    val indexIds = spark.read
      .parquet(s"$root/out/warehouse/neardup_index/shingles")
      .select("id").as[Long].collect().toSeq
    val allSurvivors = days.flatMap(batchIds).toSet
    assert(indexIds.toSet == allSurvivors && indexIds.size == allSurvivors.size)

    // replay after compaction: the batch marker still no-ops the day
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmRf)); f.delete(); ()
    }
    rmRf(new java.io.File(s"$root/out/_catchup_watermark/date=${days(2)}"))
    val replay = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, days.last.plusDays(1), cfg,
      compactMaxFiles = 2)
    assert(replay.map(_.date) == Seq(days(2)) && replay.head.ok)
    assert(spark.read.parquet(s"$root/out/warehouse/neardup_index/shingles")
      .count() == allSurvivors.size, "replayed day must not re-grow the compacted index")
  }

  test("grow_media_index: two-day DAG grow, live stream drops a cross-day media dup through the shared index") {
    import graft.operators.Multimodal
    import graft.streaming.StreamFingerprint
    val root = Files.createTempDirectory("graft-llm-media").toString
    val d1 = LocalDate.parse("2021-08-01")
    val d2 = LocalDate.parse("2021-08-02")
    writeDay(root, d1, (0L until 4L).map(i => (i, sentence(i.toInt), "web")))
    writeDay(root, d2, (10L until 14L).map(i => (i, sentence(i.toInt), "web")))
    val connect = connectTo("graft_llm_media")
    val c0 = connect(); LlmIngestDag.ensureCountsTable(c0); c0.close()
    val cfg = CorpusPipeline.Config(
      maxTopWordFrac = 0.5, samplePerSource = 1000, dropPplTail = false)

    val runs = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d2.plusDays(1), cfg,
      compactMaxFiles = 1, // force the media compaction leg to fire
      mediaFingerprint = Some(Multimodal.imagePhash))
    assert(runs.size == 2 && runs.forall(_.ok),
      runs.map(r => s"${r.date}: ${r.detail.mkString("; ")}").mkString("\n"))
    assert(runs.forall(_.detail.exists(o =>
      o.id == "grow_media_index" && o.status == Dag.Succeeded)))
    assert(runs.forall(_.detail.exists(o =>
      o.id == "compact_media_index" && o.status == Dag.Succeeded)))

    // the compaction leg bounds the file growth (r12 verdict #1: the one
    // index without an owner grew by one file set per day forever): after
    // N days the keys dir holds the compacted file count, not N appends'
    val mediaIdx = s"$root/out/warehouse/media_index"
    val keyFiles = new java.io.File(s"$mediaIdx/keys").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(keyFiles <= 1, s"media index keys dir still has $keyFiles files")

    // the index holds BOTH days' survivors' band keys (9 keys/doc at h=4)
    // — compaction is content-preserving, probes below go through it
    val keys = spark.read.parquet(s"$mediaIdx/keys")
    val survivorIds = (Seq(d1, d2)).flatMap(d => spark.read
      .parquet(s"$root/out/warehouse/corpus/batch=${d.toEpochDay}")
      .select("doc_id").as[Long].collect()).toSet
    assert(keys.select("id").as[Long].collect().toSet == survivorIds)
    assert(keys.count() == survivorIds.size * 9)

    // the LIVE half probes the DAG-grown artifact: a stream batch with a
    // byte-identical media copy of a DAY-1 survivor drops (hamming 0
    // through the persisted keys); a far-from-everything pattern survives
    val noise = (0 until sentence(0).length)
      .map(i => ('a' + (i * 7 + 3) % 26).toChar).mkString
    val streamBatch = Seq((900L, sentence(0)), (901L, noise))
      .toDF("doc_id", "text")
    val outDir = Files.createTempDirectory("media_live_out").toString
    val kept = StreamFingerprint.applyBatch(
      spark, streamBatch, "doc_id", Multimodal.imagePhash,
      mediaIdx, outDir, batchId = 0L) // mb- marker namespace: structurally
    // disjoint from the DAG's day- markers (r12 ADVICE)
    val keptIds = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(!keptIds.contains(900L),
      "the cross-day media dup must drop through the DAG-grown index")
    assert(kept == keptIds.size.toLong)

    // replayed DAG day: the grow marker no-ops, key count unchanged
    // (beyond the stream batch's own survivors)
    val after = spark.read.parquet(s"$mediaIdx/keys").count()
    assert(StreamFingerprint.growBatch(
      spark, spark.read.parquet(s"$root/out/warehouse/corpus/batch=${d1.toEpochDay}"),
      "doc_id", Multimodal.imagePhash, mediaIdx, batchId = d1.toEpochDay) == -1L)
    assert(spark.read.parquet(s"$mediaIdx/keys").count() == after)
  }

  test("cross_day_neardup namespaces: a stream counter equal to the epoch day never no-ops the day; day and stream markers stand side by side") {
    import graft.streaming.StreamNearDup
    val root = Files.createTempDirectory("graft-llm-ns").toString
    val d1 = LocalDate.parse("2021-05-03") // epoch day 18750
    val d2 = LocalDate.parse("2021-05-04")
    writeDay(root, d1, (0L until 4L).map(i => (i, sentence(i.toInt), "web")))
    writeDay(root, d2, (10L until 14L).map(i => (i, sentence(i.toInt), "web")))
    val connect = connectTo("graft_llm_ns")
    val c0 = connect(); LlmIngestDag.ensureCountsTable(c0); c0.close()
    val cfg = CorpusPipeline.Config(
      maxTopWordFrac = 0.5, samplePerSource = 1000, dropPplTail = false)

    // a long-lived LIVE stream sharing the index has reached micro-batch
    // counter 18750 — numerically equal to d1's epoch day. Pre-r14 (one
    // shared namespace) its marker silently no-op'd the day's entire
    // ingest: the DAG went green with zero survivors written.
    val indexDir = s"$root/out/warehouse/neardup_index"
    val streamOut = Files.createTempDirectory("llm_ns_stream_out").toString
    assert(StreamNearDup.applyBatch(
      spark, Seq((900L, sentence(90))).toDF("doc_id", "text"),
      "doc_id", "text", indexDir, streamOut, batchId = d1.toEpochDay) == 1L)

    val runs = LlmIngestDag.catchup(
      spark, s"$root/in", s"$root/out", connect, d1, d2.plusDays(1), cfg)
    assert(runs.size == 2 && runs.forall(_.ok),
      runs.map(r => s"${r.date}: ${r.detail.mkString("; ")}").mkString("\n"))

    // d1 APPLIED despite the stream's colliding counter: its survivors
    // landed and its own day- marker exists alongside the stream's mb-
    def batchIds(d: LocalDate) = spark.read
      .parquet(s"$root/out/warehouse/corpus/batch=${d.toEpochDay}")
      .select("doc_id").as[Long].collect().toSet
    assert(batchIds(d1) == (0L until 4L).toSet,
      "the day must apply even when a stream counter shadows its epoch day")
    assert(new java.io.File(s"$indexDir/_batches/mb-${d1.toEpochDay}").exists())
    assert(new java.io.File(s"$indexDir/_batches/day-${d1.toEpochDay}").exists())
  }
}
