package graft

import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import graft.pipelines.{Backfill, DailyPipeline}
import graft.sources.JsonlGz
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

class BackfillSpec extends SparkTestBase {

  private def writeDay(root: String, y: Int, m: Int, d: Int, lines: Seq[String],
      part: Int = 0): Unit = {
    val dir = new java.io.File(f"$root/$y%04d/$m%02d/$d%02d"); dir.mkdirs()
    val gz = new java.io.PrintStream(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dir/part-$part.jsonl.gz")))
    lines.foreach(gz.println)
    gz.close()
  }

  /** `body`'s result and the Spark jobs it launched, counted by a listener
    * that is removed afterwards.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc) // earlier suites' queued events must not be counted
    sc.addSparkListener(counter)
    try {
      val out = body
      TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  /** A multi-file day: 3 files of clean, off-language, retweet and corrupt
    * lines (12 summarized tweets, 3 corrupt lines).
    */
  private def writeMixedDay(root: String, y: Int, m: Int, d: Int): Unit =
    (0 until 3).foreach { f =>
      writeDay(root, y, m, d, Seq(
        s"""{"full_text": "fast fast $f", "lang": "en"}""",
        s"""{"full_text": "slow big $f", "lang": "en"}""",
        s"""{"full_text": "nothing $f", "lang": "en"}""",
        s"""{"full_text": "fast slow fast $f", "lang": "en"}""",
        s"""{"full_text": "RT @x fast $f", "lang": "en"}""",
        s"""{"full_text": "fast $f", "lang": "de"}""",
        s"""{"full_text": "truncated $f"""), part = f)
    }

  /** Summarizable and corrupt lines of one day, counted apart from the
    * pipeline: plain `count`s over the parsed files.
    */
  private def independentCounts(inRoot: String, y: Int, m: Int, d: Int): (Long, Long) = {
    val raw = JsonlGz.read(spark, f"$inRoot/$y%04d/$m%02d/$d%02d/*.jsonl.gz",
      DailyPipeline.InputSchema)
    val summarized = JsonlGz.clean(raw)
      .filter(col("lang") === "en" && !col("full_text").startsWith("RT @")).count()
    (summarized, JsonlGz.corrupt(raw).count())
  }

  test("3-day backfill: good days pass, the corrupt day is quarantined, re-run is idempotent") {
    val root = Files.createTempDirectory("graft-backfill").toString
    writeDay(root + "/in", 2020, 2, 1, Seq(
      """{"full_text": "fast fast", "lang": "en"}""",
      """{"full_text": "slow slow big", "lang": "en"}"""))
    writeDay(root + "/in", 2020, 2, 2, Seq( // the outage day: nothing parseable
      """%% not json 1 %%""",
      """%% not json 2 %%"""))
    writeDay(root + "/in", 2020, 2, 3, Seq(
      """{"full_text": "nothing here", "lang": "en"}"""))

    def backfill() = Backfill.run(spark, s"$root/in", s"$root/out",
      LocalDate.of(2020, 2, 1), LocalDate.of(2020, 2, 3))

    val r1 = backfill()
    assert(r1.map(_.date.getDayOfMonth) == Seq(1, 2, 3))
    assert(r1.map(_.ok) == Seq(true, false, true))
    assert(r1.map(_.summaryRows) == Seq(2L, 0L, 1L))

    val bad = r1(1)
    assert(bad.corruptLines == 2L)
    assert(bad.error.exists(_.contains("quality gate")))
    assert(bad.attempts == 1, "a below-gate day is deterministic - no retry")
    // the dead letter holds exactly the unparseable raw lines
    val q = JsonlGz.read(spark, bad.quarantinePath.get + "/*",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("raw_line",
          org.apache.spark.sql.types.StringType))))
    assert(JsonlGz.clean(q).count() == 2)

    // staged summaries exist only for the good days
    val staged = new java.io.File(s"$root/out/tweets-sentiment").list().toSeq
    assert(staged.count(_.endsWith(".jsonl")) == 3) // day2 still stages (zero counts)

    // IDEMPOTENT: a full re-run reports the same outcomes and the same data
    val day1 = spark.read.json(s"$root/out/tweets-sentiment/2020-02-01.jsonl").collect().toSeq
    val r2 = backfill()
    assert(r2.map(o => (o.date, o.ok, o.summaryRows, o.corruptLines)) ==
      r1.map(o => (o.date, o.ok, o.summaryRows, o.corruptLines)))
    val day1Again = spark.read.json(s"$root/out/tweets-sentiment/2020-02-01.jsonl").collect().toSeq
    assert(day1Again == day1)
  }

  test("a day with no input at all is reported failed after retries, not thrown") {
    val root = Files.createTempDirectory("graft-backfill2").toString
    writeDay(root + "/in", 2020, 3, 1, Seq("""{"full_text": "fast", "lang": "en"}"""))
    // 2020-03-02 has no directory: the read throws, which counts as
    // possibly-transient -> retried, then reported
    val out = Backfill.run(spark, s"$root/in", s"$root/out",
      LocalDate.of(2020, 3, 1), LocalDate.of(2020, 3, 2), retries = 2)
    assert(out.map(_.ok) == Seq(true, false))
    assert(out(1).attempts == 3)
    assert(out(1).error.nonEmpty)
  }

  test("job budget: one date over several files costs at most 2 Spark jobs, with exact counts") {
    val root = Files.createTempDirectory("graft-backfill-jobs").toString
    writeMixedDay(root + "/in", 2020, 4, 1)
    val date = LocalDate.of(2020, 4, 1)
    Backfill.run(spark, s"$root/in", s"$root/out", date, date) // warm: plan caches

    val (out, jobs) = jobsOf(Backfill.run(spark, s"$root/in", s"$root/out", date, date))
    assert(jobs <= 2, s"one scan (dead letters + counts) and one staged write, got $jobs jobs")
    val o = out.head
    assert(o.ok && o.attempts == 1)
    val (summarized, corrupt) = independentCounts(s"$root/in", 2020, 4, 1)
    assert((summarized, corrupt) == (12L, 3L))
    assert(o.summaryRows == summarized)
    assert(o.corruptLines == corrupt)
    assert(spark.read.text(o.quarantinePath.get).count() == corrupt)
  }

  test("a scan that fails mid-write is retried with a fresh observation and exact counts") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    FaultFs.reset()
    val root = Files.createTempDirectory("graft-backfill-retry").toString
    writeMixedDay(root + "/in", 2020, 4, 2)
    val date = LocalDate.of(2020, 4, 2)
    try {
      // the first attempt's dead-letter scan (the observed write) loses an
      // input file; its metrics never arrive, so it must fail, not block
      FaultFs.failDataOpens.set(1)
      val o = Backfill.run(spark, s"faultfs://$root/in", s"$root/out", date, date).head
      assert(FaultFs.failDataOpens.get == 0, "the fault must have fired")
      assert(o.ok, o.error)
      assert(o.attempts == 2, "the failed scan must have been retried")
      val (summarized, corrupt) = independentCounts(s"$root/in", 2020, 4, 2)
      assert(o.summaryRows == summarized)
      assert(o.corruptLines == corrupt)
    } finally FaultFs.reset()
  }

  test("re-running a date whose input was mended removes its stale quarantine") {
    val root = Files.createTempDirectory("graft-backfill-stale").toString
    val date = LocalDate.of(2020, 4, 3)
    def backfill() = Backfill.run(spark, s"$root/in", s"$root/out", date, date).head
    val qDir = new java.io.File(s"$root/out/quarantine/2020-04-03")

    writeDay(root + "/in", 2020, 4, 3, Seq(
      """{"full_text": "fast", "lang": "en"}""",
      """not json"""))
    val first = backfill()
    assert(first.ok && first.corruptLines == 1)
    assert(first.quarantinePath.contains(qDir.getPath))
    assert(qDir.isDirectory)

    // the upstream re-delivers the day without the bad line
    writeDay(root + "/in", 2020, 4, 3, Seq("""{"full_text": "fast", "lang": "en"}"""))
    val again = backfill()
    assert(again.ok && again.corruptLines == 0)
    assert(again.quarantinePath.isEmpty)
    assert(!qDir.exists, "the old dead letters must not outlive the mended input")
  }
}
