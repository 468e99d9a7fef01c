package graft

import java.nio.file.Files
import java.time.LocalDate

import graft.pipelines.{Catchup, Dag}

class CatchupSpec extends SparkTestBase {
  import spark.implicits._

  private def writeDay(root: String, date: LocalDate): Unit = {
    val dayDir = new java.io.File(
      f"$root/in/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d")
    dayDir.mkdirs()
    val gz = new java.io.PrintStream(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dayDir/part-0.jsonl.gz")))
    gz.println("""{"full_text": "fast fast slow", "lang": "en"}""")
    gz.println("""{"full_text": "slow big join", "lang": "en"}""")
    gz.close()
  }

  test("generic catchup: 3-day gap detected, back-filled in order, re-run is a no-op") {
    val wm = Files.createTempDirectory("graft-wm").toString + "/watermark"
    val start = LocalDate.parse("2020-01-20")
    val today = LocalDate.parse("2020-01-25") // runs cover [20th, 25th)

    // days 20 and 22 already completed by earlier schedule ticks
    Catchup.markComplete(spark, wm, LocalDate.parse("2020-01-20"))
    Catchup.markComplete(spark, wm, LocalDate.parse("2020-01-22"))

    val missed = Catchup.missedDates(spark, wm, start, today)
    assert(missed.map(_.toString) == Seq("2020-01-21", "2020-01-23", "2020-01-24"))

    var ran = Vector.empty[LocalDate]
    val out = Catchup.run(spark, wm, start, today) { d => ran :+= d; true }
    assert(ran == missed.toVector, "gap days must run in date order")
    assert(out.forall(_._2))

    // schedule is caught up: a second catchup runs nothing
    var ranAgain = false
    val again = Catchup.run(spark, wm, start, today) { _ => ranAgain = true; true }
    assert(again.isEmpty && !ranAgain, "re-run must be a no-op")
  }

  test("failed day stays unwatermarked and retries next catchup; later days proceed") {
    val wm = Files.createTempDirectory("graft-wm2").toString + "/watermark"
    val start = LocalDate.parse("2020-03-01")
    val until = LocalDate.parse("2020-03-04")

    val bad = LocalDate.parse("2020-03-02")
    var firstPass = Vector.empty[LocalDate]
    val out1 = Catchup.run(spark, wm, start, until) { d =>
      firstPass :+= d
      if (d == bad) throw new RuntimeException("transient outage") else true
    }
    // depends_on_past=False: the failure neither stops nor reorders later days
    assert(firstPass.map(_.toString) == Seq("2020-03-01", "2020-03-02", "2020-03-03"))
    assert(out1.map { case (d, ok) => d.toString -> ok } ==
      Seq("2020-03-01" -> true, "2020-03-02" -> false, "2020-03-03" -> true))

    // only the failed day is re-materialized on the next tick
    val out2 = Catchup.run(spark, wm, start, until) { d => assert(d == bad); true }
    assert(out2 == Seq(bad -> true))
    assert(Catchup.missedDates(spark, wm, start, until).isEmpty)
  }

  test("tweets_and_market catchup: per-day dags green, warehouse converges, no-op re-run") {
    val root = Files.createTempDirectory("graft-catchup").toString
    val d1 = LocalDate.parse("2020-01-21")
    val d2 = LocalDate.parse("2020-01-22")
    writeDay(root, d1); writeDay(root, d2)
    val feed = (_: LocalDate) =>
      Seq(("NASDAQ100", Some(9083.0)), ("DAX", Some(13555.0))).toDF("index", "value")

    val runs = Catchup.runTweetsAndMarket(
      spark, s"$root/in", s"$root/out", feed, d1, d2.plusDays(1))
    assert(runs.map(_.date) == Seq(d1, d2))
    assert(runs.forall(_.ok), runs.mkString("; "))
    assert(runs.forall(_.detail.forall(_.status == Dag.Succeeded)))

    val sentiment = spark.read.parquet(
      s"$root/out/warehouse/tweets_sentiment/2020-01-21")
    assert(sentiment.count() == 1)

    val again = Catchup.runTweetsAndMarket(
      spark, s"$root/in", s"$root/out", feed, d1, d2.plusDays(1))
    assert(again.isEmpty, "caught-up schedule must not re-run day dags")
  }

  test("catchup-driven day batches survive a live stream's colliding counter and respect legacy bare markers") {
    import graft.streaming.StreamNearDup
    val root = Files.createTempDirectory("graft-catchup-ns").toString
    val wm = s"$root/wm"
    val indexDir = s"$root/neardup_index"
    val d1 = LocalDate.parse("2021-05-03") // epoch day 18750
    val d2 = LocalDate.parse("2021-05-04")

    // a live stream sharing the day-batch index has a micro-batch counter
    // numerically equal to d1's epoch day (the r13 self-flagged defect:
    // one shared namespace made the catchup day silently no-op)
    val streamDoc = "entirely separate stream content nothing else resembles anywhere"
    assert(StreamNearDup.applyBatch(
      spark, Seq((900L, streamDoc)).toDF("doc_id", "text"), "doc_id", "text",
      indexDir, s"$root/stream_out", batchId = d1.toEpochDay) == 1L)

    val dayText = Map(
      d1 -> "the quick brown fox jumps over the lazy dog again today",
      d2 -> "fresh unseen material with no overlap at all anywhere else")
    var applied = Vector.empty[(LocalDate, Long)]
    val out = Catchup.run(spark, wm, d1, d2.plusDays(1)) { d =>
      val n = StreamNearDup.applyBatch(
        spark, Seq((d.toEpochDay * 100L, dayText(d))).toDF("doc_id", "text"),
        "doc_id", "text", indexDir, s"$root/day_out", batchId = d.toEpochDay,
        namespace = StreamNearDup.DayNamespace)
      applied :+= (d, n)
      n >= 0
    }
    assert(out.forall(_._2), out.mkString("; "))
    assert(applied == Vector((d1, 1L), (d2, 1L)),
      "both days must APPLY (n >= 0) despite the stream's colliding counter")
  }
}
