package graft

import java.nio.file.Files

import graft.pipelines.DailyPipeline
import graft.sources.JsonlGz
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

class DailyPipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("end-to-end day run: extract -> sentiment summary -> staged load") {
    val root = Files.createTempDirectory("graft-daily").toString
    val dayDir = new java.io.File(s"$root/in/2020/01/21"); dayDir.mkdirs()
    val gz = new java.io.PrintStream(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dayDir/part-0.jsonl.gz")))
    gz.println("""{"full_text": "fast fast slow", "lang": "en"}""")   // positive
    gz.println("""{"full_text": "slow big join", "lang": "en"}""")    // negative (2n 1p)
    gz.println("""{"full_text": "nothing here", "lang": "en"}""")     // na
    gz.println("""{"full_text": "RT @x fast fast", "lang": "en"}""")  // retweet: dropped
    gz.println("""{"full_text": "fast", "lang": "de"}""")             // wrong lang: dropped
    gz.println("""not json at all""")                                 // corrupt: quarantined
    gz.close()

    val run = DailyPipeline.processDay(spark, s"$root/in", s"$root/out", 2020, 1, 21)

    val row = run.summary.collect()(0)
    assert(row.getAs[String]("tweets_sentiment_id") == "2020-01-21(en)")
    assert(row.getAs[Int]("positive_count") == 1)
    assert(row.getAs[Int]("negative_count") == 1)
    assert(row.getAs[Int]("na_count") == 1)
    // the summary keeps the warehouse's columns and types
    assert(run.summary.schema.map(f => f.name -> f.dataType) ==
      DailyPipeline.SummarySchema.map(f => f.name -> f.dataType))
    assert(run.summary.count() == 1)

    // the same scan dead-lettered exactly the unparseable line
    assert(run.corruptLines == 1)
    assert(run.quarantinePath.contains(s"$root/out/quarantine/2020-01-21"))
    val dead = spark.read.schema("raw_line STRING").json(run.quarantinePath.get)
    assert(dead.as[String].collect().toSeq == Seq("not json at all"))

    // staged JSONL is re-readable with the declared warehouse schema
    val staged = JsonlGz.clean(
      JsonlGz.read(spark, run.stagedPath, DailyPipeline.SummarySchema))
    assert(staged.count() == 1)

    assert(run.ddl.contains("CREATE TABLE IF NOT EXISTS tweets_sentiment"))
    assert(run.ddl.contains("\"tweets_sentiment_id\" varchar(65535) PRIMARY KEY"))
    assert(run.copySql.startsWith("COPY tweets_sentiment"))
    assert(run.qualityCheckSql ==
      "SELECT count(*) AS n FROM tweets_sentiment WHERE \"date\" = ?")
  }

  test("a day without corrupt lines leaves no quarantine directory") {
    val root = Files.createTempDirectory("graft-daily-clean").toString
    val dayDir = new java.io.File(s"$root/in/2020/01/22"); dayDir.mkdirs()
    val gz = new java.io.PrintStream(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dayDir/part-0.jsonl.gz")))
    gz.println("""{"full_text": "fast", "lang": "en"}""")
    gz.close()

    val run = DailyPipeline.processDay(spark, s"$root/in", s"$root/out", 2020, 1, 22)
    assert(run.corruptLines == 0)
    assert(run.quarantinePath.isEmpty)
    assert(!new java.io.File(s"$root/out/quarantine/2020-01-22").exists)
    assert(run.summary.select("positive_count").as[Int].collect().toSeq == Seq(1))
  }

  test("the vote in processDay's executed plan is the native kernel, not a HOF chain") {
    val root = Files.createTempDirectory("graft-daily-plan").toString
    val dayDir = new java.io.File(s"$root/in/2020/01/23"); dayDir.mkdirs()
    val gz = new java.io.PrintStream(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dayDir/part-0.jsonl.gz")))
    gz.println("""{"full_text": "fast fast slow", "lang": "en"}""")
    gz.close()

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      DailyPipeline.processDay(spark, s"$root/in", s"$root/out", 2020, 1, 23)
      ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    val voting = plans.asScala.filter(_.contains("lexicon_vote")).toSeq
    assert(voting.nonEmpty, s"no executed plan carries the native vote:\n${plans.asScala.mkString("\n")}")
    for (p <- voting)
      assert(!p.contains("lambdafunction") && !p.contains("filter("), s"HOF vote in plan:\n$p")
  }
}
