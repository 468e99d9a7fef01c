package graft.pipelines

import graft.functions.TextFunctions
import graft.sources.{JsonlGz, SqlSink}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The reference's whole daily DAG (`airflow/dags/tweets_and_market.py`) as
  * one composable library call — the end-to-end proof that a user of the
  * reference can switch: extract (daily gz JSONL) → transform (filter +
  * sentiment + wide summary record, `tweets.py:50-77`) → load (JSONL
  * summary write + warehouse DDL/COPY statements, `tweets.py:82,94-133`)
  * → quality gate (`tweets.py:136-142`).
  *
  * Differences from the reference are deliberate Spark-first upgrades:
  * the majority vote is one native codegen'd expression
  * ([[graft.plans.LexiconVote]]: one pass over the tweet's bytes, one
  * hashed lookup per token) instead of a Python UDF; the
  * summary counts are observed by the one scan that also dead-letters the
  * corrupt lines, not an `rdd.collect()` into a dict on the driver; the
  * quality check is a returned statement, not a blocking
  * round-trip. Orchestration (Airflow, cron, Structured Streaming via
  * [[graft.streaming.EventStream]]) stays outside the library.
  */
object DailyPipeline {

  /** Input line schema (the tweets subset the reference reads). */
  val InputSchema: StructType = StructType(Seq(
    StructField("full_text", StringType),
    StructField("lang", StringType)))

  /** Warehouse table schema, mirroring `sql/create_tables.sql`. */
  val SummarySchema: StructType = StructType(Seq(
    StructField("tweets_sentiment_id", StringType, nullable = false),
    StructField("date", TimestampType, nullable = false),
    StructField("year", ShortType, nullable = false),
    StructField("month", ShortType, nullable = false),
    StructField("day", ShortType, nullable = false),
    StructField("language", StringType, nullable = false),
    StructField("positive_count", IntegerType, nullable = false),
    StructField("negative_count", IntegerType, nullable = false),
    StructField("na_count", IntegerType, nullable = false)))

  /** Everything the day's run produces: the summary row (a local one-row
    * frame: reading it runs no job), where the staged JSONL lives, how many
    * input lines were corrupt and where they were dead-lettered (`None`
    * when there were none), and the statements the warehouse side runs.
    */
  case class DayRun(
      summary: DataFrame,
      stagedPath: String,
      corruptLines: Long,
      quarantinePath: Option[String],
      ddl: String,
      copySql: String,
      qualityCheckSql: String)

  /** One execution date, reference semantics end to end, in ONE scan of
    * the day's input: the job that dead-letters the unparseable lines to
    * `outputRoot/quarantine/yyyy-mm-dd` (overwrite; removed when there are
    * none) also counts the lexicon votes, and the summary row is built
    * from those counts, so the staged-summary write scans nothing.
    *
    * @param inputRoot  root of the `{y}/{m}/{d}/` daily gz-JSONL layout (R1)
    * @param outputRoot staging root for daily summary JSONL (R10) and the
    *                   dead letters
    */
  def processDay(
      spark: SparkSession,
      inputRoot: String, outputRoot: String,
      year: Int, month: Int, day: Int,
      language: String = "en",
      credentialClause: String = "IAM_ROLE '<role-arn>'"): DayRun = {

    val date = f"$year%04d-$month%02d-$day%02d"
    val inPath = f"$inputRoot/$year%04d/$month%02d/$day%02d/*.jsonl.gz"
    val stagedPath = s"$outputRoot/tweets-sentiment/$date.jsonl"
    val quarantinePath = s"$outputRoot/quarantine/$date"

    // Extract: explicit schema + quarantine (vs the reference's inference).
    // Transform: each row tagged with its vote (tweets.py:53-59), null
    // unless it is clean and passes the tweets.py:50-51 filters
    val raw = JsonlGz.read(spark, inPath, InputSchema)
    val kept = col(JsonlGz.CorruptCol).isNull &&
      col("lang") === language && !col("full_text").startsWith("RT @")
    val vote = col("vote")
    val Seq(corruptLines, positive, negative, na) = JsonlGz.deadLetter(
      raw.select(col(JsonlGz.CorruptCol),
        when(kept, TextFunctions.overallSentiment(col("full_text"))).as("vote")),
      quarantinePath,
      vote === "positive", vote === "negative", vote === "na")

    // tweets.py:62-77 summary record, over the observed counts
    val counts = spark.createDataFrame(
      java.util.List.of(Row(positive, negative, na)),
      StructType(Seq("positive", "negative", "na")
        .map(StructField(_, LongType, nullable = false))))
    val summary = counts.select(
        lit(s"$date($language)").as("tweets_sentiment_id"),
        to_timestamp(lit(date)).as("date"),
        lit(year).cast("short").as("year"),
        lit(month).cast("short").as("month"),
        lit(day).cast("short").as("day"),
        lit(language).as("language"),
        col("positive").cast("int").as("positive_count"),
        col("negative").cast("int").as("negative_count"),
        col("na").cast("int").as("na_count"))

    // Load: staged JSONL + the warehouse statements (caller runs them)
    JsonlGz.write(summary, stagedPath)
    DayRun(
      summary = summary,
      stagedPath = stagedPath,
      corruptLines = corruptLines,
      quarantinePath = if (corruptLines > 0) Some(quarantinePath) else None,
      ddl = SqlSink.createTableSql("tweets_sentiment", SummarySchema,
        primaryKey = Some("tweets_sentiment_id")),
      copySql = SqlSink.copySql("tweets_sentiment", stagedPath, "JSON", credentialClause),
      qualityCheckSql = SqlSink.rowCountCheckSql("tweets_sentiment", "date"))
  }
}
