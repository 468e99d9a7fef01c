package graft.pipelines

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-day backfill over [[DailyPipeline]] — the reference DAG's
  * operational semantics (per-execution-date idempotent runs, retries,
  * quality gate, `tweets_and_market.py`) as a library call, for the first
  * thing an operator does after an outage: re-run a date range.
  *
  * Per day: run the day's pipeline — ONE scan of its input, which
  * dead-letters the unparseable lines under `outputRoot/quarantine` and
  * counts the summary on the way ([[DailyPipeline.processDay]]) — gate on
  * the summary actually containing rows, retry transient failures, and
  * record an outcome from the `DayRun` counts — a bad day is quarantined
  * and REPORTED, never silently skipped, and never aborts the rest of the
  * range (the reference's `depends_on_past=False` behavior).
  *
  * Idempotent by construction: every day writes to deterministic per-day
  * paths in overwrite mode (staged summary, quarantine — removed when the
  * day has no corrupt line), so re-running a range converges to the same
  * outputs with no duplicates and no stale dead letters — the property
  * Airflow's execution-date model gives the reference.
  *
  * Scale notes: the driver loop is per-DAY orchestration (bounded,
  * sequential, like the scheduler it replaces); all per-ROW work stays in
  * Spark jobs, two per day: the dead-letter scan and the staged-summary
  * write. Each outcome holds one summary row — O(days) driver memory.
  */
object Backfill {

  /** One execution date's result. `ok=false` days carry why: a thrown
    * error (after `retries+1` attempts) or a failed quality gate; their
    * corrupt input, if any, is at `quarantinePath`.
    */
  case class DayOutcome(
      date: LocalDate,
      ok: Boolean,
      attempts: Int,
      summaryRows: Long,
      corruptLines: Long,
      quarantinePath: Option[String],
      error: Option[String])

  /** Backfill `[start, endInclusive]`. `minRows` is the quality gate on
    * the day's summarized tweet count (the reference gates `count(*) > 0`
    * after each daily load, `tweets.py:136-142`).
    */
  def run(
      spark: SparkSession,
      inputRoot: String, outputRoot: String,
      start: LocalDate, endInclusive: LocalDate,
      language: String = "en",
      retries: Int = 1, minRows: Long = 1): Seq[DayOutcome] = {
    require(!endInclusive.isBefore(start), s"empty range $start..$endInclusive")
    Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(endInclusive))
      .map(d => runDay(spark, inputRoot, outputRoot, d, language, retries, minRows))
      .toSeq
  }

  private def runDay(
      spark: SparkSession,
      inputRoot: String, outputRoot: String,
      date: LocalDate, language: String,
      retries: Int, minRows: Long): DayOutcome = {
    val (y, m, d) = (date.getYear, date.getMonthValue, date.getDayOfMonth)
    var attempt = 0
    var last: DayOutcome = null
    var retryable = true
    while (attempt <= retries && (last == null || (!last.ok && retryable))) {
      attempt += 1
      retryable = false
      last =
        try {
          val run = DailyPipeline.processDay(spark, inputRoot, outputRoot, y, m, d, language)
          // the gate: how many tweets the day actually summarized (the
          // summary is a local row: reading it runs no job)
          val n = run.summary
            .select((col("positive_count") + col("negative_count") + col("na_count"))
              .cast("long"))
            .head().getLong(0)
          if (n >= minRows)
            DayOutcome(date, ok = true, attempt, n, run.corruptLines, run.quarantinePath, None)
          else
            // deterministic outcome (the data IS below the gate) — no retry
            DayOutcome(date, ok = false, attempt, n, run.corruptLines, run.quarantinePath,
              Some(s"quality gate: $n summarized rows < $minRows"))
        } catch {
          case e: Exception =>
            retryable = true // thrown = possibly transient (missing mount, OOM)
            DayOutcome(date, ok = false, attempt, 0L, 0L, None,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
    }
    last
  }
}
