package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, StringType}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** Gzipped-JSONL reader/writer with explicit schema and a corrupt-record
  * policy (SURVEY §2 `sources.JsonlGz`).
  *
  * Re-expresses the reference's tweet ingest (`tweets.py:48`: a
  * `spark.read.json` over a daily directory of `.jsonl.gz` files)
  * Spark-first:
  *  - an EXPLICIT schema instead of inference — at 100 TB, schema
  *    inference is a full extra pass over the data;
  *  - PERMISSIVE parsing with a corrupt-record column, so bad lines are
  *    quarantined instead of killing the job or silently vanishing;
  *  - gzip handled transparently by the codec from the file extension.
  *
  * Implementation: text source + `from_json`, NOT the JSON file source.
  * The JSON source forbids any query whose referenced columns reduce to
  * just `_corrupt_record` (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
  * COLUMN) — which is exactly what `clean(df).count()` or a quarantine
  * write prunes down to. With `from_json` the corrupt column is an
  * ordinary derived column: same single scan, same codegen'd parse, no
  * restriction.
  *
  * Dead-lettering ([[deadLetter]]) is that single scan too: the quarantine
  * write carries an `Observation`, so the corrupt count — and any counts
  * the caller adds over the same rows — arrive with the write instead of
  * costing a `cache`/`count` or checkpoint job of their own.
  */
object JsonlGz {

  val CorruptCol = "_corrupt_record"

  private def withCorrupt(schema: StructType): StructType =
    if (schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(StructField(CorruptCol, StringType, nullable = true))

  /** Read JSONL (optionally .gz) with an explicit schema. Rows that fail
    * to parse carry the raw line in [[CorruptCol]] and null elsewhere.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.text(path)
      .select(from_json(
        col("value"), withCorrupt(schema),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)).as("j"))
      .select(col("j.*"))

  /** The cleanly-parsed rows (corrupt column null), corrupt column dropped. */
  def clean(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull).drop(CorruptCol)

  /** The quarantined raw lines, for a dead-letter sink. */
  def corrupt(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw_line"))

  /** Dead-letter `df`'s corrupt lines to `path` (overwrite) in ONE job that
    * scans `df` once, counting over every row of that scan: the corrupt
    * lines first, then one count per `countIf` predicate. `path` is deleted
    * when no line was corrupt, so a re-run of input that was mended never
    * leaves a stale quarantine behind.
    *
    * A fresh `Observation` per call (one may observe only one query, and a
    * retry is a new query). A failed write throws before `get`, which would
    * otherwise block forever on metrics that never arrive.
    */
  def deadLetter(df: DataFrame, path: String, countIf: Column*): Seq[Long] = {
    val obs = Observation()
    val counts = (col(CorruptCol).isNotNull +: countIf).zipWithIndex
      .map { case (p, i) => count_if(p).as(s"c$i") }
    write(corrupt(df.observe(obs, counts.head, counts.tail: _*)), path)
    val got = obs.get
    val n = counts.indices.map(i => got(s"c$i").asInstanceOf[Long])
    if (n.head == 0) {
      val p = new Path(path)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    }
    n
  }

  /** Write gzipped JSONL (the reference's summary write, `tweets.py:82`). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)
}
