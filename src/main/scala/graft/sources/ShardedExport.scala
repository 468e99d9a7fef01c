package graft.sources

import graft.functions.TextFunctions
import graft.operators.Sampling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TRAINING-SHARD export (SURVEY §2 sources/sinks
  * `sources.ShardedExport`) — the last hop of the cleaning pipeline: the
  * cleaned corpus lands as numbered shards in a reproducible order with a
  * self-describing manifest, so a training job can map shard → worker
  * statically, resume mid-epoch by shard id, and verify integrity without
  * re-reading the corpus.
  *
  * Layout under `path`:
  *   - `data/shard=<k>/` parquet — `docsPerShard` docs per shard in the
  *     q80 shuffle order (ordinal = pure function of ids: identical on
  *     any engine, partitioning, or rerun — `orderBy(rand())` can never
  *     give a resumable epoch)
  *   - `manifest/` parquet — per shard: n_docs, n_tokens, ordinal range,
  *     and an order-independent integrity digest (`bit_xor` of doc-id
  *     hashes — cheap, mergeable, catches lost/duplicated rows though
  *     not adversarial tampering)
  *
  * Scale shape: the ordinal is [[Sampling.shuffleOrder]]'s distributed
  * bucket prefix sum (never a single-partition window); the write
  * repartitions BY shard so each shard is one task's sequential write;
  * the manifest is one map-side-combined aggregation. [[readShard]] scans
  * with a `shard = k` predicate — partition pruning at planning time, the
  * q107b discipline (spec-asserted: the pruned scan opens only that
  * shard's files).
  */
object ShardedExport {

  /** Write `docs` as ordered shards + manifest; returns the manifest. */
  def write(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      docsPerShard: Int = 10000): DataFrame = {
    require(docsPerShard > 0, "docsPerShard must be positive")
    // materialize once: the data write AND the manifest aggregation both
    // consume this — without the checkpoint the corpus scan and the
    // two-stage prefix sum would run twice (the repeated-scan trap; the
    // file_scans of `QueryTrace(spark)(write(...))` count the passes)
    val ordered = Sampling.shuffleOrder(docs, idCol)
      .withColumn("shard", (col("ordinal") / docsPerShard).cast("int"))
      .localCheckpoint()
    ordered
      .repartition(col("shard"))
      .sortWithinPartitions(col("ordinal"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/data")
    val manifest = ordered.groupBy(col("shard")).agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(col(textCol))).as("n_tokens"),
      min(col("ordinal")).as("first_ordinal"),
      max(col("ordinal")).as("last_ordinal"),
      expr(s"bit_xor(xxhash64(`$idCol`))").as("digest"))
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
    docs.sparkSession.read.parquet(s"$path/manifest")
  }

  /** One shard, via a static partition-pruned scan. */
  def readShard(spark: SparkSession, path: String, shard: Int): DataFrame =
    spark.read.parquet(s"$path/data").filter(col("shard") === shard)

  /** A data-parallel worker's slice of the export: shards where
    * `shard % worldSize == rank` — the static shard → worker map the
    * layout exists for. Disjoint and covering across ranks by
    * construction, in-order within the slice, and a static IN-list
    * predicate when the shard count is known (from the manifest), so the
    * scan prunes partitions at planning time like [[readShard]]; with an
    * unknown shard count the modulo filter still prunes on the partition
    * column. Each epoch's worker set can re-slice the SAME export —
    * resharding data for a different worldSize costs nothing.
    */
  def readSlice(
      spark: SparkSession, path: String, rank: Int, worldSize: Int): DataFrame = {
    require(worldSize > 0 && rank >= 0 && rank < worldSize,
      s"rank $rank must be in [0, $worldSize)")
    val shards = spark.read.parquet(s"$path/manifest")
      .select(col("shard").cast("int")).collect().map(_.getInt(0))
      .filter(s => s % worldSize == rank).sorted
    spark.read.parquet(s"$path/data")
      .filter(col("shard").isInCollection(shards.toSeq))
  }

  /** Recompute every shard's stats from the data and diff against the
    * manifest: (shard, ok, n_docs_expected, n_docs_actual). A lost or
    * duplicated row flips `ok` via the count or the xor digest.
    */
  def verify(spark: SparkSession, path: String, idCol: String): DataFrame = {
    val actual = spark.read.parquet(s"$path/data")
      .groupBy(col("shard")).agg(
        count(lit(1)).as("a_docs"),
        expr(s"bit_xor(xxhash64(`$idCol`))").as("a_digest"))
    spark.read.parquet(s"$path/manifest")
      .join(actual, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(
          col("n_docs") === col("a_docs") && col("digest") === col("a_digest"),
          lit(false)).as("ok"),
        col("n_docs").as("n_docs_expected"),
        coalesce(col("a_docs"), lit(0L)).as("n_docs_actual"))
  }
}
