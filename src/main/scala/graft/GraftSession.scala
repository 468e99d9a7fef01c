package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine: one base profile and
  * two overlays on top of it.
  *
  * The base holds every setting a local run and a 1000-executor cluster
  * share: AQE re-plans shuffles at runtime (partition coalescing,
  * skew-join splitting, the shuffled-hash rewrite), the broadcast
  * threshold keeps star-schema dims out of the shuffle, the shuffle
  * partition count is sized to the parallelism actually available instead
  * of the 200 default, and the codegen cache is sized to hold a whole
  * workload's generated classes, so a long-lived session compiles each
  * whole-stage plan once. [[builder]] overlays a local master with the UI
  * off; [[clusterBuilder]] overlays the scan and dynamic-allocation knobs
  * of a cluster deployment.
  */
object GraftSession {

  private def base(shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE sort-merge -> shuffled-hash rewrite (opt guide §3.1), off by
      // default (threshold 0): when every post-shuffle partition's map
      // output is under the bound, hashing the smaller side per partition
      // skips BOTH sort passes. Guarded by actual runtime sizes, so big
      // partitions keep the spillable sort-merge — the same 64 MB bound
      // is right on a cluster (it is per-partition, not per-node).
      // Measured: q65 3.6 -> 2.6 s, q99b 4.3 -> 4.0 s, no regressions.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // A static conf: CodeGenerator's class cache reads it once per JVM,
      // the first time codegen runs, so only the builder can set it. At
      // Spark's default of 100 the LRU evicts a workload's classes before
      // they are used again: one CorpusPipeline clean + auditCounts pass
      // under recipe V3 generates about 270 classes, and one perfbench
      // index_grow iteration evicts and recompiles 76–90.
      .config("spark.sql.codegen.cache.maxEntries", "4000")

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    base(shufflePartitions)
      .master(master)
      .config("spark.ui.enabled", "false")

  /** Cluster profile: the additional knobs a 1000-executor / 100 TB
    * deployment sets on top of the base. Shuffle partition count
    * should be ≈ 2–3× total executor cores (here parameterized);
    * `maxPartitionBytes` keeps scan tasks ≈256 MB so a 100 TB input yields
    * ~400k tasks rather than 4M; advisory partition size gives AQE a
    * target when coalescing post-shuffle partitions; dynamic allocation
    * (with shuffle tracking, no external shuffle service needed on K8s)
    * rides the job's natural parallelism curve.
    */
  def clusterBuilder(shufflePartitions: Int): SparkSession.Builder =
    base(shufflePartitions)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.dynamicAllocation.enabled", "true")
      .config("spark.dynamicAllocation.shuffleTracking.enabled", "true")

  /** The public object-store (s3a) knobs a 100 TB deployment sets before
    * anything else — the reference configures this surface explicitly
    * (`tweets.py:32-38`: s3a endpoint + credentials on the Hadoop conf).
    * Credentials/endpoint deliberately NOT set here: they come from the
    * environment (instance profile, env vars, or the caller adding
    * `fs.s3a.endpoint` etc. on top).
    *
    *  - connection pool + thread pool sized for hundreds of concurrent
    *    parquet range-reads per executor (the defaults starve a 32-core
    *    executor);
    *  - 128 MB multipart parts so column-chunk writes stream instead of
    *    buffering whole files;
    *  - the S3A "magic" committer: task commits become object copies
    *    inside the store, never a driver-side directory rename (O(files)
    *    renames on a prefix listing is the classic cloud-commit
    *    pathology);
    *  - directory markers kept (no delete storms on deep prefixes;
    *    safe on all modern Hadoop clients).
    */
  def objectStoreConf: Map[String, String] = Map(
    "spark.hadoop.fs.s3a.connection.maximum" -> "200",
    "spark.hadoop.fs.s3a.threads.max" -> "64",
    "spark.hadoop.fs.s3a.multipart.size" -> (128L * 1024 * 1024).toString,
    "spark.hadoop.fs.s3a.fast.upload.buffer" -> "disk",
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.fs.s3a.directory.marker.retention" -> "keep")

  /** The cloud-commit protocol classes, SEPARATE from [[objectStoreConf]]
    * because they live in Spark's `spark-hadoop-cloud` module (+
    * `hadoop-aws`), which is not on every classpath — setting
    * `commitProtocolClass` to an absent class breaks EVERY sql write in
    * the session, including local ones. Apply on top of
    * [[objectStoreBuilder]] only on a deployment that ships those jars.
    */
  def objectStoreCommitterConf: Map[String, String] = Map(
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter")

  /** [[clusterBuilder]] + [[objectStoreConf]]: the session profile for a
    * cluster reading/writing an object store instead of HDFS/local disk.
    * Add [[objectStoreCommitterConf]] when `spark-hadoop-cloud` is on the
    * classpath.
    */
  def objectStoreBuilder(shufflePartitions: Int): SparkSession.Builder =
    objectStoreConf.foldLeft(clusterBuilder(shufflePartitions)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
