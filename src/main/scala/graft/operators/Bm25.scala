package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 retrieval (SURVEY §2 q82) — the ranking function between q42's raw
  * TF-IDF weights and q63's pairwise cosine: given a bag-of-terms query,
  * score every document with Okapi BM25 and keep the top k per language.
  *
  * Shape, not formula, is what matters at 100 TB:
  *   - per-document term frequencies come from codegen'd array HOFs
  *     (`size(filter(toks, _ = t))`) over the split column — NO explode, so
  *     the corpus never fans out to a token table and nothing shuffles to
  *     compute tf;
  *   - the collection statistics (N, total tokens, per-term document
  *     frequencies) are ONE tiny aggregation producing a single row that
  *     broadcast-joins back — the idf constants ride the closure, not a
  *     shuffle;
  *   - top-k per language uses the q10 `BoundedTopK` aggregator: at most k
  *     rows leave each partition per language and nothing sorts.
  * The narrow (id, lang, dl, tf…) frame is materialized once and feeds both
  * the stats pass and the scoring pass (the q63 single-scan discipline; at
  * petabyte scale swapping the checkpoint for a second pruned parquet scan
  * is a config choice, not a redesign).
  *
  * Cross-engine fidelity: the score is pure double arithmetic + `ln`, with
  * every operation written in the same order as the DuckDB twin, rounded to
  * 4 dp (the q61 ln discipline) BEFORE ranking; ties break on doc_id, so
  * the ranking is engine-independent even where two docs round together.
  * Reference trace: the mandate's similarity-search family; formula is
  * Robertson–Spärck Jones BM25 (k1=1.2, b=0.75).
  */
object Bm25 {

  /** Default query — three corpus terms spanning the df range. */
  val DefaultQuery: Seq[String] = Seq("spark", "vector", "customer")

  def retrieve(
      docs: DataFrame,
      terms: Seq[String] = DefaultQuery,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "bounded query term list")
    val tfCols = terms.indices.map(i => s"tf$i")

    // one narrow pass: doc id, lang, doc length, one tf column per term
    val base = docs
      .filter(col("text").isNotNull)
      .select(
        Seq(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("dl")) ++
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(split(col("text"), " "), x => x === lit(t)))
              .cast("long").as(s"tf$i")
          }: _*)
      .localCheckpoint()

    // collection stats: a single row (N, total tokens, df per term)
    val statCols = Seq(count(lit(1)).as("n"), sum(col("dl")).as("tt")) ++
      tfCols.map(c => sum(when(col(c) > 0, 1L).otherwise(0L)).as(s"df_$c"))
    val stats = base.agg(statCols.head, statCols.tail: _*)

    scoreAndRank(base, stats, tfCols, k, k1, b)
  }

  /** The shared scoring tail of [[retrieve]] and [[retrieveIndexed]]:
    * `base` is the narrow (doc_id, lang, dl, tf0…) frame, `stats` the
    * one-row (n, tt, df_tf0…) frame. ONE expression tree serves both
    * paths, so index-vs-scan equality is structural, not coincidental:
    * the same double arithmetic in the same left-to-right term order as
    * the SQL twin, rounded to 4 dp BEFORE ranking, doc_id tiebreak.
    */
  private def scoreAndRank(
      base: DataFrame, stats: DataFrame, tfCols: Seq[String],
      k: Int, k1: Double, b: Double): DataFrame = {
    // score = sum_t idf_t * tf*(k1+1) / (tf + k1*(1-b+b*dl*N/tt)),
    // written term-by-term left to right exactly like the SQL twin
    val score = tfCols
      .map { c =>
        val idf = log(lit(1.0) + (col("n") - col(s"df_$c") + lit(0.5)) / (col(s"df_$c") + lit(0.5)))
        idf * (col(c) * lit(k1 + 1.0)) /
          (col(c) + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") * col("n") / col("tt")))
      }
      .reduce(_ + _)

    val scored = base
      .join(broadcast(stats))
      .filter(tfCols.map(col(_)).reduce(_ + _) > 0)
      .select(col("lang"), col("doc_id"), round(score, 4).as("bm25"))

    // bounded top-k per language on the ROUNDED score, doc_id tiebreak
    val topk = udaf(
      new BoundedTopK[(Double, Long)](k)((a, x) =>
        a._1 > x._1 || (a._1 == x._1 && a._2 < x._2)),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    scored
      .groupBy(col("lang"))
      .agg(topk(col("bm25"), col("doc_id")).as("w"))
      .select(col("lang"), posexplode(col("w")).as(Seq("pos", "x")))
      .select(
        col("lang"),
        col("x._2").as("doc_id"),
        col("x._1").as("bm25"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  // ---------------------------------------------------------------------
  // The PERSISTED inverted index (SURVEY §2 q82b) — [[retrieve]] pays a
  // full corpus scan per query batch; at 100 TB a retrieval service pays
  // the tokenize + (term, doc) aggregation ONCE and every probe after
  // that reads O(df(query terms)) posting rows. The artifact is the
  // third member of the engine's index family (minhash shingle index,
  // IVF-PQ cell index) and follows their conventions: partitioned data
  // dirs pruned statically at probe time, underscore sidecars making the
  // artifact self-contained, a (session, path)-keyed build-once cache,
  // and exact append maintenance.
  //
  // Layout at `path`:
  //   pb=<bucket>/…      (term, doc_id, lang, dl, tf) posting rows,
  //                      pb = pmod(xxhash64(term), buckets) — a probe
  //                      for T terms opens ≤ T partitions' files
  //   _stats/…           one row (buckets, n, tt): the bucketing constant
  //                      and the collection stats the BM25 idf needs
  // Per-term document frequencies are NOT a sidecar: df(t) is a count
  // over exactly the posting rows a probe already reads, so it stays
  // correct under appends for free.
  //
  // Unlike the ANN index there is NO frozen model — the only build-time
  // state is the stateless hash bucketing — so append maintenance is
  // EXACT: a grown index is bit-identical in probe results to a fresh
  // build of the union corpus (Bm25Spec asserts it). Reference trace:
  // the mandate's similarity-search family, impact-partitioned postings
  // as in any production inverted index.
  // ---------------------------------------------------------------------

  /** Driver-side handle: `n` docs / `tt` total tokens live in `_stats`. */
  final case class Bm25Index(path: String, buckets: Int, n: Long, tt: Long)

  /** The (pb, term, doc_id, lang, dl, tf) posting rows of a corpus — the
    * shared row shape of [[writeIndex]] (build) and [[appendToIndex]]
    * (ingest): a stateless transform of the docs, which is WHY append
    * maintenance is exact. One shuffle on (term, doc_id) builds it; the
    * token explode that [[retrieve]] avoids per-query is paid here once.
    */
  private[graft] def postingRows(docs: DataFrame, buckets: Int): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("lang"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(pmod(xxhash64(col("term")), lit(buckets)).as("pb"),
        col("term"), col("doc_id"), col("lang"), col("dl"), col("tf"))

  private def writeStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String, buckets: Int, n: Long, tt: Long): Unit = {
    import spark.implicits._
    Seq((buckets, n, tt)).toDF("buckets", "n", "tt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")
  }

  def writeIndex(docs: DataFrame, path: String, buckets: Int = 64): Bm25Index = {
    require(buckets > 0, "positive bucket count")
    val sp = docs.sparkSession
    // pre-shuffle by bucket before the dynamic-partition write (the
    // Pq.writeIndex discipline, SCALING_r15 §1): straight off the
    // groupBy, every write task sees ~every pb value and opens
    // numTasks × buckets small files; one shuffle of the posting rows
    // lands ~one file per bucket — the layout the pb-pruned probe
    // wants. AQE-rebalanced placement (Pq.placeByPartitionCol): a
    // stop-word-heavy bucket splits past the advisory size instead of
    // strangling one write task.
    Pq.placeByPartitionCol(postingRows(docs, buckets), "pb")
      .write.partitionBy("pb").mode("overwrite").parquet(path)
    val st = docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L)).as("tt"))
      .collect().head
    val (n, tt) = (st.getLong(0), st.getLong(1))
    writeStats(sp, path, buckets, n, tt)
    Bm25Index(path, buckets, n, tt)
  }

  /** Session-scoped build-once cache for [[writeIndexOnce]] — a
    * [[BuildOnce]] (key contract, parameter check and eviction rules live
    * there). A cache hit with a different `buckets` fails loudly instead
    * of silently serving the first build's layout (r11 ADVICE);
    * `fingerprintBy` (e.g. `"doc_id, text"`) opts into content-checked
    * keys so a mutated corpus at the same path rebuilds — at a VERSIONED
    * sibling path ([[BuildOnce.versionedPath]]), so earlier handles keep
    * pointing at their own on-disk postings (r12 ADVICE: a bare-path
    * rebuild left a cached corpus-A handle whose in-memory (n, tt) aliased
    * corpus B's postings — silently wrong scores).
    */
  private val builtIndexes = new BuildOnce[Bm25Index](
    "Bm25.writeIndexOnce",
    (_, v) => BuildOnce.deleteDir(v.path),
    _.path)

  def writeIndexOnce(docs: DataFrame, path: String, buckets: Int = 64,
      fingerprintBy: Option[String] = None): Bm25Index = {
    val (key, target) = fingerprintBy.fold((path, path)) { e =>
      val fp = BuildOnce.fingerprint(docs, e)
      (BuildOnce.versionKey(path, fp), BuildOnce.versionedPath(path, fp))
    }
    val spark = docs.sparkSession
    builtIndexes.getOrBuild(spark, key, s"buckets=$buckets",
      // cross-JVM coordination (r14 verdict #1, the Pq.writeIndexOnce
      // twin): serialize same-path builders from different JVMs on the
      // artifact's build lease; a waiter finding the winner's completed
      // index reads it instead of rebuilding over it. `_stats/_SUCCESS`
      // is the completeness witness (writeStats is writeIndex's last
      // write).
      graft.sources.BuildLock.withLease(spark, target, "BM25 index build") {
        if (indexComplete(spark, target)) {
          val idx = readIndex(spark, target)
          require(idx.buckets == buckets,
            s"writeIndexOnce: completed index at $target was built with " +
              s"${idx.buckets} buckets but this caller requested $buckets " +
              "— same-path producers must agree on layout")
          idx
        } else writeIndex(docs, target, buckets)
      },
      // protect the output path from install time (a dead session's
      // same-path artifact must not be reaped mid-build), and GC this
      // session's superseded content versions once this one is built
      intendedId = Some(target),
      supersedes = fingerprintBy.map(_ => BuildOnce.supersedesPrefix(path)))
  }

  /** True iff a [[writeIndex]] at `path` ran to completion — `_stats` is
    * its last write, so that sidecar's `_SUCCESS` witnesses the postings
    * landed too.
    */
  private[graft] def indexComplete(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_stats/_SUCCESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def readIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Bm25Index = {
    val st = graft.sources.Sidecar.read(spark, s"$path/_stats").collect().head
    Bm25Index(path, st.getInt(0), st.getLong(1), st.getLong(2))
  }

  /** EXACT incremental maintenance: the delta's posting rows append into
    * the pb partitions (untouched buckets' files never opened — the
    * `PartitionedUpsert` discipline, spec-asserted) and `_stats` advances
    * by the delta's (docs, tokens). Because posting rows are a stateless
    * per-doc transform and df is probe-time-derived, the grown index's
    * probe results are BIT-IDENTICAL to a fresh build of the union
    * corpus — no frozen-model approximation, no drift gate needed. The
    * caller must not split one document across batches (a doc's postings
    * all carry its full dl). Stats write follows the data append; a
    * crash between the two leaves scores computed from slightly-stale
    * (n, tt) — which is why production ingest goes through
    * [[appendBatch]]'s marker protocol: a batch is only trusted once its
    * marker committed AFTER data and stats both landed.
    */
  def appendToIndex(index: Bm25Index, delta: DataFrame): Bm25Index = {
    val sp = delta.sparkSession
    // ~one file per touched bucket per append; AQE-rebalanced so a
    // skew-heavy delta bucket splits instead of straggling (Pq's
    // placeByPartitionCol doc)
    Pq.placeByPartitionCol(postingRows(delta, index.buckets), "pb")
      .write.partitionBy("pb").mode("append").parquet(index.path)
    val st = delta.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L)).as("tt"))
      .collect().head
    val grown = Bm25Index(index.path, index.buckets,
      index.n + st.getLong(0), index.tt + st.getLong(1))
    writeStats(sp, index.path, grown.buckets, grown.n, grown.tt)
    grown
  }

  /** [[appendToIndex]] under the batch-marker replay protocol
    * [[graft.streaming.Markers.claimBatch]] shared with the ANN index
    * ([[Pq.appendBatch]]) — the production answer to
    * [[appendToIndex]]'s stats-write crash window:
    *  - a non-empty `_batches/<namespace>-<batchId>` marker → the batch
    *    is applied; a replay no-ops (-1) instead of double-appending
    *    postings. The DAG claims `day-<id>`, the live grow leg
    *    ([[graft.streaming.StreamBm25Grow]]) `mb-<id>`;
    *  - the first batch (or a day-one replay whose attempt died before
    *    the marker) BUILDS via [[writeIndex]] — overwrite is exactly-once
    *    where appending would duplicate;
    *  - appends run under the mutation lease: the `_stats` update is a
    *    read-modify-write, so two unleased producers' appends would lose
    *    one side's (n, tt) delta;
    *  - a claimed-but-dead batch self-heals only when its `.pre` manifest
    *    proves nothing landed, otherwise reads RED for the operator.
    * Returns rows (docs) applied; -1 for a replay / unrepairable claim.
    */
  def appendBatch(
      spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      indexDir: String, batchId: Long, buckets: Int = 64,
      namespace: String = "day",
      leaseMaxWaitMs: Long = graft.sources.BuildLock.DefaultMaxWaitMs,
      leaseMs: Long = graft.sources.BuildLock.DefaultLeaseMs): Long =
    graft.streaming.Markers.claimBatch(spark, indexDir, batchId, namespace,
      "_stats", "BM25 index mutation", leaseMs, leaseMaxWaitMs)(
      build = () => {
        val n = docs.filter(col("text").isNotNull).count()
        if (n > 0L) writeIndex(docs, indexDir, buckets)
        n
      },
      validate = () => {
        val idx = readIndex(spark, indexDir)
        require(idx.buckets == buckets,
          s"appendBatch: index at $indexDir was built with ${idx.buckets} " +
            s"buckets, append requested $buckets — postings would route to " +
            "the wrong partitions")
        idx
      },
      append = (idx: Bm25Index) => appendToIndex(idx, docs).n - idx.n)

  /** Non-empty-marker gate, the ANN index's [[Pq.appendBatchApplied]]
    * twin: TRUE only for a batch that provably committed.
    */
  def appendBatchApplied(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batchId: Long, namespace: String = "day"): Boolean =
    graft.streaming.Markers.appliedNonEmpty(spark, indexDir, batchId, namespace)

  /** [[retrieve]] against the PERSISTED index: the probe resolves the
    * query terms' buckets with the SAME hash expression the build used
    * (one driver-side row — no hand-rolled xxhash reimplementation to
    * drift), and the posting scan carries a static `pb IN (…)` predicate
    * so partition pruning happens at planning time; a T-term query opens
    * ≤ T of the `buckets` partitions regardless of corpus size
    * (Bm25Spec asserts numFiles on the executed scan). df per term is
    * counted from the pruned rows themselves; n and tt ride in from the
    * sidecar as literals. The pruned scan is read twice (df pass + pivot
    * pass) — it is O(df(terms)) rows, and keeping it un-checkpointed
    * keeps both file scans visible to the plan assertions; at scale both
    * reads stay pruned. Scoring and ranking are [[scoreAndRank]] —
    * literally the same expression tree as the in-query path.
    */
  def retrieveIndexed(
      index: Bm25Index,
      spark: org.apache.spark.sql.SparkSession,
      terms: Seq[String] = DefaultQuery,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "bounded query term list")
    val tfCols = terms.indices.map(i => s"tf$i")

    val bucketRow = spark.range(1).select(
      terms.map(t => pmod(xxhash64(lit(t)), lit(index.buckets))): _*).collect().head
    val pbs = terms.indices.map(bucketRow.getLong(_)).distinct

    val scan = spark.read.parquet(index.path)
      .filter(col("pb").isin(pbs: _*))
      .filter(col("term").isin(terms: _*))

    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === lit(t), 1L).otherwise(0L)).as(s"df_tf$i") }
    val stats = scan.agg(dfCols.head, dfCols.tail: _*)
      .withColumn("n", lit(index.n))
      .withColumn("tt", lit(index.tt))

    val pivotCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === lit(t), col("tf")).otherwise(0L)).as(s"tf$i") }
    val base = scan
      .groupBy(col("doc_id"), col("lang"), col("dl"))
      .agg(pivotCols.head, pivotCols.tail: _*)

    scoreAndRank(base, stats, tfCols, k, k1, b)
  }
}
