package graft.operators

import graft.plans.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Model-based quality FILTER trained in-query (SURVEY §2 q114) — the
  * curation stage the famous web-corpus recipes put AFTER the rule gates:
  * FineWeb-Edu and DCLM both train a lightweight text classifier on a
  * small labeled slice and score the whole corpus with it, keeping the
  * high-scoring documents (reference behavior class: the quality-scoring
  * stage over the tweet corpus, `sql/transform_*.sql`; the classifier
  * generalizes the fixed rulebook q91 hard-codes). The library's
  * discriminative counterpart of generative q84 (Naive Bayes): same hashed
  * feature space, but weights learned by error correction, so correlated
  * features don't double-count.
  *
  * The model is a BATCH PERCEPTRON over hashed bag-of-ngrams features —
  * chosen over logistic regression deliberately: every quantity in the
  * loop (feature counts, weights, scores, updates) is a LONG, so training
  * is EXACT integer arithmetic — no sigmoid/exp whose last-ulp or
  * rounding-tie behavior engines could disagree on (the q86 all-long-grid
  * discipline applied to a learner). Iteration t:
  *
  *   score(d) = Σ_b w_b·x_db   (bias = an always-on feature b = `buckets`)
  *   M_t      = training docs with y_d·score(d) ≤ 0   (misclassified)
  *   w ← w + Σ_{d∈M_t} y_d·x_d
  *
  * A pure function of the training multiset: engine-, partitioning- and
  * run-order-independent (the classic perceptron is sequential per example
  * and thus order-dependent — unusable as a distributed oracle-checked
  * operator; the batch variant is gradient descent on the perceptron
  * criterion and loses nothing that matters here).
  *
  * Scale shape (100 TB): featurize ONCE — a single (doc, bucket)
  * map-side-combined shuffle reduced to ≤ `buckets` entries per doc, then
  * one row per doc (doc, y, is_train, sparse features) materialized
  * (`localCheckpoint` locally; a persisted table on a cluster). Per
  * iteration: scoring is a SCAN — the model rides the plan as
  * `buckets`+1 long literals (q84/q86's "model broadcasts, corpus never
  * shuffles" rule) — and the gradient explodes ONLY the misclassified
  * docs' features, map-side-combining to ≤ `buckets`+1 rows per
  * partition. The driver ever holds `buckets`+1 longs. Training reads the
  * labeled slice; serving ([[scoreWith]]) is shuffle-free.
  *
  * Cross-engine: scores are exact longs; `pred = score > 0` and the
  * misclassification cut `y·score ≤ 0` are integer comparisons — the
  * DuckDB twin unrolls the iterations as CTEs and matches hash-exactly.
  */
object QualityClassifier {

  /** One row per doc: (doc_id, y ∈ {+1,-1}, is_train, fs = sparse
    * (bucket, count) features + the always-on bias feature b = `buckets`).
    * One shuffle, map-side combined; callers materialize the result for
    * the iteration loop.
    */
  def featurize(
      docs: DataFrame, label: Column, isTrain: Column,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 1024): DataFrame = {
    // Row-LOCAL histogram (opt guide §2.4 — remove shuffles outright): a
    // doc's feature counts are a pure function of its OWN text, so the
    // old explode → groupBy(doc, b) → groupBy(doc) pair of corpus-wide
    // exchanges (the exploded ngram stream is ~2×tokens rows per doc,
    // shuffled twice) computes per row instead: sort the bucket array and
    // run-length encode it with array HOFs — the identical (b, cnt)
    // multiset per doc, zero shuffles, whole-stage codegen throughout.
    // The sorted array MUST be a bound attribute before the lambdas touch
    // it: a HOF lambda re-evaluates any non-attribute operand per element,
    // so inlining sort_array(ngramBuckets(...)) into element_at would cost
    // O(n²·sort) per row (measured: 9× slower than the shuffle it
    // replaces). Two projections keep each element_at an O(1) index.
    val sorted = sort_array(concat(
      HashFunctions.ngramBuckets(col(textCol), 1, 2, buckets),
      array(lit(buckets))))
    val bs = col("__bs")
    val n = size(bs)
    // 1-based positions where a run starts; each run ends where the next
    // begins (the sentinel n+1 closes the last run)
    val starts = filter(sequence(lit(1), n),
      i => (i === 1) || (element_at(bs, i) =!= element_at(bs, i - 1)))
    val ends = concat(slice(col("__starts"), lit(2), size(col("__starts")) - 1),
      array(n + 1))
    // No cast to array<struct<b:int,cnt:bigint>>: the struct already has
    // those types, and the optimizer would strip a cast that only widens
    // containsNull, so the checkpointed frame's logical and optimized
    // `fs` types would differ (a LogicalRDD output-mismatch warning per
    // checkpoint). And a long doc_id passes through bare: the optimizer
    // strips a no-op cast-and-alias, which would change its attribute id.
    val fs = zip_with(col("__starts"), ends, (s, e) =>
      struct(element_at(bs, s).as("b"), (e - s).cast("long").as("cnt")))
    val id =
      if (idCol == "doc_id" && docs.schema(idCol).dataType == LongType) col(idCol)
      else col(idCol).cast("long").as("doc_id")
    // the ngram/bucket/sort kernel runs in the scan stage; spread a narrow
    // input first (opt guide §2.5 — no-op on multi-file production scans)
    Spread.ifNarrow(docs.select(
        col(idCol), col(textCol), label.as("__label"), isTrain.as("__is_train")))
      .filter(col(textCol).isNotNull)
      .select(
        id,
        when(col("__label"), lit(1)).otherwise(lit(-1)).as("y"),
        col("__is_train").as("is_train"),
        sorted.as("__bs"))
      .withColumn("__starts", starts)
      .select(
        col("doc_id"), col("y"), col("is_train"),
        fs.as("fs"))
  }

  /** Past this many weights the model no longer rides the plan as a
    * CreateArray of `buckets`+1 literal expressions — plan size, analysis
    * time and codegen all grow linearly with buckets, fine at the 1024
    * default but pathological for 64k-bucket models. Above the threshold
    * the scoring expression switches to a scala UDF closing over the
    * weight array, which ships ONCE per executor in the task closure
    * instead of per-expression literals. Identical long values by
    * construction (spec-asserted on both paths); the literal path stays
    * the default because it keeps scoring inside whole-stage codegen.
    */
  val MaxLiteralWeights = 4096

  /** Exact long score of the sparse feature column under the weight
    * vector (1-based `element_at`; `w.length` must be `buckets`+1).
    */
  private[graft] def scoreCol(fs: Column, w: Array[Long]): Column =
    if (w.length <= MaxLiteralWeights) scoreColLiteral(fs, w)
    else scoreColUdf(fs, w)

  private[graft] def scoreColLiteral(fs: Column, w: Array[Long]): Column =
    aggregate(fs, lit(0L),
      (acc, f) =>
        acc + element_at(array(w.map(lit).toSeq: _*), f.getField("b") + 1)
          * f.getField("cnt"))

  private[graft] def scoreColUdf(fs: Column, w: Array[Long]): Column = {
    val ww = w.clone()
    val f = udf((fs: Seq[org.apache.spark.sql.Row]) =>
      fs.foldLeft(0L)((acc, r) => acc + ww(r.getInt(0)) * r.getLong(1)))
    f(fs)
  }

  /** Run `iters` batch-perceptron updates over the `is_train` slice of a
    * [[featurize]]d frame and return the POCKET weights (Gallant 1990):
    * the iterate w_t, t ∈ [0, iters], with the fewest training errors —
    * earliest t on ties. The raw batch iteration oscillates on
    * non-separable data (the full-batch update overshoots, flipping whole
    * classes between iterations — measured live: last-iterate accuracy
    * swings 0.98 ↔ 0.30 run-to-run of the iteration count); the pocket
    * pick turns that walk into a deterministic best-of-path, still exact
    * long arithmetic. Weights are `buckets`+1 longs, bias last.
    *
    * One job per iteration: the gradient aggregation's bias row carries
    * the misclassified-doc count for free (every doc holds exactly one
    * bias feature with cnt = 1, so Σcnt at b = `buckets` over the
    * misclassified slice IS that iterate's error count), plus one final
    * count job for the last iterate.
    */
  /** Below this many total sparse feature entries in the training slice,
    * [[train]] collects the slice once and runs every iteration on the
    * driver (identical weights — the batch update is a pure function of
    * the training multiset): `iters`+1 cluster jobs collapse to one
    * bounded collect. 4M entries ≈ a few hundred MB of driver Rows, well
    * inside the 8g bench driver; a bigger slice falls back to the
    * distributed loop over the isolated slice.
    */
  val MaxLocalTrainEntries: Long = 4000000L

  def train(feats: DataFrame, buckets: Int = 1024, iters: Int = 20): Array[Long] = {
    require(iters >= 0, "iters must be non-negative")
    // Isolate the labeled slice ONCE (opt guide §1.2/§2.3: fix the
    // algorithm, scan only what the pass consumes): the loop used to
    // re-filter `is_train` out of the FULL featurized corpus on every
    // iteration — iters+1 corpus-wide scans to reach a slice the
    // contract bounds (see [[qualityScores]]' maxTrain). The slice is
    // materialized once; each pass then reads only it, and a slice small
    // enough for the driver trains with ZERO per-iteration jobs.
    val tr = feats.filter(col("is_train")).select(col("y"), col("fs"))
      .localCheckpoint()
    val entries = tr.agg(
      coalesce(sum(size(col("fs"))), lit(0L)).as("entries")).head.getLong(0)
    if (entries <= MaxLocalTrainEntries) {
      val rows = tr.collect()
      val ys = rows.map(_.getInt(0))
      val bs = rows.map(_.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)).toArray)
      val cs = rows.map(_.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toArray)
      trainLocal(ys, bs, cs, buckets, iters)
    } else trainDistributed(tr, buckets, iters)
  }

  /** Driver-local twin of [[trainDistributed]] — the same exact long
    * arithmetic over the same multiset, so the returned pocket weights
    * are bit-identical (spec-asserted on a shared corpus). Error counts
    * follow the distributed formula exactly: Σ cnt at the bias bucket
    * over the misclassified slice.
    */
  private[graft] def trainLocal(
      ys: Array[Int], bs: Array[Array[Int]], cs: Array[Array[Long]],
      buckets: Int, iters: Int): Array[Long] = {
    var w = new Array[Long](buckets + 1)
    var best = w
    var bestErr = Long.MaxValue
    def errAndGrad(w: Array[Long]): (Long, Array[Long]) = {
      val grad = new Array[Long](buckets + 1)
      var err = 0L
      var i = 0
      while (i < ys.length) {
        val b = bs(i); val c = cs(i)
        var s = 0L
        var j = 0
        while (j < b.length) { s += w(b(j)) * c(j); j += 1 }
        if (ys(i) * s <= 0L) {
          var k = 0
          while (k < b.length) {
            grad(b(k)) += ys(i) * c(k)
            if (b(k) == buckets) err += c(k)
            k += 1
          }
        }
        i += 1
      }
      (err, grad)
    }
    for (_ <- 0 until iters) {
      val (err, grad) = errAndGrad(w)
      if (err < bestErr) { bestErr = err; best = w }
      val next = new Array[Long](buckets + 1)
      var b = 0
      while (b < next.length) { next(b) = w(b) + grad(b); b += 1 }
      w = next
    }
    val lastErr = errAndGrad(w)._1
    if (lastErr < bestErr) best = w
    best
  }

  /** The distributed iteration loop over the ISOLATED training slice
    * (already filtered to `is_train`, materialized by [[train]]) — the
    * scale path when the labeled slice outgrows the driver.
    */
  private[graft] def trainDistributed(
      tr: DataFrame, buckets: Int, iters: Int): Array[Long] = {
    var w = new Array[Long](buckets + 1)
    var best = w
    var bestErr = Long.MaxValue
    for (_ <- 0 until iters) {
      val rows = tr
        .filter(col("y") * scoreCol(col("fs"), w) <= 0)
        .select(col("y"), explode(col("fs")).as("f"))
        .groupBy(col("f.b").as("b"))
        .agg(sum(col("y") * col("f.cnt")).as("g"),
          sum(col("f.cnt")).as("n"))
        .collect()
      val grad = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      val err = rows.collectFirst {
        case r if r.getInt(0) == buckets => r.getLong(2)
      }.getOrElse(0L)
      if (err < bestErr) { bestErr = err; best = w }
      w = w.zipWithIndex.map { case (v, b) => v + grad.getOrElse(b, 0L) }
    }
    val lastErr = tr
      .filter(col("y") * scoreCol(col("fs"), w) <= 0)
      .count()
    if (lastErr < bestErr) best = w
    best
  }

  /** Serve the model: (doc_id, label, is_train, score, pred) for every
    * featurized doc — a pure scan, no shuffle (weights are plan literals).
    */
  def scoreWith(feats: DataFrame, w: Array[Long]): DataFrame =
    feats
      .withColumn("score", scoreCol(col("fs"), w))
      .select(
        col("doc_id"), col("y").as("label"), col("is_train"),
        col("score"), (col("score") > 0).as("pred"))

  /** Per-row serving score — [[scoreWith]] without the featurize shuffle:
    * Σ_b w_b·cnt_b over a doc equals the plain fold of w over every
    * bucket OCCURRENCE, so serving needs no (doc, bucket) aggregation at
    * all — one codegen'd kernel pass + one HOF fold per row, weights as
    * plan literals. This is the scoring path for streams and for corpora
    * that were never featurized (identical values to [[scoreWith]] by
    * construction; spec-asserted).
    */
  def scoreText(text: Column, w: Array[Long]): Column =
    if (w.length <= MaxLiteralWeights) scoreTextLiteral(text, w)
    else scoreTextUdf(text, w)

  private[graft] def scoreTextLiteral(text: Column, w: Array[Long]): Column = {
    val wLit = array(w.map(lit).toSeq: _*)
    aggregate(
      HashFunctions.ngramBuckets(text, 1, 2, w.length - 1),
      lit(w.last), (acc, b) => acc + element_at(wLit, b + 1))
  }

  private[graft] def scoreTextUdf(text: Column, w: Array[Long]): Column = {
    val ww = w.clone()
    val f = udf((bs: Seq[Int]) => bs.foldLeft(ww.last)((acc, b) => acc + ww(b)))
    f(HashFunctions.ngramBuckets(text, 1, 2, w.length - 1))
  }

  /** Score any (id, text) frame — batch or stream — under frozen weights:
    * (id, score, pred). Pure scan, zero shuffles, zero state.
    */
  def gate(
      df: DataFrame, w: Array[Long],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df
      .filter(col(textCol).isNotNull)
      .withColumn("score", scoreText(col(textCol), w))
      .select(col(idCol).cast("long").as("doc_id"), col("score"),
        (col("score") > 0).as("pred"))

  /** Persist a trained model as a self-contained artifact (the
    * [[Pq.writeIndex]] discipline): one tiny parquet of (b, w) rows plus
    * the bucket count, so ANY later session — batch scoring, the
    * streaming gate, another cluster — rehydrates the exact weights
    * without retraining. The nightly train job writes it; every consumer
    * [[readModel]]s it. `buckets`+1 rows regardless of corpus size.
    */
  def writeModel(spark: org.apache.spark.sql.SparkSession,
      w: Array[Long], path: String): Unit = {
    import spark.implicits._
    w.zipWithIndex.map { case (v, b) => (b, v) }.toSeq
      .toDF("b", "w").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Rehydrate [[writeModel]]'s artifact: one bounded read. */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Array[Long] = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    require(rows.nonEmpty && rows.map(_._1).toSeq == (0 until rows.length),
      s"malformed classifier model at $path")
    rows.map(_._2)
  }

  /** The registered end-to-end query: weak labels from two cheap rule
    * signals (word floor + stopword presence — the annotation a rulebook
    * or an LLM judge would supply at production scale), train on the
    * even-id half, score EVERY doc — FineWeb-Edu's exact shape (450k
    * annotations → a classifier → 15T tokens scored).
    */
  /** The registered weak-label rule: word floor + stopword presence over
    * `textCol` — shared by [[qualityScores]] and the v3 corpus pipeline so
    * the two surfaces can never drift from their common oracle formula.
    */
  def ruleWeakLabel(
      textCol: Column, minWords: Int = 30, minStop: Int = 2): Column = {
    val toks = split(textCol, " ")
    val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "on")
    (size(toks) >= minWords) &&
      size(filter(toks, t => t.isInCollection(stopwords))) >= minStop
  }

  /** @param isTrain the labeled slice. MUST be BOUNDED: training runs
    *   `iters`+1 sequential jobs, each rescanning the slice's featurized
    *   rows — a slice that grows with the corpus (the r9 demo's even-id
    *   HALF) silently turns 21 bounded passes into 21 half-corpus scans
    *   at 100 TB. The default labels even ids BELOW AN ID CEILING (the
    *   FineWeb-Edu shape: a fixed annotation budget, then score
    *   everything), and `maxTrain` enforces the contract with one count
    *   job — raise it deliberately, never implicitly.
    */
  def qualityScores(
      docs: DataFrame, buckets: Int = 1024, iters: Int = 20,
      minWords: Int = 30, minStop: Int = 2,
      isTrain: Column = pmod(col("doc_id"), lit(2)) === 0
        && col("doc_id") < 1000,
      maxTrain: Long = 1000000L): DataFrame = {
    val feats = featurize(
      docs, ruleWeakLabel(col("text"), minWords, minStop),
      isTrain,
      buckets = buckets).localCheckpoint()
    val nTrain = feats.filter(col("is_train")).count()
    require(nTrain <= maxTrain,
      s"qualityScores: $nTrain training docs exceeds maxTrain=$maxTrain - " +
        "the iteration loop rescans the training slice per pass; bound " +
        "isTrain (annotation budgets are fixed-size) or raise maxTrain deliberately")
    scoreWith(feats, train(feats, buckets, iters))
  }
}
