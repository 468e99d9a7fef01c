package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid dense + lexical retrieval fused by Reciprocal Rank Fusion
  * (SURVEY §2 q85) — the standard two-leg RAG retrieval stack: an
  * embedding-cosine leg and a BM25 more-like-this leg each rank the corpus
  * for a query document, and RRF (Cormack et al.: score = Σ_leg
  * 1/(k₀+rank), k₀=60) merges the two rankings without any score
  * calibration between the legs (ranks, not raw scores, are what fuse —
  * which is exactly why the operator is deterministic cross-engine: both
  * legs already rank on ROUNDED scores with id tiebreaks, so the fused
  * input is integer ranks).
  *
  * The same two legs subtracted instead of fused are the HARD-NEGATIVE
  * miner (q94, [[hardNegatives]]): documents the lexical leg ranks high
  * that the dense leg does NOT — BM25-similar but embedding-far, the
  * negatives DPR-style contrastive training mines for (Karpukhin et al.
  * 2020 use exactly "top BM25 results that don't contain the answer").
  *
  * Scale shape:
  *   - dense leg = q25's broadcast-queries brute-force scan (`Knn
  *     .bruteForceTopK`) over the ids that have BOTH text and a vector —
  *     swap in the LSH/IVF leg (q26/q27) at billion-vector scale, the
  *     fusion is rank-only and doesn't change;
  *   - lexical leg: each query's terms are idf-capped to the `termCap`
  *     RAREST terms (the q63 prefix-filter discipline — rare terms carry
  *     the signal and bound the posting fan-out), the tiny (query, term)
  *     table broadcasts against one exploded-corpus posting pass, and
  *     per-query candidates reduce through the q10 `BoundedTopK`
  *     aggregator — at most `legK` rows leave each partition per query,
  *     no per-query window sort over the corpus;
  *   - fusion / subtraction: joins of two ≤ (queries × legK) rank lists —
  *     trivially small — then one more bounded ranking.
  * A doc with text but no vector can still surface through the lexical
  * leg (and vice versa) — that asymmetry is real hybrid-store behavior
  * and the oracle mirrors it.
  */
object HybridRetrieval {

  /** The shared lexical tail of [[legs]] (in-query postings) and
    * [[legsIndexed]] (persisted-index postings): score the (term, doc_id,
    * dl, tf) posting rows against the capped (qid, term, df) query terms
    * under the one-row (n, tt) stats, then bounded-top-legK per query.
    * ONE expression tree serves both paths — index-vs-scan rank equality
    * is structural, not coincidental (the q82b discipline).
    */
  private def lexRank(
      postings: DataFrame, qTerms: DataFrame, stats: DataFrame,
      legK: Int, k1: Double, b: Double): DataFrame = {
    val lexScored = postings
      .join(broadcast(qTerms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(broadcast(stats))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") * col("n") / col("tt")))),
        4).as("s"))
    val topkLex = udaf(
      new BoundedTopK[(Double, Long)](legK)((a, x) =>
        a._1 > x._1 || (a._1 == x._1 && a._2 < x._2)),
      Encoders.product[(Double, Long)])
    lexScored
      .groupBy(col("qid"))
      .agg(topkLex(col("s"), col("doc_id")).as("w"))
      .select(col("qid"), posexplode(col("w")).as(Seq("pos", "x")))
      .select(col("qid"), col("x._2").as("id"), (col("pos") + 1).as("rank_l"),
        col("x._1").as("s"))
  }

  /** Cap each query's terms to the `termCap` RAREST by df (term
    * tiebreak) — shared by both leg builders so the capped vocabularies
    * agree whenever the df tables do.
    */
  private def capTerms(
      queryTerms: DataFrame, dfTbl: DataFrame, termCap: Int): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("df"), col("term"))
    queryTerms
      .join(dfTbl, Seq("term")) // query-doc vocab only: a bounded frame
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= termCap)
      .select(col("qid"), col("term"), col("df"))
  }

  /** The dense leg: cosine rank over ids with both text and a vector. */
  private def denseLeg(
      textIds: DataFrame, emb: DataFrame, nQueries: Int, legK: Int): DataFrame = {
    val corpus = emb.join(textIds, Seq("vec_id"), "left_semi")
    Knn.bruteForceTopK(
      corpus, corpus.filter(col("vec_id") < nQueries), "vec_id", "embedding", legK)
      .select(col("query_id").as("qid"), col("neighbor_id").as("id"),
        col("rank").as("rank_d"))
  }

  /** The two rank lists: dense (qid, id, rank_d) and lexical
    * (qid, id, rank_l, s) — both ≤ legK rows per query by construction.
    */
  private def legs(
      docs: DataFrame, emb: DataFrame, nQueries: Int, legK: Int,
      termCap: Int, k1: Double, b: Double): (DataFrame, DataFrame) = {
    // one tokenized pass feeds df table, query terms, stats and postings
    val t = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"), split(col("text"), " ").as("toks"))
      .localCheckpoint()

    val dense = denseLeg(
      t.select(col("doc_id").as("vec_id")), emb, nQueries, legK)

    // ---- lexical leg: BM25 more-like-this on the idf-capped rarest terms
    val dfTbl = t.select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qTerms = capTerms(
      t.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("qid"), explode(array_distinct(col("toks"))).as("term")),
      dfTbl, termCap)
    val stats = t.agg(count(lit(1)).as("n"), sum(size(col("toks"))).cast("long").as("tt"))

    val postings = t
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    (dense, lexRank(postings, qTerms, stats, legK, k1, b))
  }

  /** [[legs]] with the lexical leg probing the PERSISTED q82b posting
    * index instead of re-tokenizing the corpus in-query (r11 verdict #4):
    * at 100 TB the corpus-wide tokenize + (term, doc) aggregation is the
    * lexical leg's whole cost, and the posting artifact already holds
    * exactly those rows, bucket-partitioned. Only the QUERY docs are
    * tokenized (bounded — nQueries rows); their vocabulary resolves to pb
    * buckets on the driver, so the index scan carries a static
    * `pb IN (…)` + `term IN (…)` predicate — a probe opens at most
    * |query vocab| buckets' files, never the corpus (plan-asserted).
    * df/tf/dl come from the pruned posting rows (posting rows are unique
    * per (term, doc), so count = df) and (n, tt) ride the index handle —
    * all EXACTLY what the in-query leg computes, so ranks are equal by
    * construction (spec-asserted), and stay equal after exact appends.
    * The dense leg is unchanged (swap in the ANN-index leg at scale; the
    * fusion is rank-only).
    */
  private def legsIndexed(
      docs: DataFrame, emb: DataFrame, index: Bm25.Bm25Index,
      nQueries: Int, legK: Int, termCap: Int,
      k1: Double, b: Double): (DataFrame, DataFrame) = {
    val dense = denseLeg(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("vec_id")),
      emb, nQueries, legK)
    (dense, lexLegIndexed(docs, index, nQueries, legK, termCap, k1, b))
  }

  /** Plan-literal budget for the indexed probe's term filters (r13
    * verdict #5): at or below it each pruned scan carries a fully static
    * `term IN (…)` literal list; above it the term restriction becomes a
    * broadcast LEFT SEMI join against the same driver-resolved vocab —
    * identical filtering, but thousands of query terms no longer bloat
    * the physical plan into a thousands-of-literals expression tree. The
    * pb bucket pruning stays static either way: distinct pb values are
    * bounded by the index's bucket count, never by the vocab.
    */
  private[graft] val VocabIsinThreshold = 512

  /** `term IN (vocab)` as literals (static pruning) below
    * [[VocabIsinThreshold]]; a broadcast semi-join above it.
    */
  private def termPruned(scan: DataFrame, terms: Seq[String]): DataFrame =
    if (terms.size <= VocabIsinThreshold) scan.filter(col("term").isin(terms: _*))
    else {
      val sp = scan.sparkSession
      import sp.implicits._
      scan.join(broadcast(terms.toDF("term")), Seq("term"), "left_semi")
    }

  /** The lexical leg alone, probing the persisted q82b posting index —
    * factored out of [[legsIndexed]] so [[rrfFuseAnnGate]] (q85c) and
    * [[rrfFuseAnn]] can pair ONE lexical probe with either dense leg.
    *
    * == QUERY-BATCH CONTRACT (driver-bounded, r13 verdict #5) ==
    * The query docs' distinct terms are COLLECTED to the driver (the
    * vocab must be resolved to pb buckets at plan time — that is what
    * makes the probe's scans statically pruned), so driver memory and
    * plan size scale with `nQueries × terms/doc`, NOT the corpus: at the
    * registered contract (10 query docs) that is a few hundred strings
    * (475 measured on the rich-vocab probe corpora). Large batches stay
    * bounded but switch representation: above [[VocabIsinThreshold]]
    * distinct terms, the scans' term restriction becomes a broadcast
    * semi-join instead of a plan-literal `isin` list ([[termPruned]] —
    * spec-asserted equal on a forced-fallback corpus). Batches large
    * enough that even the COLLECT hurts (≫10⁵ terms) are outside this
    * operator's contract — shard the query batch and union the fusions.
    */
  private def lexLegIndexed(
      docs: DataFrame, index: Bm25.Bm25Index,
      nQueries: Int, legK: Int, termCap: Int,
      k1: Double, b: Double): DataFrame = {
    val spark = docs.sparkSession

    // tokenize ONLY the query docs; resolve their vocab to pb buckets on
    // the driver (bounded by the query docs' distinct terms)
    val qT = docs
      .filter(col("text").isNotNull && col("doc_id") < nQueries)
      .select(col("doc_id").cast("long").as("qid"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .localCheckpoint()
    import spark.implicits._
    val vocab = qT.select(col("term")).distinct().as[String].collect().toSeq
    val pbs = {
      val row = spark.range(1).select(
        vocab.map(t => pmod(xxhash64(lit(t)), lit(index.buckets))): _*).collect().head
      vocab.indices.map(row.getLong(_)).distinct
    }

    // TWO pruned scans with different widths (r13, the decade
    // measurement's finding): the df pass must cover the FULL query
    // vocab (capping ranks by df, so df precedes the cap) but reads ONLY
    // the term column — a column-pruned count. The SCORING scan then
    // re-prunes to the CAPPED terms' buckets and rows: with a rich
    // vocabulary the full query vocab of a 10-doc query batch is
    // hundreds of terms while the capped set is ≤ nQueries × termCap,
    // so the wide (doc_id, dl, tf) read + aggregate never pays for
    // postings the cap was about to discard.
    val fullScan = termPruned(
      spark.read.parquet(index.path).filter(col("pb").isin(pbs: _*)), vocab)
    val dfTbl = fullScan.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // bounded (≤ nQueries × termCap rows): pin it — it feeds the scoring
    // join AND the driver-side capped-vocab resolution below
    val qTerms = capTerms(qT, dfTbl, termCap).localCheckpoint()
    val capped = qTerms.select(col("term")).distinct().as[String].collect().toSeq
    val cappedPbs =
      if (capped.isEmpty) Seq.empty[Long]
      else {
        val row = spark.range(1).select(
          capped.map(t => pmod(xxhash64(lit(t)), lit(index.buckets))): _*).collect().head
        capped.indices.map(row.getLong(_)).distinct
      }
    val scoringScan = termPruned(
      spark.read.parquet(index.path).filter(col("pb").isin(cappedPbs: _*)),
      capped)
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))

    val stats = spark.range(1)
      .select(lit(index.n).as("n"), lit(index.tt).as("tt"))

    lexRank(scoringScan, qTerms, stats, legK, k1, b)
  }

  /** q85c (r12 verdict #6): hybrid RRF with BOTH legs on persisted
    * indexes — the lexical leg probes the q82b posting index
    * ([[lexLegIndexed]], statically pb-pruned) and the DENSE leg probes
    * the q107b IVF-PQ cell index ([[Pq.ivfTopKIndexed]], statically
    * cell-pruned) instead of the declared-exact broadcast X⋈Y scan. At
    * billion-vector scale the exact dense leg is the fusion's whole
    * cost; this is the scale path the q85 scaladoc promised ("swap in
    * the ANN leg — the fusion is rank-only and doesn't change").
    *
    * Because the ANN leg is approximate, the fused ranking may differ
    * from the exact-dense fusion, so the registration is GATED (the
    * q24b/q99b discipline): the SAME lexical rank list (one probe,
    * checkpointed) fuses once with the ANN dense leg and once with the
    * exact dense leg over the bounded query set, and the fused
    * top-`fuseK` overlap must clear `floor`. Output
    * (n_queries, recall_ok) — [[Knn.recallGate]]'s shape. Floor
    * calibration: ProbeHybridAnn on the near-uniform sf embeddings (the
    * IVF worst case) measures fused top-10 overlap 0.79/0.80/0.83 at
    * nprobe=8 and 0.90-0.94 at nprobe=16 across sf0.1/0.01/0.001 — the
    * exact lexical leg anchors the fusion, so the fused overlap sits
    * well above the bare q107 dense recall (0.58-0.64 at nprobe=8);
    * floor 0.6 at the registered nprobe=8 leaves the q27-style margin.
    */
  def rrfFuseAnnGate(
      docs: DataFrame, emb: DataFrame,
      lexIndex: Bm25.Bm25Index, denseIndex: Pq.IvfPqIndex,
      nQueries: Int = 10, legK: Int = 20, termCap: Int = 16, fuseK: Int = 10,
      nprobe: Int = 8, refine: Int = 200,
      k1: Double = 1.2, b: Double = 0.75, rrfK: Double = 60.0,
      floor: Double = 0.6): DataFrame = {
    val (annFused, exactFused) = annFusedLists(docs, emb, lexIndex,
      denseIndex, nQueries, legK, termCap, fuseK, nprobe, refine, k1, b, rrfK)
    Knn.recallGate(annFused, exactFused, fuseK, floor)
  }

  /** The two fused rank lists [[rrfFuseAnnGate]] compares — exposed so a
    * floor calibration can read the raw overlap ratio per scale (the gate
    * reduces it to a boolean). Both as (query_id, neighbor_id).
    */
  private[graft] def annFusedLists(
      docs: DataFrame, emb: DataFrame,
      lexIndex: Bm25.Bm25Index, denseIndex: Pq.IvfPqIndex,
      nQueries: Int, legK: Int, termCap: Int, fuseK: Int,
      nprobe: Int, refine: Int,
      k1: Double, b: Double, rrfK: Double): (DataFrame, DataFrame) = {
    val textIds = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("vec_id"))
    val annDense = annDenseLeg(
      textIds, emb, denseIndex, nQueries, legK, nprobe, refine)
    val exactDense = denseLeg(textIds, emb, nQueries, legK)
    // bounded (≤ queries × legK rows): pin it so ONE posting-index probe
    // feeds both fusions
    val lex = lexLegIndexed(docs, lexIndex, nQueries, legK, termCap, k1, b)
      .localCheckpoint()
    (fuse(annDense, lex, fuseK, rrfK)
      .select(col("query_id"), col("doc_id").as("neighbor_id")),
      fuse(exactDense, lex, fuseK, rrfK)
        .select(col("query_id"), col("doc_id").as("neighbor_id")))
  }

  /** The ANN dense leg: rank over the persisted IVF-PQ index — the
    * cell-pruned scan + ADC shortlist + bounded exact refine of
    * [[Pq.ivfTopKIndexed]], reshaped to the (qid, id, rank_d) leg schema.
    */
  private def annDenseLeg(
      textIds: DataFrame, emb: DataFrame, denseIndex: Pq.IvfPqIndex,
      nQueries: Int, legK: Int, nprobe: Int, refine: Int): DataFrame = {
    val corpus = emb.join(textIds, Seq("vec_id"), "left_semi")
    val queries = corpus.filter(col("vec_id") < nQueries)
    Pq.ivfTopKIndexed(
      denseIndex, corpus, queries, "vec_id", "embedding", legK,
      nprobe = nprobe, refine = refine)
      .select(col("query_id").as("qid"), col("neighbor_id").as("id"),
        col("rank").as("rank_d"))
  }

  /** The production probe-width rule (r15 verdict #2, SCALING_r15 §4):
    * on near-uniform data — the IVF adversarial regime — the fused
    * overlap tracks the probe FRACTION nprobe/nlist, and NOTHING else
    * that is cheap to turn: doubling nprobe at a fixed small fraction
    * moved the nlist=1024 margin 0.63 → 0.63, and 8× the PQ code bits
    * moved it 0.63 → 0.63, while fraction 0.25 (the nlist=32
    * registration) sat at 0.79–0.83. So a deployment raising nlist must
    * spend on the fraction itself: [[rrfFuseAnn]] DERIVES nprobe as
    * `fraction × nlist` by default instead of inheriting a fixed 8 that
    * silently thins as the index grows. The cell-pruned scan keeps that
    * affordable — a query's cost is nprobe × |cell| ≈ fraction × corpus
    * rows, FLAT in nlist at fixed fraction. 0.25 is the registered
    * calibration point (nlist=32, nprobe=8 — derived == registered, so
    * registered behavior is unchanged); clustered corpora probe far
    * below it (PqSpec's clustered corpus hits recall 1.0 at nprobe=1).
    */
  val DefaultProbeFraction: Double = 0.25

  /** nprobe for a probe fraction: `round(fraction × nlist)`, clamped to
    * [1, nlist].
    */
  def nprobeFor(nlist: Int, probeFraction: Double = DefaultProbeFraction): Int =
    math.max(1, math.min(nlist.toLong, math.round(nlist * probeFraction))).toInt

  /** The PRODUCTION ANN-only hybrid probe (r13 verdict #4): both legs on
    * persisted indexes — lexical from the q82b posting artifact
    * ([[lexLegIndexed]], statically pb-pruned), dense from the q107b
    * IVF-PQ artifact ([[annDenseLeg]], statically cell-pruned) — WITHOUT
    * computing the exact dense leg the gate pays for its comparison:
    * [[rrfFuseAnnGate]] is the correctness row (it recomputes the exact
    * fusion to verify the overlap floor), this is what a serving caller
    * runs — strictly less work, the same ANN fused ranking row-for-row
    * (spec-asserted, including a plan assertion that no full-corpus
    * dense scan appears). Returns the full fused ranking
    * (query_id, rank, doc_id, rrf), the [[rrfFuse]] output shape.
    *
    * `nprobe = 0` (the default) derives the probe width from
    * `probeFraction` and the INDEX's cell count ([[nprobeFor]]) — the
    * SCALING_r15 §4 rule that probe width must scale WITH nlist; a
    * positive `nprobe` pins it explicitly (the gate's posture).
    *
    * '''BEHAVIOR CHANGE (r16)''': the default used to be a FIXED
    * `nprobe = 8`; it is now fraction-derived, and `0` is the derive
    * sentinel. At the registered calibration point (nlist=32) derived
    * == 8, so registered behavior is bit-unchanged — but a caller on a
    * LARGER index who relied on the old fixed default now probes
    * `0.25 × nlist` cells per query (e.g. 256 at nlist=1024, 32× the
    * old cost) in exchange for flat recall as nlist grows (the silent
    * recall cliff the fixed default had — SCALING_r16 §1). Pin
    * `nprobe` explicitly to keep the old cost profile. Negative values
    * fail loudly rather than silently deriving (r16 ADVICE, low).
    */
  def rrfFuseAnn(
      docs: DataFrame, emb: DataFrame,
      lexIndex: Bm25.Bm25Index, denseIndex: Pq.IvfPqIndex,
      nQueries: Int = 10, legK: Int = 20, termCap: Int = 16, fuseK: Int = 10,
      nprobe: Int = 0, refine: Int = 200,
      k1: Double = 1.2, b: Double = 0.75, rrfK: Double = 60.0,
      probeFraction: Double = DefaultProbeFraction): DataFrame = {
    require(nprobe >= 0,
      s"nprobe must be >= 0 (0 derives from probeFraction); got $nprobe")
    val effNprobe = if (nprobe > 0) nprobe
      else nprobeFor(denseIndex.centroids.length, probeFraction)
    val textIds = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("vec_id"))
    fuse(
      annDenseLeg(textIds, emb, denseIndex, nQueries, legK, effNprobe, refine),
      lexLegIndexed(docs, lexIndex, nQueries, legK, termCap, k1, b),
      fuseK, rrfK)
  }

  /** The shared RRF tail: fuse the two rank lists, bounded-top-fuseK. */
  private def fuse(
      dense: DataFrame, lex: DataFrame, fuseK: Int, rrfK: Double): DataFrame = {
    val fused = dense.join(lex.drop("s"), Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_d")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("rank_l")), lit(0.0)), 6).as("rrf"))
    val topkFuse = udaf(
      new BoundedTopK[(Double, Long)](fuseK)((a, x) =>
        a._1 > x._1 || (a._1 == x._1 && a._2 < x._2)),
      Encoders.product[(Double, Long)])
    fused
      .groupBy(col("qid"))
      .agg(topkFuse(col("rrf"), col("id")).as("w"))
      .select(col("qid").as("query_id"), posexplode(col("w")).as(Seq("pos", "x")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("x._2").as("doc_id"), col("x._1").as("rrf"))
  }

  def rrfFuse(
      docs: DataFrame, emb: DataFrame, nQueries: Int = 10, legK: Int = 20,
      termCap: Int = 16, fuseK: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      rrfK: Double = 60.0): DataFrame = {
    val (dense, lex) = legs(docs, emb, nQueries, legK, termCap, k1, b)
    fuse(dense, lex, fuseK, rrfK)
  }

  /** [[rrfFuse]] with the lexical leg probing the persisted q82b posting
    * index ([[legsIndexed]]) — same fused ranking as the in-query path
    * when the index holds the same corpus (spec-asserted rank equality).
    */
  def rrfFuseIndexed(
      docs: DataFrame, emb: DataFrame, index: Bm25.Bm25Index,
      nQueries: Int = 10, legK: Int = 20,
      termCap: Int = 16, fuseK: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      rrfK: Double = 60.0): DataFrame = {
    val (dense, lex) = legsIndexed(docs, emb, index, nQueries, legK, termCap, k1, b)
    fuse(dense, lex, fuseK, rrfK)
  }

  /** q94: hard negatives = lexical top-legK MINUS dense top-legK per
    * query, re-ranked by their BM25 order. The anti-join runs over two
    * bounded rank lists (≤ queries × legK rows each), so the window after
    * it is bounded too. Returns (query_id, rank, doc_id, bm25).
    */
  def hardNegatives(
      docs: DataFrame, emb: DataFrame, nQueries: Int = 10, legK: Int = 20,
      termCap: Int = 16, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (dense, lex) = legs(docs, emb, nQueries, legK, termCap, k1, b)
    subtract(dense, lex, k)
  }

  /** [[hardNegatives]] over the persisted posting index ([[legsIndexed]]):
    * the q94 miner's lexical leg is the same corpus tokenize the fusion
    * path pays, so it gets the same indexed variant.
    */
  def hardNegativesIndexed(
      docs: DataFrame, emb: DataFrame, index: Bm25.Bm25Index,
      nQueries: Int = 10, legK: Int = 20,
      termCap: Int = 16, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (dense, lex) = legsIndexed(docs, emb, index, nQueries, legK, termCap, k1, b)
    subtract(dense, lex, k)
  }

  /** The shared q94 tail: lexical top-legK MINUS dense top-legK per
    * query, re-ranked by BM25 order. The anti-join runs over two bounded
    * rank lists (≤ queries × legK rows each), so the window after it is
    * bounded too. Returns (query_id, rank, doc_id, bm25).
    */
  private def subtract(dense: DataFrame, lex: DataFrame, k: Int): DataFrame =
    lex
      .join(dense, Seq("qid", "id"), "left_anti")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rank_l"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"), col("id").as("doc_id"),
        col("s").as("bm25"))
}
