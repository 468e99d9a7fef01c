package graft.operators

import graft.functions.TextFunctions
import graft.plans.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse TF-IDF cosine document similarity — the lexical-overlap near-dup
  * detector that sits between exact n-gram Jaccard (q23: set overlap,
  * order-insensitive) and embedding cosine (q24/q24b: semantic, needs a
  * model): rare shared terms count for more, boilerplate counts for less.
  *
  * Pipeline (linear aggregations + a PREFIX-FILTERED candidate join +
  * array-local verification):
  * (doc, term, tf) → df per term → smoothed idf = ln((N+1)/(df+1))+1 (the
  * q42 formula) → L2-normalize per doc → candidate pairs from a prefix
  * inverted index → exact cosine per candidate via a codegen'd
  * sorted-merge dot over the two docs' term arrays → pairs ≥ τ.
  *
  * Candidate generation is LOSSLESS prefix filtering (Bayardo et al.,
  * "Scaling Up All Pairs Similarity Search", WWW'07): order terms
  * globally by (df asc, term) and index, per doc, only the head of that
  * order whose REMAINING suffix has L2 norm < τ. If two docs share no
  * indexed term of either doc, every shared term sits in one doc's
  * suffix, so cos ≤ ‖suffix‖·‖other‖ < τ — the pair can't be a result.
  * Rarity order makes prefixes land on low-df terms, so the inverted
  * index cost collapses from Σ df² to Σ prefix-df² (boilerplate terms
  * fall out of almost every prefix). The bound is applied with a 1e-3
  * slack below τ, far above the quantization (≤ ~1e-6·√dims) and 4-dp
  * rounding (5e-5) error of the final score, so the filter never drops
  * a reported pair.
  *
  * Hot-term guard: a term whose (block-local) prefix posting list still
  * holds f docs would put all f²/2 candidate pairs in ONE join task. Lists
  * longer than `maxPostings` are split into ⌈f/maxPostings⌉ hash chunks
  * and joined chunk-triangle-wise (side A explodes to (g, hi≥g), side B
  * to (lo≤g, g)), so each task handles ≤ maxPostings² candidates regardless
  * of skew — the degenerate single-block corpus stops being a single-task
  * quadratic (spec: DedupSpec "degenerate hot block").
  *
  * Candidate UPPER-BOUND prune (r10): SCALING_r9 blamed the zipf10 tail
  * on a hot chunk-key group; the per-stage drill-down built to verify
  * that (`graft.Inspect q63_tfidf_cosine_pairs <dir> 2 --stages`) showed
  * otherwise — the cap never even BINDS there
  * (every prefix posting list is shorter than it; shuffle volume is
  * bit-identical at cap 384 and 1024), the global max-task-records
  * metric belonged to the (uniform) weight-table checkpoint stage, and
  * the real tail was the verify stage evaluating 18M candidates
  * EVENLY — a volume problem, not a skew problem. So the fix is to
  * verify fewer pairs: each indexed posting carries (dn, sfx) — its
  * weight and the suffix norm strictly after it — and a pair's
  * collisions aggregate max(dn_a·dn_b + sfx_a·sfx_b); pairs where that
  * bound misses τ (less the same 1e-3 slack the prefix cut uses) are
  * dropped before ever touching the full vectors. Losslessness: the
  * prefix is a CONTIGUOUS rare-head of one global order, so the
  * rarest colliding term is the pair's rarest shared term, and the
  * bound at that term dominates the true cosine; max(ub) ≥ that valid
  * bound, so the prune can only drop sub-threshold pairs. zipf10
  * measured: 18.0M → 10.7M candidates, and wall 84.5 s → 27.4 s
  * together with the hashed-key verify below.
  *
  * Verification never re-shuffles the term table: each doc's (keys, wns)
  * ride as sorted arrays — keys are xxhash64(term), hashed once per
  * posting — candidates hash-join the two vectors by id, and
  * [[graft.plans.VectorKernels.sparseDotLongKeys]] walks the arrays once
  * inside whole-stage codegen, comparing 8-byte longs.
  *
  * Reproducibility discipline: the per-doc norm accumulates as DECIMAL
  * (one row per (doc, term) — off the hot path), and the normalized
  * weights are then QUANTIZED to 6-dp integers so the per-pair dot
  * product — the hot loop — is an exact LONG sum: order-independent,
  * engine-identical, and integer-speed. The reported cosine is the
  * quantized one (error ≤ ~1e-6·√dims), and the threshold cuts on exactly
  * that value in both engines.
  *
  * `blockCol` (source, domain, language, an LSH bucket) additionally
  * restricts pairs to a declared blocking key — a SEMANTIC restriction
  * the caller opts into, not a performance crutch: with the prefix filter
  * and the hot-term guard, the unblocked path is also bounded.
  */
object TfidfSim {

  def cosinePairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, blockCol: Option[String] = None,
      maxPostings: Int = 1024): DataFrame = {
    val blk = blockCol.map(c => col(c).as("blk")).toSeq
    // NOT spread (r20): the pipeline is many small sequential jobs over
    // checkpointed frames; a pinned wide input repartition gave each a
    // 32-task train and measured +2.4 s in-bench. The tokenize scan is a
    // small share of the query; the candidate/verify stages repartition
    // through their own keyed exchanges.
    val tf = docs
      .select(Seq(col(idCol).as("doc"),
        explode(TextFunctions.tokens(col(textCol))).as("term")) ++ blk: _*)
      .groupBy(col("doc") +: col("term") +: blk.map(_ => col("blk")): _*)
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val n = docs.agg(countDistinct(col(idCol)).cast("double").as("n_docs"))

    val keep = Seq(col("doc"), col("term")) ++ blk.map(_ => col("blk"))
    val w = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .select(keep ++ Seq(col("df"),
        (col("tf") * (log((col("n_docs") + 1) / (col("df") + 1)) + 1)).as("w")): _*)
    val norms = w.groupBy(col("doc"))
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(30,12)")).cast("double"))
        .as("norm"))
    // The weight table feeds FOUR consumers (vectors, prefix, and both
    // candidate-join sides); without materialization every branch
    // recomputes the whole tf→df→norm chain from the scan — measured 36
    // source scans per run at sf0.01. localCheckpoint pins it to executor
    // disk once (the q47/q34 shared-subplan discipline): at 100 TB this is
    // the difference between one corpus pass and dozens.
    val wn = w.join(norms, Seq("doc"))
      .select(keep ++ Seq(col("df"),
        (col("w") / col("norm")).as("dn"),
        round(col("w") / col("norm") * lit(1e6)).cast("long").as("wn")): _*)
      .localCheckpoint()

    // Per-doc sorted sparse vector: the verification payload. One shuffle
    // keyed by doc. Since r10 the merge key is xxhash64(term), not the
    // term string: keys hash ONCE per (doc, term) posting here, sort as
    // longs, and the verify kernel compares 8-byte longs instead of
    // allocating + byte-comparing a UTF8String per element per CANDIDATE
    // — ~5× on the hot loop — while the array payload riding the two
    // verify joins shrinks to fixed-width (terms average ~8 chars + 8
    // offset bytes as strings). A key collision needs two distinct terms
    // of the SAME pair's union vocabulary to share an xxhash64 (~L²/2⁶⁵
    // ≈ 1e-15 per pair); it would perturb that pair's dot and fail the
    // cross-engine oracle — the q71 gram-hash discipline.
    val vecs = wn.groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(xxhash64(col("term")).as("th"), col("wn"))))
        .as("tw"))
      .select(col("doc"),
        transform(col("tw"), x => x.getField("th")).as("terms"),
        transform(col("tw"), x => x.getField("wn")).as("wns"))

    // Prefix index: walking the global order from the HOT end (df desc),
    // the running Σ dn² at a term equals the suffix mass from that term
    // to the end — keep exactly the terms where it still reaches τ².
    // Each indexed posting also carries its weight `dn` and the suffix
    // norm STRICTLY AFTER it (`sfx` = √(revcum − dn²)) — the candidate
    // upper-bound prune below needs both.
    val slack = math.max(threshold - 1e-3, 0.0)
    val revWin = Window.partitionBy(col("doc"))
      .orderBy(col("df").desc, col("term").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = wn
      .withColumn("revcum", sum(col("dn") * col("dn")).over(revWin))
      .filter(col("revcum") >= lit(slack * slack))
      .select(keep ++ Seq(col("dn"),
        sqrt(greatest(col("revcum") - col("dn") * col("dn"), lit(0.0)))
          .as("sfx")): _*)

    // Chunk-triangle candidate join: pair (x, y) with chunks (gx, gy)
    // meets exactly once on key (term[, blk], min(gx,gy), max(gx,gy)).
    val pKey = "term" +: blk.map(_ => "blk")
    val pdf = prefix.groupBy(pKey.map(col): _*).agg(count(lit(1)).as("pdf"))
    // both triangle-join sides explode from pc: materialize it once
    val pc = prefix.join(pdf, pKey)
      .withColumn("chunks", ceil(col("pdf") / lit(maxPostings)).cast("int"))
      .withColumn("g", pmod(xxhash64(col("doc")), col("chunks")).cast("int"))
      .localCheckpoint()
    val aSide = pc.select(pKey.map(col) ++ Seq(col("doc").as("doc_1"),
      col("dn").as("dn_1"), col("sfx").as("sfx_1"),
      col("g").as("lo"), explode(sequence(col("g"), col("chunks") - 1)).as("hi")): _*)
    val bSide = pc.select(pKey.map(col) ++ Seq(col("doc").as("doc_2"),
      col("dn").as("dn_2"), col("sfx").as("sfx_2"),
      explode(sequence(lit(0), col("g"))).as("lo"), col("g").as("hi")): _*)
    // Candidate upper-bound prune (r10 — the zipf10 verify tail's real
    // lever; the per-stage drill-down of `graft.Inspect
    // q63_tfidf_cosine_pairs <dir> 2 --stages` showed the tail is the
    // UNIFORM verify stage, not a hot key group): at a collision on term
    // t, dot(a,b) over terms after t is ≤ sfx_a·sfx_b, so
    //   ub(t) = dn_a(t)·dn_b(t) + sfx_a(t)·sfx_b(t)
    // bounds the full cosine WHEN t is the pair's rarest shared term —
    // and the rarest COLLISION always is: prefixes are contiguous rare
    // heads of one global order, so a shared term rarer than any
    // colliding term would itself sit in both prefixes and collide.
    // max(ub) over a pair's collisions therefore ≥ the valid bound at
    // the rarest one, and dropping pairs with max(ub) < slack (the same
    // τ−1e-3 the prefix filter cuts on, far above quantization error)
    // can never drop a reported pair. Dissimilar pairs meet on HOT
    // prefix-boundary terms where sfx ≈ τ on both sides → ub ≈ τ² + ε
    // < τ — exactly the candidate mass worth killing before each pays
    // a sorted-merge dot over two full term arrays.
    val cand = aSide.join(bSide, pKey :+ "lo" :+ "hi")
      // lo < hi pairs meet once with arbitrary side order; lo == hi pairs
      // meet in both orders — keep one and drop self-pairs
      .filter(col("lo") < col("hi") || col("doc_1") < col("doc_2"))
      .select(least(col("doc_1"), col("doc_2")).as("id_a"),
        greatest(col("doc_1"), col("doc_2")).as("id_b"),
        (col("dn_1") * col("dn_2") + col("sfx_1") * col("sfx_2")).as("ub"))
      .groupBy(col("id_a"), col("id_b")).agg(max(col("ub")).as("ub"))
      .filter(col("ub") >= lit(slack))
      .select(col("id_a"), col("id_b"))

    val va = vecs.select(col("doc").as("id_a"),
      col("terms").as("terms_a"), col("wns").as("wns_a"))
    val vb = vecs.select(col("doc").as("id_b"),
      col("terms").as("terms_b"), col("wns").as("wns_b"))
    // shuffle_hash on the VECTOR side: sort-merge would sort the pair
    // stream — after join 1 that stream carries a full term array per
    // row (the widest data in the operator), and sorting it is pure
    // waste when a hash table over the doc-keyed vectors (one row per
    // doc, bounded) serves the same equi-join (measured r10: the zipf10
    // verify stage's sort spill was half the remaining tail).
    cand.join(va.hint("shuffle_hash"), Seq("id_a"))
      .join(vb.hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.sparseDotLongKeys(
          col("terms_a"), col("wns_a"), col("terms_b"), col("wns_b"))
          .cast("double") / lit(1e12), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
