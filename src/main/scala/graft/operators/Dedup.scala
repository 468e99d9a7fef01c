package graft.operators

import graft.functions.TextFunctions
import graft.plans.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2
  * q20–q24). All of them are declarative DataFrame transforms: Catalyst
  * prunes the scans and AQE handles skew; nothing collects to the driver.
  *
  * Scale notes (100 TB):
  *  - [[exact]] shuffles a 32-byte digest + id, never the document text.
  *  - [[minHashPairs]] is linear in corpus size: LSH banding shuffles
  *    (band, bandHash) keys; only same-bucket candidates are joined. The
  *    all-pairs variant [[ngramJaccardPairs]] exists as the correctness
  *    baseline / small-side path.
  *  - [[simHashPairs]] blocks on PAIRS of 10-bit simhash chunks: hamming
  *    ≤ 4 over a 60-bit fingerprint flips bits in ≤ 4 of the 6 chunks, so
  *    ≥ 2 chunks — hence ≥ 1 chunk PAIR — agree exactly. Pair generation
  *    streams through a sort-merge self-join (spillable), never
  *    materializing a bucket in one row.
  */
object Dedup {

  /** Whitespace-collapsed, trimmed, lowercased text — the normalization the
    * exact-dedup key is computed over.
    */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Exact dedup on normalized text. Shuffles only a 64-bit `xxhash64` key
    * plus the id — never the document text — so the shuffle width is
    * constant regardless of document size (the 100 TB path). Returns
    * (id, n_copies) where id is the lowest id of each duplicate class.
    *
    * xxhash64 collisions across distinct 100 TB-scale corpora are possible
    * in principle; callers needing cryptographic certainty can re-verify
    * survivors with [[exactSurvivors]] (which carries the text) or a
    * sha2 digest second pass.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), xxhash64(normalized(col(textCol))).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** The surviving corpus after exact dedup: full rows of the canonical
    * (lowest-id) copy of each duplicate class — what a training-data
    * pipeline actually feeds downstream.
    */
  def exactSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(exact(docs, idCol, textCol).select(idCol), Seq(idCol), "left_semi")

  /** The distinct normalized-text digests of a corpus — the 8-byte/doc
    * index an INCREMENTAL pipeline keeps between runs (at 100 TB you
    * persist this once, not the text).
    */
  def digests(docs: DataFrame, textCol: String): DataFrame =
    docs.select(xxhash64(normalized(col(textCol))).as("digest")).distinct()

  /** Incremental exact dedup: the canonical NEW rows of a `delta` against
    * an already-ingested base, given only the base's [[digests]]. Dedups
    * within the delta (min id per digest, like [[exact]]), then anti-joins
    * the base digest index — the base corpus is never re-read or
    * re-shuffled, and the delta's text never shuffles either (digest+id
    * only). With a typical delta ≪ base, this is the everyday ingest path:
    * cost is O(|delta|) plus one semi-join against an 8-byte-keyed index.
    * Returns (id, n_copies) of delta docs unseen in the base.
    */
  def incrementalExact(
      delta: DataFrame, idCol: String, textCol: String,
      baseDigests: DataFrame): DataFrame =
    delta
      .select(col(idCol), xxhash64(normalized(col(textCol))).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .join(baseDigests, Seq("digest"), "left_anti")
      .select(col(idCol), col("n_copies"))

  /** The persisted NEAR-dup twin of [[digests]]: everything an incremental
    * ingest needs to near-dup a delta against an already-ingested base
    * without touching the base text again.
    *
    *  - `bands`: (band, bh, id) — the MinHash LSH band keys, the candidate
    *    -generation side of the index.
    *  - `shingles`: (id, sh: array<long>) — each doc's distinct shingle
    *    set as 8-byte xxhash64 values, the verification side (exact
    *    Jaccard over hashed shingles == over the strings, modulo 64-bit
    *    collisions — the q62 contract).
    *
    * At 100 TB both frames are written once per ingest (partition by
    * pmod(bh)/pmod(id)) and grow only by each delta's survivors.
    */
  final case class NearDupIndex(bands: DataFrame, shingles: DataFrame)

  /** Survivors of one incremental near-dup step, the index rows this step
    * ADDS (what an append-mode persister writes), the grown index as
    * a whole (what the next in-session step consumes), and the VERIFIED
    * near-dup pairs the step found (`hits`: id_a, id_b — delta-vs-index
    * and within-delta, Jaccard-verified; what an observability monitor
    * records, since a dropped doc and its partner are both evidence).
    */
  final case class IncrementalNearDup(
      survivors: DataFrame, added: NearDupIndex, index: NearDupIndex,
      hits: DataFrame)

  /** Build the [[NearDupIndex]] of a corpus (the one-time base pass). */
  def nearDupIndex(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 32, rowsPerBand: Int = 4): NearDupIndex = {
    val sh = shingled(docs, idCol, textCol, n)
    NearDupIndex(
      bands = bandKeys(sh, bands, rowsPerBand),
      shingles = sh.select(col("id"), transform(col("sh"), s => xxhash64(s)).as("sh")))
  }

  /** Incremental NEAR-dup dedup — the daily-ingest reality q52 covers only
    * for exact copies. Bands the delta, joins band keys against the
    * persisted index (base candidates) and itself (within-delta
    * candidates), exact-verifies every candidate with Jaccard over the
    * hashed shingle sets, and drops each delta doc that matches the base
    * or a SMALLER delta id at ≥ `threshold` (the same keep-first
    * canonicalization as [[exact]]'s min-id rule). Returns the surviving
    * delta ids and the grown index.
    *
    * The base corpus appears ONLY through its index: no base text is
    * read, shuffled, or re-shingled — cost is O(|delta|) banding plus
    * band-key joins against an 8-byte-keyed index, the property that
    * makes daily ingest affordable when delta ≪ base. Both candidate
    * joins are bucket-capped ([[cappedBucketPairs]]' hot-bucket
    * discipline) so a boilerplate band bucket cannot go quadratic.
    */
  def incrementalNearDup(
      delta: DataFrame, idCol: String, textCol: String,
      index: NearDupIndex,
      n: Int = 3, threshold: Double = 0.7,
      bands: Int = 32, rowsPerBand: Int = 4,
      bucketCap: Int = DefaultBucketCap): IncrementalNearDup = {
    import org.apache.spark.sql.expressions.Window
    val dsh = shingled(delta, idCol, textCol, n)
    // dHashed verifies three joins and dBanded feeds both candidate
    // paths: materialize each once (executor-disk localCheckpoint, the
    // q47/q63 shared-subplan discipline) so the delta is shingled/banded
    // in one pass instead of once per consumer — measured 8 source scans
    // per run without this. The index frames are the CALLER's (normally
    // already-persisted parquet) and are left untouched.
    val dHashed = dsh.select(col("id"), transform(col("sh"), s => xxhash64(s)).as("sh"))
      .localCheckpoint()
    val dBanded = bandKeys(dsh, bands, rowsPerBand).localCheckpoint()

    // delta × base candidates: equi-join on the band key, each side
    // bucket-capped (lowest ids kept) — the cross-corpus analog of
    // cappedBucketPairs' self-join discipline
    def capped(b: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("band"), col("bh")).orderBy(col("id"))
      b.withColumn("rn", row_number().over(w)).filter(col("rn") <= bucketCap)
        .select("band", "bh", "id")
    }
    // The index side is pruned to the delta's buckets BEFORE the cap
    // window: the window must never partition/sort the WHOLE persisted
    // index (it grows with the base — that would make every micro-batch
    // pay O(|index|) and break the O(|delta|) ingest contract). After the
    // semi-join, the surviving index rows are O(|delta| · bands) for
    // bounded buckets.
    val touched = index.bands
      .join(dBanded.select("band", "bh").distinct(), Seq("band", "bh"), "left_semi")
    // NOTE: self-pairs (id_d == id_b) are deliberately KEPT: a re-delivered
    // doc id whose first arrival is already indexed matches itself at
    // jaccard 1 and is correctly DROPPED from the survivors — the dedup
    // contract. Consumers that only COUNT near-dup relationships (the
    // StreamDedupStats monitor) filter self-pairs from `hits` themselves.
    val crossCand = capped(dBanded).withColumnRenamed("id", "id_d")
      .join(capped(touched).withColumnRenamed("id", "id_b"), Seq("band", "bh"))
      .select("id_d", "id_b").distinct()
    val crossHits = crossCand
      .join(dHashed.select(col("id").as("id_d"), col("sh").as("sh_d")), Seq("id_d"))
      .join(index.shingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .filter(TextFunctions.jaccard(col("sh_d"), col("sh_b")) >= threshold)
      .select(col("id_d"), col("id_b"))
    val crossDrop = crossHits.select(col("id_d").as("id")).distinct()

    // within-delta candidates: the q21 self-join path over the delta only
    val withinCand = cappedBucketPairs(dBanded, Seq("band", "bh"), bucketCap).distinct()
    val withinHits = withinCand
      .join(dHashed.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(dHashed.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .filter(TextFunctions.jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val withinDrop = withinHits.select(col("id_b").as("id")).distinct() // id_a < id_b: the larger id drops

    val survivors = delta.select(col(idCol).as("id"))
      .join(crossDrop, Seq("id"), "left_anti")
      .join(withinDrop, Seq("id"), "left_anti")

    val added = NearDupIndex(
      bands = dBanded.join(survivors, Seq("id"), "left_semi").select("band", "bh", "id"),
      shingles = dHashed.join(survivors, Seq("id"), "left_semi"))
    IncrementalNearDup(
      survivors,
      added,
      NearDupIndex(
        bands = index.bands.unionByName(added.bands),
        shingles = index.shingles.unionByName(added.shingles)),
      hits = crossHits.select(col("id_d").as("id_a"), col("id_b"))
        .unionByName(withinHits).distinct())
  }

  /** Shingled docs — the shared prefix of the shingle-based pipelines.
    * Shingle-less docs (shorter than n tokens) are dropped here: they have
    * no Jaccard evidence, and an empty set's MinHash signature is the
    * all-max constant — every such doc would collide in every LSH band.
    */
  private def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // the shingle/MinHash kernels run in the SCAN stage (before any
    // exchange); spread a narrow input first or they serialize on one
    // core (opt guide §2.5 — no-op on multi-file production scans)
    Spread.ifNarrow(docs.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("id"),
        TextFunctions.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** MinHash + LSH near-duplicate pairs, exact-verified.
    *
    * shingle → 128-hash MinHash signature (native codegen'd expression) →
    * 32 bands × 4 rows → bucket self-join on (band, bandHash) → exact
    * Jaccard filter at `threshold`. Band parameters give miss probability
    * (1 - s^4)^32 ≈ 1e-15 at s = 0.9, so the verified output equals the
    * brute-force result for any realistically separated corpus.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7,
      bands: Int = 32, rowsPerBand: Int = 4,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)

    // Banding consumes the signature; verification consumes only the
    // shingle sets — keep the 128-hash MinHash computation out of the
    // verify branch (it would otherwise be recomputed per verify join).
    val banded = bandKeys(sh, bands, rowsPerBand)

    val candidates = cappedBucketPairs(banded, Seq("band", "bh"), bucketCap)
      .distinct()

    verifyPairs(candidates, sh, threshold)
  }

  /** LSH band keys of a shingled corpus: (id, band, bh) — one row per
    * (doc, band), bh = xxhash64 of the band's MinHash signature slice.
    */
  private def bandKeys(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sh.select(col("id"), HashFunctions.minHashSignature(col("sh")).as("sig"))
      .select(
        col("id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.as("band"),
              xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bh"))))
          .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))

  /** Per-bucket candidate cap (SURVEY §5). A boilerplate-text bucket with B
    * members emits B²/2 candidate pairs; one hot bucket at corpus scale can
    * dwarf the rest of the job and AQE skew-split cannot help (the blowup is
    * in the join output, not the input partition). Capping keeps the
    * lowest-id `cap` members per bucket — a documented approximation: pairs
    * between two docs that BOTH fall outside the cap in EVERY shared bucket
    * are missed. With cap ≫ any legitimate near-dup cluster size, only
    * degenerate buckets are truncated.
    */
  val DefaultBucketCap = 1000

  /** Candidate pairs per bucket with ONE shuffle: window-cap the bucket
    * membership (row_number ≤ cap, lowest ids kept), then collect the
    * surviving ids per bucket — the groupBy reuses the window's hash
    * partitioning, so no second exchange — and expand the C(n,2) pairs
    * with array lambdas (no self-join, no double computation of the
    * upstream pipeline). Per-row memory is bounded by the cap: the widest
    * materialized array is C(cap, 2) id pairs.
    */
  private def cappedBucketPairs(
      banded: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap <= 4096,
      "cappedBucketPairs materializes C(cap,2) pairs per bucket row; " +
        "for an uncapped/large-cap run use a streaming self-join instead " +
        "(see simHashPairs)")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("id"))
    val buckets = banded
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("id"))).as("ms"))
      .filter(size(col("ms")) > 1)
    buckets
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(
          slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
  }

  /** EXACT n-gram Jaccard similarity self-join via an inverted-index
    * equi-join — identical output to the all-pairs scan, but linear-ish
    * in total shingle occurrences instead of quadratic in corpus size.
    *
    * Any pair with J ≥ t > 0 shares ≥1 shingle, so candidates are exactly
    * the pairs co-occurring under some shingle: explode (id, shingle),
    * equi-join on the shingle (a shuffle Catalyst can hash-partition),
    * count shared shingles per pair, and compute J from the counted
    * intersection + the two set sizes. A size-ratio prefilter
    * (t·|B| ≤ |A| ≤ |B|/t when J ≥ t) prunes candidates inside the join
    * without changing the result. Shingle arrays never ride the shuffle —
    * only (id, size, one shingle) rows do.
    *
    * Choosing between the two exact paths: a stop-shingle with document
    * frequency f costs this formulation f²/2 candidate rows — on
    * boilerplate-heavy corpora (web text) use
    * [[ngramJaccardPairsPrefix]], which keeps hot shingles out of the
    * index (measured 3.3× faster at just 5k boilerplate docs, ProbeJaccard;
    * the gap grows with f²). On near-random text this full index is
    * faster (no df pass, no verify joins — measured 3.0 vs 3.6 s at
    * sf0.1). Both are exact.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame = {
    val d = shingled(docs, idCol, textCol, n).withColumn("sz", size(col("sh")))
    val inv = d.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    inv.as("a")
      .join(inv.as("b"),
        col("a.s") === col("b.s")
          && col("a.id") < col("b.id")
          && col("b.sz") * threshold <= col("a.sz")
          && col("a.sz") * threshold <= col("b.sz"))
      .groupBy(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .select(
        col("id_a"), col("id_b"),
        round(col("inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT Jaccard pairs with PPJoin PREFIX FILTERING — the variant for
    * boilerplate-heavy corpora, where a plain inverted index pays f²/2
    * candidates for every shingle of document frequency f.
    *
    * Indexes only each document's ℓ = |s| − ⌈t·|s|⌉ + 1 globally RAREST
    * shingles (order: (df, shingle) lexicographic — any fixed total order
    * is correct; rarity order makes hot shingles land outside almost
    * every prefix, collapsing their f² to ~0).
    *
    * Losslessness (standard PPJoin theorem): J(A,B) ≥ t implies
    * |A∩B| ≥ t·max(|A|,|B|); let x be the min-order element of A∩B — if
    * x were outside A's prefix, the ≥ ℓA elements of A ordered below x
    * are all outside B, so |A∩B| ≤ |A| − ℓA = ⌈t·|A|⌉ − 1 < t·|A|, a
    * contradiction — so x is in BOTH prefixes and the pair collides in
    * the index. Candidates are verified with exact Jaccard over the full
    * shingle sets: false positives impossible, output equals
    * [[ngramJaccardPairsNaive]] exactly (spec-tested at three
    * thresholds on a boilerplate corpus).
    */
  def ngramJaccardPairsPrefix(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = shingled(docs, idCol, textCol, n).withColumn("sz", size(col("sh")))
    val occ = d.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val dfPerShingle = occ.groupBy("s").agg(count(lit(1)).as("df"))

    val w = Window.partitionBy("id").orderBy(col("df"), col("s"))
    val prefix = occ.join(dfPerShingle, Seq("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select("id", "sz", "s")

    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s")
          && col("a.id") < col("b.id")
          && col("b.sz") * threshold <= col("a.sz")
          && col("a.sz") * threshold <= col("b.sz"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    verifyPairs(candidates, d.select("id", "sh"), threshold)
  }

  /** Asymmetric n-gram CONTAINMENT pairs — quote/inclusion detection
    * (SURVEY §2 q102). Jaccard (q23) is symmetric and VANISHES when a
    * small document is quoted inside a much larger one (inter/union ≈
    * |A|/|B|); containment C(A⊆B) = |A∩B|/|A| stays ≈ 1 — the signal for
    * aggregator pages, quote farms and template inclusion that
    * near-dup passes structurally miss. Returns DIRECTED rows
    * (contained_id, container_id, containment ≥ t); a true duplicate
    * pair emits both directions by design.
    *
    * Candidate generation is the q23 PPJoin prefix adapted to the
    * asymmetric bound: C(A⊆B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so if ALL of A's
    * ℓ_A = |A| − ⌈t·|A|⌉ + 1 rarest-first shingles missed B then
    * |A∩B| ≤ ⌈t·|A|⌉ − 1 — contradiction; hence the CONTAINED side's
    * prefix must hit the container's FULL shingle set, and prefix ⋈
    * full-index is lossless. Two asymmetries vs q23: no size-ratio
    * pruning is sound (a 10-shingle quote can live in a 10⁶-shingle
    * page), and only one side pays a prefix (the full side is the
    * existing inverted index). Hot shingles mostly collapse: the prefix
    * keeps globally RAREST shingles, so f_prefix(hot) ≈ 0 bounds the
    * Σ f_pref·f_full candidate count (the q23 rarity argument) — but
    * SHORT docs defeat rarity (a 5-shingle doc at t=0.8 has a 2-shingle
    * prefix that may be forced onto a boilerplate shingle with df = 10⁶),
    * so the candidate join is additionally CHUNK-RECTANGLE capped: per
    * shingle, the prefix side splits into ⌈pdf/maxPostings⌉ hash chunks
    * and the full side into ⌈df/maxPostings⌉, each (a, b) pair meeting
    * exactly once on key (s, ga, gb). No task handles more than
    * maxPostings² candidates regardless of skew — the rectangular
    * analogue of q63's chunk-triangle guard (self-join there, bipartite
    * prefix×index here). The cap is lossless: chunking only re-keys the
    * join, it never drops a co-occurrence. A second win falls out of the
    * cap's stats join: the full index inner-joins the per-shingle chunk
    * table, which prunes `occ` to shingles present in at least one
    * prefix before the explode.
    * Candidates verify exactly against the full shingle sets — false
    * positives impossible.
    *
    * STRAGGLER CONTRACT (degenerate regime): when the vocabulary is tiny
    * (the 31-word stress corpus) true containment pairs are Θ(n²) and the
    * run is output-sensitive — same contract as q23/q63 in that regime.
    * The cap holds (max task ≤ maxPostings² candidates ≈ 1.33M measured
    * at 50k docs), but the slowest task is then VERIFY-bound: each
    * candidate pays an array_intersect over full shingle sets, so a
    * maxPostings²-candidate task is ~47 s at sf1 (SCALING_r8) even
    * though candidate counts never blow up. Lowering `maxPostings`
    * flattens verify tasks quadratically but REPLICATES the candidate
    * join linearly (each prefix occurrence fans out to ⌈df/maxPostings⌉
    * chunk keys and vice versa) — tune it down only when stragglers, not
    * total volume, dominate; in the Zipf (realistic) regime the default
    * is bounded and linear (max-task 66k→87k across 10×, SCALING_r8) and
    * no tuning is needed.
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxPostings: Int = 1024): DataFrame = {
    val d = shingled(docs, idCol, textCol, n).withColumn("sz", size(col("sh")))
    val occ = d.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val dfPerShingle = occ.groupBy("s").agg(count(lit(1)).as("df"))

    // Per-doc prefix = the ℓ = sz − ⌈t·sz⌉ + 1 (df, s)-smallest shingles.
    // Formulated as ONE hash aggregation + a row-local array sort/slice
    // (r20, guide §2.4): the former row_number Window cost a full SORT of
    // the (id, df, s) occurrence stream on top of the same exchange; the
    // aggregate reuses the exchange and sorts each doc's own ≤ sz entries
    // in-row instead. Same (id, s) set: array_sort on (df, s) structs
    // orders by (df, s) lexicographically, exactly the window's orderBy.
    val prefix = occ.join(dfPerShingle, Seq("s"))
      .groupBy(col("id"))
      .agg(
        max(col("sz")).as("sz"), // sz is constant per id
        array_sort(collect_list(struct(col("df"), col("s")))).as("os"))
      .select(col("id"),
        explode(slice(col("os"), lit(1),
          (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))).as("e"))
      .select(col("id"), col("e.s").as("s"))
      .localCheckpoint()

    // Per-shingle chunk counts for both sides; inner join ⇒ only shingles
    // that survive into some prefix reach the candidate join at all.
    val caps = prefix.groupBy("s").agg(count(lit(1)).as("pdf"))
      .join(dfPerShingle, Seq("s"))
      .select(col("s"),
        ceil(col("pdf") / lit(maxPostings)).cast("int").as("ca"),
        ceil(col("df") / lit(maxPostings)).cast("int").as("cb"))

    val aSide = prefix.join(caps, Seq("s"))
      .select(col("s"), col("id").as("id_a"),
        pmod(xxhash64(col("id")), col("ca")).cast("int").as("ga"),
        explode(sequence(lit(0), col("cb") - 1)).as("gb"))
    val bSide = occ.join(caps, Seq("s"))
      .select(col("s"), col("id").as("id_b"),
        explode(sequence(lit(0), col("ca") - 1)).as("ga"),
        pmod(xxhash64(col("id")), col("cb")).cast("int").as("gb"))
    val candidates = aSide.join(bSide, Seq("s", "ga", "gb"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // VERIFY parallelism pin (r20, guide §2.5): the per-candidate
    // array_intersect is CPU-dense per byte, and AQE's byte-based
    // coalescing was folding the verify joins into TWO tasks at bench
    // scale (measured: 2 tasks carrying 4.2 s of the query's CPU).
    // Pinning both join keys' exchanges to the session parallelism keeps
    // the verify stage wide; the pinned exchanges carry candidate-volume
    // rows the joins would exchange anyway.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    candidates.repartition(par, col("id_a"))
      .join(d.select(col("id"), col("sh"), col("sz")).as("da"), col("id_a") === col("da.id"))
      .repartition(par, col("id_b"))
      .join(d.select(col("id"), col("sh")).as("db"), col("id_b") === col("db.id"))
      .select(
        col("id_a").as("contained_id"), col("id_b").as("container_id"),
        round(size(array_intersect(col("da.sh"), col("db.sh"))).cast("double")
          / col("da.sz"), 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** All-pairs reference implementation of [[ngramJaccardPairs]] (the
    * semantic spec; O(n²), tests and small sides only).
    */
  def ngramJaccardPairsNaive(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame = {
    val d = shingled(docs, idCol, textCol, n)
    d.as("a").join(d.as("b"), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(TextFunctions.jaccard(col("a.sh"), col("b.sh")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash BANDING CALIBRATION gate (SURVEY §2 q116) — the tuning table
    * you run on a SUBSAMPLE before committing (bands, rowsPerBand) to a
    * 100 TB pass: per exact-Jaccard decile, the pair count, the analytic
    * catch probability 1 − (1 − s^r)^b of the banding scheme, and a gate
    * asserting the MEASURED catch rate of the real signature pipeline
    * tracks the analytic curve. A banding whose measured S-curve drifts
    * from theory (broken hash family, wrong slicing) is caught here on
    * thousands of docs, not discovered as silent recall loss on billions.
    *
    * Bounded like q99b: both sides restrict to `id < maxId`, so the
    * brute-force pair table is O(maxId²) at ANY corpus scale — the gate's
    * cost is a constant, not a function of the corpus.
    *
    * Cross-engine: decile, n_pairs and analytic_rate are oracle-exact —
    * the analytic rate avoids `pow` entirely (r−1 multiplications then
    * log₂(bands) squarings in fixed IEEE order, `bands` must be a power
    * of two; per-pair p rounds 6 dp, the decile mean accumulates as
    * DECIMAL — the q90 discipline). The measured rate rides only inside
    * `gate_ok` (the q24b `TRUE recall_ok` convention: the oracle cannot
    * re-derive the 2⁶⁴-wraparound signature, so it pins the boolean);
    * `detail = true` adds the raw measured columns for interactive
    * tuning (not oracle-comparable); run at sf0.001/0.01/0.1 it is the
    * measured-vs-analytic S-curve record behind `tolerance`. Small deciles
    * (< minPairs) pass unconditionally — a 3-pair decile's empirical rate
    * is noise.
    *
    * Two measurement-scope caveats (deliberate, documented):
    *  - The subsample is `id < maxId`, which REQUIRES ids near 0 — on a
    *    corpus whose id space starts elsewhere (xxhash-derived ids) the
    *    subsample would be empty and a forall(gate_ok) consumer would
    *    pass vacuously, so an empty subsample now throws instead of
    *    returning an empty (vacuously green) gate table. Remap ids or
    *    raise maxId; a hash-fraction subsample is NOT used because the
    *    O(maxId²) bound is the point of the id cut.
    *  - The measured side joins RAW band keys — the hot-bucket caps the
    *    production candidate paths apply ([[minHashPairs]]' bucketCap)
    *    are EXCLUDED, so the gate calibrates the banding scheme itself
    *    (hash family + slicing vs theory). At maxId = 500 the caps never
    *    bind; on production-skew subsamples run the gate AND watch the
    *    cap's own truncation metrics separately.
    */
  def bandingCalibration(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
      maxId: Long = 500, tolerance: Double = 0.15, minPairs: Long = 30,
      detail: Boolean = false): DataFrame = {
    require(bands > 0 && (bands & (bands - 1)) == 0,
      "bands must be a power of two (analytic rate computed by squaring)")
    val sub = docs.filter(col(idCol).cast("long") < maxId)
    // the subsample's scan is typically ONE partition (one small file),
    // which would serialize the O(maxId²) brute-force pair join below in
    // a single task (measured: 3.9 of q116's 4.6 s, one core busy);
    // spread it over the available slots first (opt guide §2.5)
    val sh = shingled(sub, idCol, textCol, n)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    require(!sh.isEmpty,
      s"bandingCalibration: no shingled docs with $idCol < $maxId - the gate " +
        "would validate nothing (vacuous pass); remap ids near 0 or raise maxId")
    val banded = bandKeys(sh, bands, rowsPerBand)
    val pairs = sh.as("da").join(sh.as("db"), col("da.id") < col("db.id"))
      .select(col("da.id").as("id_a"), col("db.id").as("id_b"),
        round(TextFunctions.jaccard(col("da.sh"), col("db.sh")), 4).as("j"))
    val hits = banded.as("ba").join(banded.as("bb"),
        col("ba.band") === col("bb.band") && col("ba.bh") === col("bb.bh") &&
          col("ba.id") < col("bb.id"))
      .select(col("ba.id").as("id_a"), col("bb.id").as("id_b"))
      .distinct()
      .withColumn("hit", lit(true))
    val jr = (1 until rowsPerBand).foldLeft(col("j"))((a, _) => a * col("j"))
    val xb = (0 until Integer.numberOfTrailingZeros(bands))
      .foldLeft(lit(1.0) - jr)((a, _) => a * a)
    val out = pairs
      .join(hits, Seq("id_a", "id_b"), "left")
      .select(
        least(floor(col("j") * 10), lit(9L)).cast("int").as("decile"),
        coalesce(col("hit"), lit(false)).as("caught"),
        round(lit(1.0) - xb, 6).cast("decimal(10,6)").as("p"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("p")).cast("double") / count(lit(1)), 4).as("analytic_rate"),
        round(sum(when(col("caught"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("measured_rate"))
      .withColumn("gate_ok",
        col("n_pairs") < minPairs ||
          abs(col("measured_rate") - col("analytic_rate")) <= tolerance)
    if (detail) out
    else out.select(col("decile"), col("n_pairs"), col("analytic_rate"), col("gate_ok"))
  }

  /** Exact-verify candidate pairs against the shingle sets. */
  // NOT pinned (r20, tried and rejected): containmentPairs' verify pin
  // was tried here too, but the LSH-banded candidate sets are tiny and
  // their exact-Jaccard verify carries little CPU — the two pinned
  // exchanges were pure per-job overhead for every minHashPairs consumer
  // (same-hour pair: q47d +1.9 s, q121 +1.2 s, q118 +0.7 s). The pin
  // stays only where the verify is measured CPU-dense (containment).
  private def verifyPairs(candidates: DataFrame, d: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(d.as("da"), col("id_a") === col("da.id"))
      .join(d.as("db"), col("id_b") === col("db.id"))
      .select(
        col("id_a"), col("id_b"),
        round(TextFunctions.jaccard(col("da.sh"), col("db.sh")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** SimHash near-duplicate pairs: 60-bit simhash fingerprints, blocked on
    * the C(6,2) = 15 PAIRS of 10-bit chunks, hamming-verified inside the
    * join. Returns (id_a, id_b, hamming).
    *
    * Exactness: hamming ≤ h flips bits in at most h of the 6 chunks, so at
    * least 6 − h chunks are bit-identical; for h ≤ 4 that is ≥ 2 chunks,
    * hence at least one chunk PAIR agrees and the pair lands in a shared
    * (pairIdx, cv_i, cv_j) bucket. No cap, no dropped pairs (the sf0.1
    * cap bug of round 2 cannot recur — there is nothing to cap).
    *
    * Key count is a covering design, not all C(6,2) = 15 pairs:
    *  - h ≤ 2 → ≥ 4 chunks agree; a perfect matching {01, 23, 45} has
    *    independence number 3, so any 4 agreeing chunks contain a matched
    *    pair: 3 keys/doc.
    *  - h = 3 → ≥ 3 chunks agree; two disjoint triangles {012, 345} have
    *    independence number 2 (one vertex per triangle), so any 3 agreeing
    *    chunks put 2 in one triangle: 6 keys/doc.
    *  - h = 4 → ≥ 2 chunks agree, which only the full 15 pairs cover
    *    (any missing pair is an independent 2-set).
    * Fewer keys = proportionally less exploded shuffle volume.
    *
    * Scale: two wins over the round-2 single-chunk + collect_list version.
    * (1) Blocking keys live in a 20-bit space per chunk pair instead of
    * 15 bits per chunk, so hot buckets (common-word bit patterns
    * concentrate) shrink ~quadratically — two chunks must BOTH collide.
    * (2) Pairs stream out of a sort-merge self-join whose per-key match
    * group is spillable (`ExternalAppendOnlyUnsafeRowArray`), instead of
    * collect_list materializing a whole bucket — and its C(B,2) expansion —
    * in a single row, which OOMs one executor on a boilerplate corpus.
    * The shuffle for the two join sides is computed once and reused
    * (ReusedExchange — both sides are the same subtree).
    */
  def simHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingleN: Int = 0): DataFrame = {
    require(maxHamming <= 4, "6-chunk pair blocking is only lossless for hamming <= 4")
    // Feature basis decides collision VOLUME, and the operator is lossless
    // (cost is output-sensitive), so it decides cost. Word-token features
    // (shingleN = 0, duplicates weighted) concentrate on head-heavy
    // corpora: every doc is dominated by the same frequent words, so
    // signatures crowd one Hamming ball and the true hamming<=h pair set
    // is quadratic — r7 measured ~100x pairs per 10x docs on BOTH the
    // 31-word and the Zipf corpus (the shuffle_read_records of
    // `graft.Inspect q22_dedup_simhash,q22b_dedup_simhash_shingled <dir1,dir2> 2`
    // over a `GenData` size ladder). Distinct n-gram shingle
    // features (shingleN >= 2) spread the signature: shingles are
    // near-unique strings, their hashes uniform, and the pair volume
    // collapses to the true near-dup rate (~linear — measured 11x per
    // 10x docs at shingleN = 3). Docs with no shingle (< shingleN tokens)
    // have no signature and are excluded rather than all colliding at 0.
    val feats =
      if (shingleN <= 0) TextFunctions.tokens(col(textCol))
      else TextFunctions.shingles(col(textCol), shingleN)
    val base = docs.select(
      col(idCol).as("id"),
      HashFunctions.simHash64(feats).as("sim"),
      size(feats).as("nf"))
    val t = (if (shingleN <= 0) base else base.filter(col("nf") > 0)).drop("nf")

    def chunk(c: Int): Column = shiftrightunsigned(col("sim"), c * 10) % 1024
    val pairs: Seq[(Int, Int)] =
      if (maxHamming <= 2) Seq((0, 1), (2, 3), (4, 5))
      else if (maxHamming == 3) Seq((0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5))
      else for { i <- 0 until 6; j <- (i + 1) until 6 } yield (i, j)
    // One packed 64-bit blocking key per chunk pair: (pairIdx << 20) | cv_i << 10 | cv_j
    val keys = pairs.map { case (i, j) =>
      (lit((i * 6 + j).toLong << 20) + chunk(i) * 1024 + chunk(j)).as("bk")
    }
    val banded = t.select(col("id"), col("sim"), explode(array(keys: _*)).as("bk"))

    val ham = bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("int")
    banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk")
          && col("a.id") < col("b.id")
          && ham <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), ham.as("hamming"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold), brute force
    * with the codegen'd [[graft.plans.CosineSimilarity]] kernel. O(n²) —
    * the small-side correctness baseline; the registered scale path is
    * [[embeddingNearDupLshPairs]]. Returns (id_a, id_b, cos).
    */
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    // A small corpus parquet scan often lands in 1-2 partitions, which
    // serializes the nested-loop join (the broadcast side streams through
    // ONE task per streamed partition). Spread the streamed side over the
    // available slots so the O(n²) scoring parallelizes.
    val streamed = e.repartition(e.sparkSession.sparkContext.defaultParallelism)
    streamed.as("a").join(broadcast(e.as("b")), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(graft.plans.VectorFunctions.cosineSimilarity(col("a.v"), col("b.v")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding near-dup, LSH-blocked — the 100 TB scale path for what
    * [[embeddingNearDupPairs]] computes by brute force.
    *
    * Multi-table sign-hash blocking (same deterministic hyperplanes as the
    * ANN path, [[graft.plans.VectorFunctions.lshBuckets]]): each vector
    * explodes into `tables` table-tagged bucket ints — never the vector
    * itself — candidates are same-bucket id pairs (streaming self-join,
    * identical shape to [[simHashPairs]]), and every candidate is
    * cosine-verified, so false positives are impossible.
    *
    * APPROXIMATE by construction: a true pair at angle θ collides in one
    * table with p = (1 − θ/π)^bits, so it is missed with probability
    * (1 − p)^tables — e.g. cos 0.9 → miss 3e-7, cos 0.4 → miss ~0.27 at
    * the defaults. MULTIPROBE (`probes` > 0) recovers most of that tail:
    * ONE side of the self-join additionally probes, per table, the
    * `probes` flip-1-bit buckets with the smallest hyperplane margin, so
    * a pair whose codes differ in one weak bit still collides — recall
    * rises at a fixed table count instead of paying another full corpus
    * explode per extra table (measured on the near-uniform worst-case
    * corpus: subset recall 0.66 → 0.97 at sf0.1 from probes 0 → 2). The
    * probe side grows ×(1+probes) but carries only (id, bucket-int)
    * rows, never vectors. The driver gate ([[embeddingNearDupGate]])
    * measures recall against an exact subset instead of assuming it.
    * Returns (id_a, id_b, cos).
    */
  def embeddingNearDupLshPairs(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bits: Int = 6, tables: Int = 20, probes: Int = 2): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val b = emb.select(
      col(idCol).as("id"),
      explode(graft.plans.VectorFunctions.lshBuckets(col(vecCol), bits, tables)).as("bucket"))
    val bp = emb.select(
      col(idCol).as("id"),
      explode(graft.plans.VectorFunctions.lshProbeBuckets(col(vecCol), bits, tables, probes))
        .as("bucket"))
    // Asymmetric probing: only side `a` fans out. A pair whose codes
    // differ in one bit collides when that bit is among a's weakest
    // margins — likely, since a separating hyperplane is close to BOTH
    // near vectors — so one probing side captures most of the Hamming-1
    // reach at half the join input of symmetric probing.
    val candidates = bp.as("a")
      .join(b.as("b"), col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(e.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        round(graft.plans.VectorFunctions.cosineSimilarity(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS (q21/q22/q23/q24b) into droppable CLUSTERS: a
    * training-data pipeline keeps one canonical document per component,
    * not one per pair (pairs (a,b),(b,c) must drop b AND c, which no
    * per-pair rule gets right).
    *
    * Iterative min-label propagation WITH pointer jumping, all DataFrame
    * ops: every node starts labeled with its own id; each round (1) pulls
    * the min label across edges, then (2) follows its label's own label
    * (`lbl ← lbl(lbl)`, path doubling — a label is always a node id, so
    * the lookup is a self-join on the label table). Fixpoint = every node
    * labeled with its component's min id (the same fixpoint the oracle's
    * recursive SQL CTE computes). `localCheckpoint` cuts the growing
    * lineage each round; convergence is label-change count == 0 (labels
    * only decrease, so one filtered join detects it).
    *
    * Scale: O(|E| + |V|) shuffle per round for O(log diameter) rounds —
    * the edge step moves information one hop, the jump step doubles the
    * distance already covered, so a 100-long chain converges in ~8 rounds
    * where plain propagation needs 100. Near-dup graphs (dense clumps)
    * converge in 2–3 either way. Throws if `maxIter` rounds don't
    * converge rather than returning wrong labels. Returns (id, component).
    */
  /** Below this many (symmetrized, distinct) edges [[connectedComponents]]
    * collects the edge list and computes the labels on the driver with
    * min-rooted union-find — the identical fixpoint (min id per
    * component), one bounded collect instead of O(log diameter) rounds of
    * checkpoint + aggregation jobs. Near-dup edge lists are OUTPUT-sized
    * (never corpus²), so at bench scales this path always engages; a
    * 100 TB corpus whose pair graph outgrows the bound falls back to the
    * distributed min-label/pointer-jumping loop unchanged.
    */
  val MaxLocalCcEdges: Long = 2000000L

  /** Driver-local twin of the distributed fixpoint: union-find where
    * union always roots at the SMALLER id, so each root IS its
    * component's min id — the exact labels the iterative loop converges
    * to (spec-asserted equal).
    */
  private def localComponents(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    es.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) { val id = it.next(); out(i) = (id, find(id)); i += 1 }
    out
  }

  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 50): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .union(pairs.select(col(bCol).cast("long").as("a"), col(aCol).cast("long").as("b")))
      .distinct()
      .localCheckpoint()
    if (edges.count() <= MaxLocalCcEdges) {
      val spark = pairs.sparkSession
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = localComponents(es).map { case (id, c) =>
        org.apache.spark.sql.Row(id, c) }
      // RDD-backed (not a LocalRelation): the label table is joined by
      // several consumers and must not ride every plan as literal rows.
      // Schema mirrors the distributed path's (nullable longs) so dumped
      // parquet schemas stay byte-identical.
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = true)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(labels.toSeq,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            1 + labels.length / 10000))),
        schema)
    }
    iterativeComponents(edges, maxIter)
  }

  /** The distributed min-label + pointer-jumping fixpoint over a
    * materialized symmetrized edge list — the scale path of
    * [[connectedComponents]] (and its spec-comparable twin for the
    * driver-local fast path).
    */
  private[graft] def iterativeComponents(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = edges.select(col("a").as("id"))
      .distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint()
    // Convergence witness (opt guide §2.4 — remove shuffles outright):
    // the id set is fixed across rounds and labels only ever DECREASE
    // elementwise, so the label SUM strictly decreases iff any label
    // changed. One aggregation over the just-materialized round replaces
    // the old join-previous-labels + filter + count job (a two-sided
    // shuffle join per round). DECIMAL(38) accumulation: |V| ≤ 1e10 ids
    // of ≤ 2^63 still fits with 9 digits to spare, and exact integer
    // arithmetic keeps the witness sound (a double sum could alias).
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head.getDecimal(0)
    var prevSum = lblSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val pulled = edges
        .join(labels.withColumnRenamed("id", "a"), Seq("a"))
        .select(col("b").as("id"), col("lbl"))
      // relaxed is consumed twice (base + parents lookup) but NOT
      // checkpointed: both sides are the same subtree, so the planner
      // reuses one exchange (one materialization per round, in `next`'s
      // checkpoint, instead of two)
      val relaxed = labels.union(pulled)
        .groupBy("id").agg(min("lbl").as("lbl"))
      // pointer jump: lbl ← min(lbl, lbl(lbl)) — path doubling. toDF gives
      // the lookup side fresh attribute ids (self-join disambiguation).
      val parents = relaxed.toDF("p_id", "p_lbl")
      val next = relaxed
        .join(parents, col("lbl") === col("p_id"), "left")
        .select(
          col("id"),
          least(col("lbl"), coalesce(col("p_lbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    }
    require(converged, s"connectedComponents: no fixpoint in $maxIter rounds " +
      "(raise maxIter - with pointer jumping this needs a graph of " +
      "diameter ~2^" + maxIter + ")")
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** The corpus with near-duplicate clusters collapsed to their canonical
    * (min-id) member: docs in no pair survive untouched; of each
    * component only the min id survives. The companion of
    * [[exactSurvivors]] for the approximate pipelines.
    */
  def nearDupSurvivors(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__loser"))
    docs.join(losers, docs(idCol).cast("long") === col("__loser"), "left_anti")
  }

  /** Driver-checkable gate for [[embeddingNearDupLshPairs]]: a one-row
    * result an exact-SQL oracle can reproduce. The full-corpus LSH pairs
    * are measured against an EXACT brute-force reference restricted to the
    * id < `sampleIds` subset (bounded work: C(sampleIds, 2) pairs, however
    * big the corpus), yielding
    *   (n_true, recall_ok, fp_count)
    * where n_true is the subset's exact pair count (the oracle recomputes
    * it — a real cross-engine equality), recall_ok gates subset recall at
    * `floor`, and fp_count counts output pairs below the threshold
    * (structurally zero: the operator cosine-verifies every candidate).
    *
    * Floor calibration: the synthetic embeddings are near-uniform — the
    * worst case for angular LSH (all true pairs sit at cos 0.4–0.6, where
    * per-table collision is weakest). Measured subset recall with the
    * defaults (probes = 2): 0.95 at sf0.001 (63/66), 1.0 at sf0.01
    * (59/59), 0.97 at sf0.1 (60/62) — the ProbeRecall sweep; multiprobe
    * lifted the probes = 0 figures of 0.68/0.83/0.66. floor = 0.8 fails
    * on any real regression (fewer tables, broken hyperplanes, dropped
    * candidates, a lost probe side) while holding across scale factors;
    * clustered corpora (the actual near-dup regime) gate at 0.99 in
    * DedupSpec.
    */
  def embeddingNearDupGate(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      sampleIds: Int = 500, floor: Double = 0.8): DataFrame = {
    val lsh = embeddingNearDupLshPairs(emb, idCol, vecCol, threshold)
    val sub = emb.filter(col(idCol) < sampleIds)
    val brute = embeddingNearDupPairs(sub, idCol, vecCol, threshold)
      .select("id_a", "id_b")
    val lshSub = lsh
      .filter(col("id_a") < sampleIds && col("id_b") < sampleIds)
      .select("id_a", "id_b")
    val nTrue = brute.agg(count(lit(1)).as("n_true"))
    val nFound = brute.join(lshSub, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    val nFp = lsh.filter(col("cos") < threshold).agg(count(lit(1)).as("fp_count"))
    nTrue.crossJoin(nFound).crossJoin(nFp)
      .select(
        col("n_true"),
        (col("n_found") >= ceil(col("n_true") * floor)).as("recall_ok"),
        col("fp_count"))
  }

  /** Canonical-representative selection per near-dup cluster (SURVEY §2
    * q104) — the KEEP decision that follows clustering in a dedup pass
    * (RefinedWeb/FineWeb keep one member per duplicate cluster rather
    * than dropping all): cluster via [[minHashPairs]] →
    * [[connectedComponents]], then keep each cluster's best member by a
    * deterministic quality order (token count desc — longer supersets
    * win, the usual heuristic for near-dup families — ties to the
    * smallest id). Returns one DECISION row per CLUSTERED doc
    * (doc_id, component, canonical_id, keep); unclustered docs are
    * implicitly kept and emit nothing — the output is churn-sized
    * (q88's discipline), not corpus-sized.
    *
    * Shape: the cluster table is near-dup-sized, the quality join is
    * id-keyed, and the per-cluster argmax is a [[BoundedTopK]] k = 1
    * aggregation — map-side partial, O(1) rows per cluster per
    * partition, never a per-cluster window sort.
    */
  def canonicalPicks(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame =
    canonicalPicksFrom(docs, idCol, textCol,
      connectedComponents(
        minHashPairs(docs, idCol, textCol, n, threshold), "id_a", "id_b"))

  /** [[canonicalPicks]] over PRE-COMPUTED cluster labels — the shape a
    * composed pipeline uses, where one [[minHashPairs]] →
    * [[connectedComponents]] pass feeds canonical selection, split keys
    * and observability without re-mining pairs per consumer.
    * `components` must carry (id, component).
    */
  def canonicalPicksFrom(
      docs: DataFrame, idCol: String, textCol: String,
      components: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val clusters = components
    val quality = docs.select(col(idCol).cast("long").as("id"),
      TextFunctions.tokenCount(col(textCol)).as("n_tokens"))
    val scored = clusters.join(quality, Seq("id"))
    val best1 = udaf(
      new BoundedTopK[Scored](1)((a, b) =>
        a.score > b.score || (a.score == b.score && a.id < b.id)),
      Encoders.product[Scored])
    val canon = scored.groupBy(col("component"))
      .agg(best1(col("id"), col("n_tokens").cast("double")).as("b"))
      .select(col("component"), col("b")(0).getField("id").as("canonical_id"))
    // no broadcast hint: the canonical table is cluster-count-sized, which
    // AQE broadcasts when small but may legitimately be huge at 100 TB
    scored.join(canon, Seq("component"))
      .select(col("id").as("doc_id"), col("component"), col("canonical_id"),
        (col("id") === col("canonical_id")).as("keep"))
  }

  /** Near-dup-aware LEAKAGE-SAFE train/val/test split (SURVEY §2 q106):
    * q79's deterministic id-hash split, keyed by the near-dup CLUSTER
    * instead of the document — every cluster member shares its
    * component's hash, so a near-duplicate of a test document can never
    * land in train (the train/eval contamination channel a per-doc split
    * leaves wide open and decontamination papers measure). Unclustered
    * docs key by their own id — for them this IS q79's split bit-for-bit.
    *
    * Returns (doc_id, split_key, split) for every doc; `split_key` is
    * the audited hash key (component for clustered docs, own id
    * otherwise), so leak-freedom is checkable downstream by joining any
    * pair table against the split. Shape: the cluster table is
    * near-dup-sized (left join onto the corpus — AQE broadcasts when
    * small); the split itself stays a per-row expression, zero extra
    * shuffles past the clustering.
    */
  def leakageSafeSplits(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7,
      fractions: Seq[(String, Int)] =
        Seq(("train", 8000), ("val", 1000), ("test", 1000))): DataFrame =
    leakageSafeSplitsFrom(docs, idCol,
      connectedComponents(
        minHashPairs(docs, idCol, textCol, n, threshold), "id_a", "id_b"),
      fractions)

  /** [[leakageSafeSplits]] over PRE-COMPUTED cluster labels (id,
    * component) — see [[canonicalPicksFrom]] for why a composed pipeline
    * passes the clustering in rather than re-mining pairs.
    */
  def leakageSafeSplitsFrom(
      docs: DataFrame, idCol: String, comp: DataFrame,
      fractions: Seq[(String, Int)] =
        Seq(("train", 8000), ("val", 1000), ("test", 1000))): DataFrame = {
    val keyed = docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("split_key"))
    Sampling.assignSplits(keyed, "split_key", fractions)
      .select(col("doc_id"), col("split_key"), col("split"))
  }

  /** Per-source dedup OBSERVABILITY rollup (SURVEY §2 q110) — the
    * monitoring table a pipeline publishes before/after a dedup pass (a
    * source whose dup rate jumps is a crawler loop or a feed replay;
    * per-source, because rates differ by an order of magnitude across
    * sources and a corpus-global number hides the sick one):
    * per source, document count, EXACT-duplicate docs (docs minus
    * distinct normalized digests — the q20 normalization), NEAR-dup docs
    * (docs appearing in ≥ 1 minhash pair), and both rates (4 dp).
    *
    * Shape: the exact side is one count/count-distinct aggregation over
    * (source, digest) — text never shuffles; the near-dup side reuses
    * [[minHashPairs]] and collapses the pair list to a distinct id set
    * (near-dup-sized) before a source-keyed count. Output is
    * |sources| rows.
    */
  def dedupStats(
      docs: DataFrame, idCol: String, textCol: String, srcCol: String,
      threshold: Double = 0.7): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(srcCol).as("source"),
      xxhash64(normalized(col(textCol))).as("digest"))
      .localCheckpoint()
    val ex = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      (count(lit(1)) - countDistinct(col("digest"))).as("n_exact_dups"))
    val ndIds = minHashPairs(docs, idCol, textCol, threshold = threshold)
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val nd = base.join(ndIds, Seq("id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_neardup_docs"))
    ex.join(nd, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_exact_dups"),
        coalesce(col("n_neardup_docs"), lit(0L)).as("n_neardup_docs"),
        round(col("n_exact_dups").cast("double") / col("n_docs"), 4)
          .as("exact_dup_rate"),
        round(coalesce(col("n_neardup_docs"), lit(0L)).cast("double")
          / col("n_docs"), 4).as("neardup_rate"))
  }

  /** q118: cross-source near-dup ATTRIBUTION — where q110 answers "how
    * duplicated is each source", this answers "who duplicates WHOM": the
    * provenance matrix a corpus operator reads before deciding which feed
    * to throttle, which mirror cluster to collapse to one canonical
    * crawl, and which source pair's overlap means a licensing problem
    * (RefinedWeb/C4 post-mortems report exactly this source-pair view).
    *
    * One row per unordered source pair (same-source rows included — the
    * diagonal is each source's internal redundancy):
    * (src_a ≤ src_b, n_pairs, n_docs — distinct docs touched by the
    * pair's near-dups, mean_jaccard 4 dp, pair_rate 8 dp = n_pairs over
    * the pair-universe n_a·n_b, or C(n_a,2) on the diagonal — the
    * normalization that makes a 5-pair overlap between two 100-doc
    * sources loud and the same 5 pairs between two 1M-doc crawls noise).
    *
    * Shape: reuses [[minHashPairs]] (verified pairs, output-sensitive);
    * two id-keyed hash joins tag each pair end with its source (pair-
    * sized, never corpus²); per-source doc counts ride as ONE broadcast
    * row per source. mean_jaccard sums the 4-dp pair values as DECIMAL
    * before the divide (the Relational.scala discipline — double
    * summation order must not leak into the hash); pair_rate is a single
    * IEEE divide, engine-identical. n_docs counts distinct (pair, end)
    * ids via an exploded distinct — near-dup-sized, not corpus-sized.
    */
  def nearDupSourceMatrix(
      docs: DataFrame, idCol: String, textCol: String, srcCol: String,
      threshold: Double = 0.7): DataFrame = {
    // '(null)' coalesce (the q92 discipline): least/greatest NULL
    // semantics differ across engines, so a null source must never
    // reach the pair-ordering expressions
    val src = docs.select(col(idCol).cast("long").as("id"),
      coalesce(col(srcCol), lit("(null)")).as("src"))
    val counts = src.groupBy(col("src")).agg(count(lit(1)).as("n"))
    // the tagged pair table feeds TWO aggregations (docs-touched and the
    // pair rollup) — checkpoint it or the whole shingle→band→verify
    // pipeline executes twice (the TfidfSim four-consumer discipline);
    // the table is near-dup-sized, so pinning it is cheap
    val pairs = minHashPairs(docs, idCol, textCol, threshold = threshold)
      .join(src.select(col("id").as("id_a"), col("src").as("sa")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("src").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .localCheckpoint()
    val docsTouched = pairs
      .select(col("src_a"), col("src_b"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(countDistinct(col("id")).as("n_docs"))
    pairs.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jaccard").cast("decimal(20,4)")).as("jsum"))
      .join(docsTouched, Seq("src_a", "src_b"))
      .join(broadcast(counts.select(col("src").as("src_a"), col("n").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(counts.select(col("src").as("src_b"), col("n").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_pairs"), col("n_docs"),
        round(col("jsum").cast("double") / col("n_pairs"), 4).as("mean_jaccard"),
        round(col("n_pairs").cast("double") /
          when(col("src_a") === col("src_b"),
            (col("n_a") * (col("n_a") - 1) / 2).cast("double"))
            .otherwise((col("n_a") * col("n_b")).cast("double")), 8)
          .as("pair_rate"))
  }
}
