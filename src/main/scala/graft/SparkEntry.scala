package graft

import graft.operators.{Dedup, IvfKnn, Knn, Multimodal, Relational}
import graft.functions.{Lexicon, SentimentModel, TextFunctions}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * with a DuckDB oracle twin in [[OracleSql]] for every SQL-expressible one.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** The even-id reference bigram LM q67/q68/q70 all score against,
    * trained ONCE per (session, sf dir) — the persisted-model shape a
    * real pipeline uses (train once, every consumer reads the artifact)
    * instead of three bit-identical re-trains. Oracles are unchanged:
    * each DuckDB twin still recomputes the full model from the slice.
    */
  private def evenIdLm(s: SparkSession, dir: String): operators.Perplexity.BigramLm =
    operators.Perplexity.trainOnce(
      s"even-id-lm:$dir",
      Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text")

  /** q107b's per-JVM index scratch root (see its registration). */
  private lazy val ivfPqScratch: String =
    java.nio.file.Files.createTempDirectory("graft_ivfpq").toString

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_filter_project" -> ((s, dir) => Relational.filterProject(Tables.documents(s, dir))),
    "q02_sentiment" -> ((s, dir) => Relational.sentiment(Tables.documents(s, dir))),
    "q03_sentiment_daily" -> ((s, dir) => Relational.sentimentSummary(Tables.documents(s, dir))),
    "q04_pricing_summary" -> ((s, dir) => Relational.pricingSummary(Tables.lineitem(s, dir))),
    "q05_join_star" -> ((s, dir) =>
      Relational.starRevenue(
        Tables.lineitem(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir))),
    "q06_date_parts" -> ((s, dir) => Relational.datePartsDaily(Tables.orders(s, dir))),
    "q07_quality_checks" -> ((s, dir) => Relational.qualityChecks(Tables.orders(s, dir))),
    "q08_daily_join" -> ((s, dir) => Relational.dailyJoin(Tables.events(s, dir))),
    "q09_window_funcs" -> ((s, dir) => Relational.windowFuncs(Tables.events(s, dir))),
    "q10_topk_per_group" -> ((s, dir) => Relational.topKPerGroup(Tables.orders(s, dir))),
    "q11_pivot" -> ((s, dir) => Relational.pivotDaily(Tables.events(s, dir))),
    "q12_sessionize" -> ((s, dir) => Relational.sessionize(Tables.events(s, dir))),
    "q13_tumbling_window" -> ((s, dir) => Relational.tumblingWindow(Tables.events(s, dir))),
    // native session_window formulation of q12 (streaming-shareable)
    "q45_session_window" -> ((s, dir) => Relational.sessionWindowAgg(Tables.events(s, dir))),
    "q14_rollup" -> ((s, dir) =>
      Relational.rollupAcctbal(
        Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),
    "q15_semi_anti_join" -> ((s, dir) =>
      Relational.semiAntiJoin(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q16_distinct_agg" -> ((s, dir) => Relational.distinctAgg(Tables.lineitem(s, dir))),
    // self-gating: emits exact counts (oracle-recomputed) + in-bound bools
    "q17_approx_distinct" -> ((s, dir) => Relational.approxDistinctGate(Tables.lineitem(s, dir))),
    "q18_cube_grouping" -> ((s, dir) => Relational.cubeOrders(Tables.orders(s, dir))),
    "q19_set_ops" -> ((s, dir) => Relational.setOps(Tables.orders(s, dir))),

    "q20_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir), "doc_id", "text")),
    // benchmark decontamination: test docs (ids % 50 == 0) whose 5-grams
    // are covered >= 80% by some train doc's grams
    "q62_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Contamination.pairs(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "doc_id", "text", n = 5, minFrac = 0.8)
    }),

    // incremental ingest: delta (odd ids) deduped against the base's
    // (even ids) persisted 8-byte digest index — base text never re-read
    "q52_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalExact(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        Dedup.digests(docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text"))
    }),
    "q65_incremental_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the index is materialized like the persisted artifact it models
      // (real use reads it back from parquet; StreamNearDup does exactly
      // that) — without this the in-plan build re-scans the base per use
      val built = Dedup.nearDupIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
      val index = Dedup.NearDupIndex(
        built.bands.localCheckpoint(), built.shingles.localCheckpoint())
      Dedup.incrementalNearDup(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", index)
        .survivors.select(col("id").as("doc_id"))
    }),
    "q21_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashPairs(Tables.documents(s, dir), "doc_id", "text")),
    "q22_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text")),
    // the Zipf-robust feature basis: distinct 3-gram shingles spread the
    // signature where head-heavy word features crowd one Hamming ball
    // (r7 ScaleCurve: ~100x pairs per 10x docs with word features on the
    // Zipf corpus vs ~linear with shingles)
    "q22b_dedup_simhash_shingled" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text", shingleN = 3)),
    "q23_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text")),
    // lexical near-dup by sparse TF-IDF cosine, blocked by source (the
    // synthetic 31-word vocabulary makes UNblocked df^2 degenerate)
    "q63_tfidf_cosine_pairs" -> ((s, dir) =>
      operators.TfidfSim.cosinePairs(
        Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.9, blockCol = Some("source"))),

    "q24_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)),
    "q24b_embed_neardup_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupGate(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)),

    "q25_knn_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    // self-gating ANN rows: recall@5 vs an in-query exact reference must
    // clear a measured floor (near-uniform vectors are the LSH worst case;
    // floors calibrated in ProbeRecall, clustered-corpus gates in specs).
    // Multiprobe (2 flip-1-bit probes/table, query side only) measures
    // 0.80-0.90 recall@5 across scales vs 0.46-0.58 exact-bucket-only.
    "q26_knn_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      Knn.recallGate(
        Knn.lshTopK(emb, q, "vec_id", "embedding", 5),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.7)
    }),
    "q27_knn_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      Knn.recallGate(
        IvfKnn.topK(emb, q, "vec_id", "embedding", 5),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.45)
    }),

    // kNN over the INT8-quantized store (4x memory path): recall@5 vs the
    // float-exact reference must clear the floor
    "q57_knn_quantized" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (mins, maxs) = operators.Embeddings.dimRanges(emb, "embedding")
      val qCorpus = emb.select(
        col("vec_id"),
        operators.Embeddings.dequantize(
          operators.Embeddings.quantize(col("embedding"), mins, maxs),
          mins, maxs).as("embedding"))
      val q = emb.filter(col("vec_id") < 10)
      Knn.recallGate(
        Knn.bruteForceTopK(qCorpus, q, "vec_id", "embedding", 5),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.8)
    }),

    // product-quantized kNN (8 bytes/vector): ADC shortlist over PQ codes
    // + exact refine of the shortlist; recall@5 vs the float reference.
    // ProbePq sweep on the near-uniform embeddings (PQ's worst case):
    // m=8 k=32 refine=200 measures 1.0 / 1.0 / 0.92 recall@5 at
    // sf0.001/0.01/0.1 (refine=50 bottoms at 0.6) -> floor 0.7.
    "q105_knn_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      Knn.recallGate(
        operators.Pq.topK(emb, q, "vec_id", "embedding", 5,
          operators.Pq.train(emb, "vec_id", "embedding", m = 8, k = 32),
          refine = 200),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.7)
    }),

    // IVF-PQ: coarse cells prune the scan to nprobe/nlist of the corpus
    // BEFORE the ADC pass; same gate discipline as q105. ProbePq sweep
    // (near-uniform, the IVF worst case — q27's regime): nprobe 4/8/16 ->
    // recall@5 0.38-0.46 / 0.58-0.64 / 0.84-0.88; registered nprobe=8,
    // floor 0.4 (the q27 margin style; clustered corpora gate 1.0 in
    // PqSpec).
    "q107_knn_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      Knn.recallGate(
        operators.Pq.ivfTopK(emb, q, "vec_id", "embedding", 5,
          operators.Pq.train(emb, "vec_id", "embedding", m = 8, k = 32),
          nlist = 32, nprobe = 8, refine = 200),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.4)
    }),

    // q107 against the PERSISTED cell-partitioned index: write the
    // (id, cell, codes) artifact partitionBy(cell) + model sidecars, then
    // probe it — the scan carries a static `cell IN (probed)` predicate so
    // only nprobe cells' files are opened (PqSpec asserts numFiles).
    // Same gate and floor as q107; results identical by construction.
    "q107b_knn_ivfpq_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      // ONE scratch dir per JVM (private temp dir — no cross-process or
      // cross-user collisions), one subdir per sf dir, built ONCE per
      // (session, sf) via writeIndexOnce (the purchaseRankBucketedOnce
      // amortization, r11: the query's NAME is probe-an-existing-index,
      // so repeated invocations should pay the train + partitioned write
      // once — the production contract — not rebuild per probe refresh);
      // the probe then goes through readIndex so the registered query
      // exercises the rehydrate-an-existing-artifact path end to end.
      // Path derives from the sf dir (the writeIndexOnce key contract:
      // the path identifies the corpus; testdata dirs are immutable)
      val path = s"$ivfPqScratch/${math.abs(dir.hashCode)}/idx"
      operators.Pq.writeIndexOnce(emb, "vec_id", "embedding",
        operators.Pq.train(emb, "vec_id", "embedding", m = 8, k = 32), path, nlist = 32)
      val idx = operators.Pq.readIndex(s, path)
      Knn.recallGate(
        operators.Pq.ivfTopKIndexed(idx, emb, q, "vec_id", "embedding", 5,
          nprobe = 8, refine = 200),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.4)
    }),

    // INCREMENTAL maintenance of the persisted index (r10, verdict #3):
    // build on the 90% base slice, APPEND the 10% delta day under the
    // FROZEN model+centroids (untouched cells' files byte-identical,
    // PqSpec), probe the grown index — the daily-ingest reality where a
    // full rebuild would re-encode the whole corpus to add one day. Same
    // gate shape as q107/q107b.
    "q107c_knn_ivfpq_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      val q = emb.filter(col("vec_id") < 10)
      val path = s"$ivfPqScratch/${math.abs(dir.hashCode)}/inc_idx"
      // overwrite-build of the base clears the previous invocation's
      // delta files, so the append is idempotent across bench reps
      val idx = operators.Pq.writeIndex(base, "vec_id", "embedding",
        operators.Pq.train(base, "vec_id", "embedding", m = 8, k = 32),
        path, nlist = 32)
      operators.Pq.appendToIndex(idx, delta, "vec_id", "embedding")
        .write.format("noop").mode("overwrite").save()
      Knn.recallGate(
        operators.Pq.ivfTopKIndexed(idx, emb, q, "vec_id", "embedding", 5,
          nprobe = 8, refine = 200),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.4)
    }),

    // MIXED-PRODUCER growth of the persisted index (r16 verdict #1): the
    // r16 two-producer surface — stream (`mb-`) and DAG (`day-`)
    // namespace appendBatch calls interleaved on ONE artifact, exactly
    // what a live StreamAnnGrow leg beside the nightly LlmIngestDag
    // produces — driver-verified instead of ScalaTest-only. day-0 builds
    // (training the frozen model on the 70% base); the two producers
    // then alternate deltas through the SAME leased, marker-namespaced
    // protocol (every mutation under the cross-JVM build lease); the
    // probe runs against the grown artifact. Same gate shape and floor
    // as q107/q107b/q107c. The artifact is rebuilt from scratch each
    // invocation — markers persist, and the query IS the grow protocol;
    // a reused dir would replay-no-op every batch.
    "q107d_knn_ivfpq_mixed_grow" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val path = s"$ivfPqScratch/${math.abs(dir.hashCode)}/mixed_idx"
      operators.BuildOnce.deleteDir(path)
      def tranche(lo: Int, hi: Int) =
        emb.filter(pmod(col("vec_id"), lit(10)).between(lo, hi))
      operators.Pq.appendBatch(s, tranche(3, 9), "vec_id", "embedding",
        path, 0L, nlist = 32, m = 8, k = 32, namespace = "day")
      operators.Pq.appendBatch(s, tranche(0, 0), "vec_id", "embedding",
        path, 1L, nlist = 32, m = 8, k = 32, namespace = "mb")
      operators.Pq.appendBatch(s, tranche(1, 1), "vec_id", "embedding",
        path, 1L, nlist = 32, m = 8, k = 32, namespace = "day")
      operators.Pq.appendBatch(s, tranche(2, 2), "vec_id", "embedding",
        path, 2L, nlist = 32, m = 8, k = 32, namespace = "mb")
      val idx = operators.Pq.readIndex(s, path)
      val gate = Knn.recallGate(
        operators.Pq.ivfTopKIndexed(idx, emb, q, "vec_id", "embedding", 5,
          nprobe = 8, refine = 200),
        Knn.bruteForceTopK(emb, q, "vec_id", "embedding", 5), 5, floor = 0.4)
      // count-exact protocol witness (r17 verdict #1): the four tranches
      // partition pmod(vec_id,10) over 0..9, so the grown index must hold
      // exactly one (id, cell, codes) row per non-null embedding — the
      // oracle recomputes that count from the base table, and a LOST
      // batch (−10%) or a DOUBLED one (+10%) flips this driver row
      // hash-exactly, not just plausibly-under-the-recall-floor
      // (q82c's detection power, now on the ANN twin too)
      gate.crossJoin(
        s.read.parquet(path).agg(count(lit(1)).as("n_indexed")))
    }),

    // kNN scored ENTIRELY in the int8 domain (native integer-kernel
    // cosine over symmetric codes — no dequantize): recall@5 vs float
    "q60_knn_int8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val am = operators.Embeddings.absMax(emb, "embedding")
      val q8 = emb.select(
        col("vec_id"),
        operators.Embeddings.quantizeSym(col("embedding"), am).as("qv"))
      val queries8 = q8.filter(col("vec_id") < 10)
      Knn.recallGate(
        Knn.bruteForceTopK(q8, queries8, "vec_id", "qv", 5,
          score = plans.VectorFunctions.cosineSimilarityInt8),
        Knn.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5), 5, floor = 0.8)
    }),

    "q28_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id").as("click_event_id"))
      operators.AsofJoin.joinPriorEqual(purchases, clicks, "user_id", "us", "click_event_id")
        .select(col("event_id"), col("user_id"), col("us"),
          col("asof_click_event_id").as("click_event_id"))
    }),

    "q29_range_join" -> ((s, dir) => {
      // overlapping value bands derived from the region dim: [k*25, k*25+40)
      val points = Tables.events(s, dir)
        .select(col("event_id"), col("value"))
      val bands = Tables.region(s, dir).select(
        col("r_regionkey"),
        (col("r_regionkey") * lit(25.0)).as("lo"),
        (col("r_regionkey") * lit(25.0) + lit(40.0)).as("hi"))
      operators.RangeJoin.binJoin(points, bands, "value", "lo", "hi", binWidth = 25.0)
        .select(col("event_id"), col("r_regionkey"), col("value"))
    }),

    "q67_perplexity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Perplexity.score(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        evenIdLm(s, dir))
    }),
    // banded on the REGISTERED approx_percentile sketch cuts (the 100 TB
    // path — O(accuracy) state per source; exact `percentile`'s buffer
    // grows with per-source distinct ppl values). Still oracle-exact at
    // verification scales: for n <= accuracy the sketch is lossless and
    // returns the element at rank ceil(p*n), which the DuckDB twin
    // selects directly (see Perplexity.bands scaladoc).
    "q68_perplexity_bands" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Perplexity.bands(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", "source",
        evenIdLm(s, dir), approxCuts = true)
    }),
    "q66_model_sentiment" -> ((s, dir) =>
      SentimentModel.scored(
        Tables.documents(s, dir), "doc_id", "text",
        SentimentModel.fromLexicon(Lexicon.Toy))),
    "q30_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))),
    "q31_text_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_obs"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.meanTokenLen(col("text")).as("mean_token_len"))),
    "q32_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("ws_tokens"),
        TextFunctions.regexTokenCount(col("text")).as("re_tokens"))),
    "q33_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))),

    // pairs -> droppable clusters: components of the minhash near-dup graph
    "q34_neardup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.connectedComponents(
        Dedup.minHashPairs(docs, "doc_id", "text"), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
    }),

    "q35_stratified_sample" -> ((s, dir) =>
      operators.Sampling.stratifiedN(
        Tables.documents(s, dir).select("doc_id", "source", "lang"),
        "source", "doc_id", n = 5)),

    // deterministic weighted sample: longer docs proportionally likelier
    "q54_weighted_sample" -> ((s, dir) =>
      operators.Sampling.weightedN(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", n = 5)),

    // interval × interval overlap join via shared-bin equi-join
    "q53_interval_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev
        .filter(col("event_type") === "click" && pmod(col("event_id"), lit(200)) === 0)
        .select(col("event_id").as("a_id"), col("value").as("a_lo"),
          (col("value") + lit(5.0)).as("a_hi"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("b_id"), col("value").as("b_lo"),
          (col("value") + lit(3.0)).as("b_hi"))
      operators.RangeJoin.overlapJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 5.0)
        .select(col("a_id"), col("b_id"),
          round(least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo")), 4)
            .as("overlap_len"))
    }),

    "q36_ngram_topk" -> ((s, dir) => Relational.ngramTopK(Tables.documents(s, dir))),

    // Gopher-style repetition quality signals over the document corpus
    "q38_repetition_signals" -> ((s, dir) =>
      operators.Repetition.signals(Tables.documents(s, dir), "doc_id", "text")),

    // char/token Shannon entropy per doc (bits) — the band quality filters cut on
    "q61_entropy" -> ((s, dir) =>
      Relational.entropySignals(Tables.documents(s, dir).select("doc_id", "text"))),

    // LLM sequence packing: global token offsets + spanned sequences via
    // a distributed prefix sum (never a single-partition window)
    "q64_sequence_packing" -> ((s, dir) =>
      operators.Packing.tokenOffsets(
        Tables.documents(s, dir).select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 2048)),

    // C4-style PII scrub. The synthetic corpus contains no PII, so the
    // query injects deterministic email/URL spans (keyed on doc_id, same
    // expression in the oracle) — the operator under test is the regex
    // count + redact pass, which must find exactly the injected spans.
    "q39_pii_scrub" -> ((s, dir) => {
      val injected = concat(
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) > 0,
          concat(lit(" see https://ex"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit(".example.org/a_b-c"))).otherwise(lit("")))
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.emailCount(injected).as("n_emails"),
        TextFunctions.urlCount(injected).as("n_urls"),
        TextFunctions.scrubPii(injected).as("scrubbed"))
    }),

    // the whole cleaning pipeline's per-stage audit (lang -> quality ->
    // repetition -> exact dedup -> near-dup clusters -> stratified cap)
    "q47_corpus_pipeline" -> ((s, dir) =>
      pipelines.CorpusPipeline.auditCounts(Tables.documents(s, dir))),

    // the r9 decision-stage chain: NFC normalize FIRST, canonical picks
    // instead of min-id survivors, cluster-keyed leak-safe split last
    "q47b_corpus_pipeline_v2" -> ((s, dir) =>
      pipelines.CorpusPipeline.auditCounts(Tables.documents(s, dir),
        recipe = pipelines.CorpusPipeline.Recipe.V2)),

    // the FULL production chain: v2 + the trained classifier gate after
    // the rule stages, and the train split's mixture-interleave order
    // pinned as a bit_xor checksum row
    "q47c_corpus_pipeline_v3" -> ((s, dir) =>
      pipelines.CorpusPipeline.auditCounts(Tables.documents(s, dir),
        recipe = pipelines.CorpusPipeline.Recipe.V3)),

    // the CROSS-MODAL variant of the v2 chain (r10 verdict #7): the
    // near-dup edge list unions the q117/q119/q120 media fingerprint
    // pairs with the text minhash pairs, so canonical picks and the
    // leak-safe split key make ONE keep decision per doc across
    // modalities — a media-copy-with-rewritten-text drops here where
    // q47b keeps it
    "q47d_corpus_pipeline_xmodal" -> ((s, dir) =>
      pipelines.CorpusPipeline.auditCounts(Tables.documents(s, dir),
        pipelines.CorpusPipeline.Config(crossModalDedup = true),
        pipelines.CorpusPipeline.Recipe.V2)),

    // bloom-filter semi-join reduction (runtime-filter pattern), gated:
    // exact semi-join count + no-false-negatives + bounded-fp booleans
    "q46_bloom_prefilter" -> ((s, dir) => {
      val urgentKeys = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      operators.Bloom.semiJoinGate(
        Tables.customer(s, dir), "c_custkey", urgentKeys, "o_custkey")
    }),

    // heavy hitters: exact top-k spine + SpaceSaving sketch gate bools
    "q44_heavy_hitters" -> ((s, dir) =>
      operators.HeavyHitters.topTokensGate(Tables.documents(s, dir), "text")),

    // exact per-source KS drift vs the rest of the corpus
    "q49_ks_drift" -> ((s, dir) => operators.Drift.ksDrift(Tables.documents(s, dir))),

    // latest-wins CDC upsert: synthetic v1 updates replace their base rows
    "q50_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = o.withColumn("ver", lit(0L))
      val updates = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn("ver", lit(1L))
      operators.Merge.upsert(base, updates, Seq("o_orderkey"), "ver")
    }),

    // SCD2: per-user event_type change log collapsed to validity intervals
    "q51_scd_intervals" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      operators.Merge.scdIntervals(ev, "user_id", "us", "event_id", "event_type")
        .select(col("user_id"), col("event_type"),
          col("valid_from").as("valid_from_us"), col("valid_to").as("valid_to_us"))
    }),

    // count-min point-frequency sketch: exact spine + lower/err bound bools
    "q48_countmin" -> ((s, dir) =>
      operators.CountMin.topTokensGate(Tables.documents(s, dir), "text")),

    // pre-aggregated HLL sketch table rolled up per group: exact spine +
    // estimate-within-5% + rollup==direct-within-2% bools
    "q55_sketch_rollup" -> ((s, dir) =>
      operators.SketchRollup.rollupGate(
        Tables.events(s, dir), "event_type",
        date_trunc("day", col("ts")), "user_id")),

    // one-pass column profile of the orders table (ANALYZE TABLE surface)
    "q56_profile" -> ((s, dir) =>
      operators.Profile.profile(
        Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderstatus", "o_orderpriority", "o_orderdate"))),

    // top-k TF-IDF terms per document (bounded aggregator, no vocab sort)
    "q42_tfidf_topk" -> ((s, dir) => Relational.tfidfTopK(Tables.documents(s, dir))),

    // per-class embedding centroids, decimal-accumulated (order-stable)
    "q43_class_centroids" -> ((s, dir) =>
      operators.Embeddings.classCentroids(Tables.embeddings(s, dir))),

    // salted join: result must be identical to the plain equi-join
    "q41_skew_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      val revenue = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)"))
      operators.Skew.saltedJoin(li, sup, "l_suppkey", "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(
          round(sum(revenue).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // self-gating: exact percentiles (oracle-recomputed) + sketch-in-window bools
    "q37_quality_percentiles" -> ((s, dir) =>
      Relational.qualityPercentilesGate(Tables.documents(s, dir))),

    // hot-key diagnostic: top-10 keys by share of the fact table
    "q58_skew_profile" -> ((s, dir) =>
      operators.Skew.keyProfile(
        Tables.lineitem(s, dir).select("l_suppkey"), "l_suppkey", topN = 10)),

    // per-source winsorized length stats (clamp at in-group p05/p95)
    "q59_winsorize" -> ((s, dir) => {
      val w = operators.Outliers.winsorize(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars")
      w.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_chars_w") =!= col("n_chars").cast("double"), 1)
          .otherwise(0)).cast("long").as("n_clamped"),
        round(sum(col("n_chars_w").cast("decimal(28,6)")).cast("double")
          / count(lit(1)), 4).as("mean_w"))
    }),

    "q40_multimodal_meta" -> ((s, dir) =>
      Multimodal.metaFromDocuments(s, Tables.documents(s, dir))),

    // perceptual image near-dup (r10, verdict #2): 56-bit all-integer
    // dHash over the DECODED pixel raster (real PPM/BMP walk), paired
    // through the q22 chunk-pair Hamming blocking — the multimodal dedup
    // stage; the deterministic container geometry gives the fingerprint a
    // closed-form DuckDB twin (the q40 discipline)
    "q117_image_phash" -> ((s, dir) =>
      Multimodal.imagePhashPairs(Tables.documents(s, dir))),

    // the hot-bucket-GUARDED q117 (r11): bucketCap 16 forces the chunk
    // grid to engage on the driver corpus (its short-doc fingerprints
    // form classes well over 16), so the lossless-by-construction claim
    // of the triangle-wise chunk join is oracle-checked cross-engine —
    // the same DuckDB twin as q117, because capped output == uncapped
    // output is exactly the guard's contract
    "q117b_image_phash_capped" -> ((s, dir) =>
      Multimodal.imagePhashPairs(Tables.documents(s, dir), bucketCap = 16)),

    // perceptual AUDIO near-dup (r10): 56-bit envelope gradient hash over
    // the decoded PCM (real RIFF walk, rectified FULL-RESOLUTION
    // interleaved samples — deliberately no downmix: the interleaved
    // stream is what makes the fingerprint channel-layout invariant), paired
    // through the same lossless chunk-pair Hamming blocking as q117 —
    // with q120 this completes the near-dup pillar across all three
    // media modalities
    "q119_audio_fingerprint" -> ((s, dir) =>
      Multimodal.audioFingerprintPairs(Tables.documents(s, dir))),

    // perceptual VIDEO near-dup (r10): stride-sampled frame-luma gradient
    // hash over the decoded ISO-BMFF frame table, same pairing machinery
    "q120_video_fingerprint" -> ((s, dir) =>
      Multimodal.videoFingerprintPairs(Tables.documents(s, dir))),

    // cross-modal dedup clusters (r10): the four verified pair tables
    // (text minhash, image dHash, audio envelope, video frame-luma)
    // union into one signal-tagged edge list, components over the union,
    // per-cluster signal audit column — one dedup decision per document
    // across every modality
    "q121_crossmodal_clusters" -> ((s, dir) =>
      Multimodal.crossModalClusters(Tables.documents(s, dir))),

    // gate for q59's approx-cut scale path: sketch cuts inside the exact
    // quantile window, per source (q37's gated-sketch discipline)
    "q69_winsorize_gate" -> ((s, dir) =>
      operators.Outliers.cutGate(
        Tables.documents(s, dir).select("source", "n_chars"),
        "source", "n_chars")),

    // gate for q68's approx-cut scale path: same discipline on the
    // scored-ppl distribution per source
    "q70_ppl_cut_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Perplexity.bandCutGate(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", "source",
        evenIdLm(s, dir))
    }),

    "q71_span_dedup" -> ((s, dir) =>
      operators.SpanDedup.spanStats(Tables.documents(s, dir))),

    "q72_audio_meta" -> ((s, dir) =>
      Multimodal.audioMetaFromDocuments(s, Tables.documents(s, dir))),

    "q81_video_meta" -> ((s, dir) =>
      Multimodal.videoMetaFromDocuments(s, Tables.documents(s, dir))),

    "q82_bm25_topk" -> ((s, dir) =>
      operators.Bm25.retrieve(Tables.documents(s, dir))),

    // BM25 against the PERSISTED inverted index (r11): the q107b posture
    // for text retrieval — build the postings artifact once per
    // (session, sf) via writeIndexOnce, rehydrate through readIndex, and
    // probe with a statically bucket-pruned scan. Oracle is q82's twin
    // VERBATIM: indexed results == full-scan results IS the contract
    // (the same expression tree scores both paths)
    "q82b_bm25_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = s"$ivfPqScratch/${math.abs(dir.hashCode)}/bm25_idx"
      operators.Bm25.writeIndexOnce(docs, path)
      operators.Bm25.retrieveIndexed(operators.Bm25.readIndex(s, path), s)
    }),

    // MIXED-PRODUCER growth of the posting index (r16 verdict #1,
    // q107d's lexical twin): stream (`mb-`) and DAG (`day-`) namespace
    // appendBatch calls interleaved on ONE artifact — the StreamBm25Grow-
    // beside-the-DAG deployment — then probed. BM25 append maintenance
    // is EXACT (postings are a stateless per-doc transform; df is
    // probe-time-derived), so the grown index probes bit-identical to a
    // one-shot build of the union corpus and the oracle is q82's formula
    // twin VERBATIM — a hash-exact correctness row for the two-producer
    // protocol, not just a gate. Fresh artifact per invocation (markers
    // persist; the query IS the grow protocol).
    "q82c_bm25_mixed_grow" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = s"$ivfPqScratch/${math.abs(dir.hashCode)}/bm25_mixed_idx"
      operators.BuildOnce.deleteDir(path)
      def tranche(i: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === i)
      operators.Bm25.appendBatch(s, tranche(0), path, 0L, namespace = "day")
      operators.Bm25.appendBatch(s, tranche(1), path, 1L, namespace = "mb")
      operators.Bm25.appendBatch(s, tranche(2), path, 1L, namespace = "day")
      operators.Bm25.appendBatch(s, tranche(3), path, 2L, namespace = "mb")
      operators.Bm25.retrieveIndexed(operators.Bm25.readIndex(s, path), s)
    }),

    "q83_length_batches" -> ((s, dir) =>
      operators.Packing.lengthBatches(Tables.documents(s, dir))),

    "q84_nb_langid" -> ((s, dir) =>
      operators.NaiveBayes.langClassifier(Tables.documents(s, dir))),

    "q85_hybrid_rrf" -> ((s, dir) =>
      operators.HybridRetrieval.rrfFuse(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),

    // hybrid RRF with the lexical leg probing the PERSISTED q82b posting
    // index (r11 verdict #4): same artifact as q82b (writeIndexOnce —
    // one build serves both), statically pb-pruned probe, ranks equal to
    // the in-query legs by construction, so the oracle is q85's twin
    // VERBATIM (the q82b/q117b discipline: indexed == in-query IS the
    // contract)
    "q85b_hybrid_rrf_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = s"$ivfPqScratch/${math.abs(dir.hashCode)}/bm25_idx"
      operators.Bm25.writeIndexOnce(docs, path)
      operators.HybridRetrieval.rrfFuseIndexed(
        docs, Tables.embeddings(s, dir), operators.Bm25.readIndex(s, path))
    }),

    // hybrid RRF with BOTH legs on persisted indexes (r12 verdict #6):
    // lexical probes the q82b posting artifact (shared with q85b — one
    // build serves all three), dense probes an IVF-PQ cell index over
    // the ids that have both text and a vector. The ANN leg is
    // approximate, so the registration is GATED (the q24b/q99b
    // pattern): fused top-10 overlap vs the exact-dense fusion under
    // the SAME lexical rank list must clear the ProbeHybridAnn-
    // calibrated floor. Both probes statically pruned (plan-asserted
    // in HybridRetrievalSpec).
    "q85c_hybrid_rrf_ann" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val bmPath = s"$ivfPqScratch/${math.abs(dir.hashCode)}/bm25_idx"
      operators.Bm25.writeIndexOnce(docs, bmPath)
      // dense-leg corpus = the hybrid store's intersection (the q85
      // contract): ids with BOTH text and a vector
      val corpus = emb.join(
        docs.filter(col("text").isNotNull)
          .select(col("doc_id").cast("long").as("vec_id")),
        Seq("vec_id"), "left_semi")
      val pqPath = s"$ivfPqScratch/${math.abs(dir.hashCode)}/hyb_dense_idx"
      operators.Pq.writeIndexOnce(corpus, "vec_id", "embedding",
        operators.Pq.train(corpus, "vec_id", "embedding", m = 8, k = 32),
        pqPath, nlist = 32)
      operators.HybridRetrieval.rrfFuseAnnGate(
        docs, emb,
        operators.Bm25.readIndex(s, bmPath),
        operators.Pq.readIndex(s, pqPath))
    }),

    "q86_kmeans" -> ((s, dir) =>
      operators.KMeans.cluster(Tables.embeddings(s, dir), k = 8, iters = 3)),

    "q87_semdedup" -> ((s, dir) =>
      operators.SemDedup.semDedup(
        Tables.embeddings(s, dir), k = 8, iters = 3, tau = 0.4)),

    // PageRank over the bidirected customer<->supplier purchase graph:
    // all-LONG damped fixpoint (engine-exact by construction), 5 iters.
    // Registered through the BUCKETED path (r8 verdict #4): edges persist
    // src-bucketed so the per-iteration join shuffles only the rank
    // vector, never the edge list — ranks bit-identical to the
    // checkpointed variant (GraphSpec), so the oracle is shared.
    // bucketed edge table built ONCE per (session, sf dir) — the evenIdLm
    // amortization; each invocation reuses the persisted artifact and only
    // the N-row rank vector shuffles per iteration. KEY CONTRACT
    // (bucketedEdgeTableOnce): the key must identify the edge CONTENT —
    // here the immutable testdata sf dir is the content's identity; a
    // mutable corpus would need a version/batch stamp folded in, or the
    // cache serves the first build's ranks forever
    "q103_pagerank" -> ((s, dir) =>
      operators.Graph.purchaseRankBucketedOnce(s, s"purchase:$dir",
        Tables.orders(s, dir), Tables.lineitem(s, dir))),

    // the KEEP decision after near-dup clustering: one canonical member
    // per q34 cluster by (token count desc, id), churn-sized output
    "q104_canonical_picks" -> ((s, dir) =>
      operators.Dedup.canonicalPicks(Tables.documents(s, dir), "doc_id", "text")),

    // q79's split keyed by the near-dup cluster: no near-duplicate of a
    // test doc can land in train (leakage-safe by construction)
    "q106_leakage_safe_split" -> ((s, dir) =>
      operators.Dedup.leakageSafeSplits(Tables.documents(s, dir), "doc_id", "text")),

    "q102_containment" -> ((s, dir) =>
      operators.Dedup.containmentPairs(
        Tables.documents(s, dir), "doc_id", "text")),

    "q101_lang_mixture" -> ((s, dir) =>
      operators.NaiveBayes.chunkMixture(Tables.documents(s, dir))),

    "q100_token_budget" -> ((s, dir) =>
      operators.Budget.epochCappedAllocation(Tables.documents(s, dir))),

    "q99_bitext_margin" -> ((s, dir) =>
      operators.Bitext.mineOnLabels(Tables.embeddings(s, dir))),

    // the registered LSH-candidate scale path for q99, recall-gated
    // against the exact cartesian twin (the q24 -> q24b pattern)
    "q99b_bitext_margin_lsh" -> ((s, dir) =>
      operators.Bitext.marginMineGate(Tables.embeddings(s, dir))),

    "q98_retention" -> ((s, dir) =>
      operators.Funnel.retentionCohorts(Tables.events(s, dir))),

    "q97_session_funnel" -> ((s, dir) =>
      operators.Funnel.sessionFunnel(Tables.events(s, dir))),

    "q96_json_props" -> ((s, dir) =>
      operators.JsonOps.propsSummary(Tables.events(s, dir))),

    "q95_padding_waste" -> ((s, dir) =>
      operators.Packing.paddingWaste(Tables.documents(s, dir))),

    "q94_hard_negatives" -> ((s, dir) =>
      operators.HybridRetrieval.hardNegatives(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),

    "q93_cluster_profile" -> ((s, dir) =>
      operators.KMeans.clusterProfile(
        Tables.embeddings(s, dir), k = 8, iters = 3)),

    "q92_bpe_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Bpe.fertility(s, docs, "doc_id", "text", "source",
        graft.functions.Bpe.trainFromCorpus(docs, "text", k = 50))
    }),

    "q91_gopher_rules" -> ((s, dir) =>
      operators.QualityRules.gopherRules(Tables.documents(s, dir))),

    "q90_dsir_weights" -> ((s, dir) =>
      operators.Dsir.importanceWeights(
        Tables.documents(s, dir), targetLang = "en", buckets = 64)),

    "q89_collocations" -> ((s, dir) =>
      operators.Collocations.pmiTopK(
        Tables.documents(s, dir), k = 20, minCount = 5)),

    // Synthetic-but-deterministic day-over-day churn carved out of the one
    // documents table: yesterday misses ids ≡3 (mod 11) (today's adds),
    // today misses ids ≡5 (mod 13) (deletes) and rewrites ids ≡1 (mod 7).
    "q88_snapshot_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val yesterday = d.filter(col("doc_id") % 11 =!= 3)
      val today = d.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text",
          when(col("doc_id") % 7 === 1,
            concat_ws(" ", col("text"), lit("v2"))).otherwise(col("text")))
      operators.SnapshotDiff.diff(yesterday, today, "doc_id", Seq("text"))
    }),

    "q78_span_removal" -> ((s, dir) =>
      operators.SpanDedup.removeSpans(Tables.documents(s, dir))),

    // variable-length MAXIMAL duplicated spans (Lee et al. ExactSubstr
    // contract): adjacent repeated-8-gram coverage coalesced into maximal
    // per-doc runs (gaps-and-islands), kept at >= 16 tokens
    "q111_maximal_spans" -> ((s, dir) =>
      operators.SpanDedup.maximalSpans(Tables.documents(s, dir))),

    // q78's removal driven off the maximal spans instead of raw
    // positions: only drop-runs >= 16 tokens are trimmed — scattered
    // single-gram repeats stay readable
    "q112_span_removal_long" -> ((s, dir) =>
      operators.SpanDedup.removeSpans(Tables.documents(s, dir), minSpanTokens = 16)),

    // RefinedWeb line-wise dedup over a deterministically LINED corpus
    // (8-token lines — the test corpus is single-line by construction):
    // cross-doc repeated lines removed everywhere, doc dropped when more
    // than half its lines go
    "q113_line_dedup" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      // the lining transform runs in the scan stage — spread the one-file
      // test scan first (opt guide §2.5; no-op on multi-file inputs)
      val lined = operators.Spread.ifNarrow(
        Tables.documents(s, dir).select("doc_id", "text")).select(
        col("doc_id"),
        array_join(
          transform(
            sequence(lit(0), ceil(size(toks) / lit(8.0)).cast("int") - 1),
            i => array_join(slice(toks, i * 8 + 1, lit(8)), " ")),
          "\n").as("text"))
      operators.Lines.lineDedup(lined, "doc_id", "text",
        minDocs = 2, maxRemovedFrac = 0.5)
    }),

    // WITHIN-doc line dedup (r11): self-repetition removed keeping the
    // first occurrence — zero-shuffle fold per row. 2-token lines here:
    // the degenerate 31-word vocab makes intra-doc repeats common at
    // width 2 (174/500 docs at sf0.001), the regime the operator exists
    // for, while q113's 8-token lining would see none
    "q122_intradoc_dedup" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      // same scan-stage spread as q113 (opt guide §2.5)
      val lined = operators.Spread.ifNarrow(
        Tables.documents(s, dir).select("doc_id", "text")).select(
        col("doc_id"),
        array_join(
          transform(
            sequence(lit(0), ceil(size(toks) / lit(2.0)).cast("int") - 1),
            i => array_join(slice(toks, i * 2 + 1, lit(2)), " ")),
          "\n").as("text"))
      operators.Lines.intraDocDedup(lined, "doc_id", "text",
        maxDupFrac = 0.5)
    }),

    "q79_train_split" -> ((s, dir) =>
      operators.Sampling.assignSplits(
        Tables.documents(s, dir).select("doc_id", "source"), "doc_id")),

    "q80_shuffle_order" -> ((s, dir) =>
      operators.Sampling.shuffleOrder(
        Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "ordinal")),

    // the multi-epoch order as a CHECKED query (r10): epoch 1's full
    // permutation under the epoch-specific LCG step (16807·h+3 mod M),
    // oracle-exact with the same arithmetic — epoch 0 IS q80; cross-epoch
    // decorrelation and the permutation property are spec-asserted in
    // ChunkingSpec
    "q80b_shuffle_order_epoch1" -> ((s, dir) =>
      operators.Sampling.shuffleOrder(
        Tables.documents(s, dir).select("doc_id", "source"), "doc_id", epoch = 1)
        .select("doc_id", "source", "ordinal")),

    // mixture-interleave training order: stride scheduling places each
    // source's docs at its weight's rate — the head sources (src0-3) at
    // 1000 bp each, the tail sixteen at 375 bp
    "q115_mixture_interleave" -> ((s, dir) =>
      operators.Sampling.mixtureInterleave(
        Tables.documents(s, dir).select("doc_id", "source"), "source", "doc_id",
        (0 until 20).map(i => ("src" + i, if (i < 4) 1000 else 375)))
        .select("doc_id", "source", "ordinal")),

    // per-source dedup-rate observability: the before/after monitoring
    // table of a dedup pass (|sources| rows)
    "q110_dedup_stats" -> ((s, dir) =>
      operators.Dedup.dedupStats(Tables.documents(s, dir), "doc_id", "text", "source")),

    // cross-source near-dup ATTRIBUTION (r10): who duplicates whom —
    // one row per unordered source pair with pair count, docs touched,
    // mean jaccard, and the pair-universe-normalized rate
    "q118_dedup_source_matrix" -> ((s, dir) =>
      operators.Dedup.nearDupSourceMatrix(
        Tables.documents(s, dir), "doc_id", "text", "source")),

    // model-based quality filter (FineWeb-Edu/DCLM shape): an all-long
    // batch perceptron over hashed uni+bigram buckets, weak labels from
    // two rule signals, trained on a BOUNDED slice (even ids below the
    // id ceiling — the fixed annotation budget; r10 guard), scoring EVERY doc
    "q114_quality_classifier" -> ((s, dir) =>
      operators.QualityClassifier.qualityScores(Tables.documents(s, dir))),

    // banding calibration gate: per exact-jaccard decile on a bounded
    // subsample, the analytic catch rate of the (32, 4) banding and a
    // gate that the measured signature pipeline tracks it
    "q116_banding_calibration" -> ((s, dir) =>
      operators.Dedup.bandingCalibration(Tables.documents(s, dir), "doc_id", "text")),

    // NFC + control-strip normalization: the canonical pre-hash cleanup
    // (decomposed accents / stray controls make identical text hash
    // differently); scan-shaped, zero shuffles
    "q109_text_normalize" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        plans.StringFunctions.nfcClean(col("text")).as("text_norm"),
        (plans.StringFunctions.nfcClean(col("text")) =!= col("text")).as("changed"))),

    // length-curriculum ordinal: short (easy) docs first, deterministic
    // hash shuffle within each length band
    "q108_curriculum_order" -> ((s, dir) =>
      operators.Sampling.curriculumOrder(
        Tables.documents(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens")
        .select("doc_id", "n_tokens", "ordinal")),

    "q73_doc_chunks" -> ((s, dir) =>
      operators.Chunking.chunks(Tables.documents(s, dir))),

    "q74_mixture_resample" -> ((s, dir) =>
      operators.Sampling.mixtureResample(
        Tables.documents(s, dir).select("doc_id", "source", "lang"),
        "source", "doc_id", targetTotal = 1000L)),

    "q75_random_projection" -> ((s, dir) =>
      operators.Embeddings.randomProject(Tables.embeddings(s, dir))),

    // q75's fidelity gate: pairwise cosine preservation (what JL
    // guarantees) over a bounded id subset; top-k ranking is gated on
    // clustered data in EmbeddingsSpec instead — near-uniform vectors'
    // neighbor gap sits below any 16-dim distortion bound.
    "q77_projection_fidelity" -> ((s, dir) =>
      operators.Embeddings.projectionFidelityGate(Tables.embeddings(s, dir))),

    // real-tokenizer budget: BPE trained on the corpus's own word table
    // (50 merges), applied via the distinct-word dictionary join. Full
    // value oracle since r10: the greedy merge loop has no FIXPOINT SQL
    // form, but the FIXED k=50 rounds unroll into per-round CTEs (the
    // q114/q103 precedent) that re-derive the merge list in DuckDB and
    // replay it; exact semantics also pinned in BpeSpec.
    "q76_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Bpe.tokenCounts(s, docs, "doc_id", "text",
        graft.functions.Bpe.trainFromCorpus(docs, "text", k = 50))
    }),

    // the APPLY side of BPE under a FIXED literal merge list (r10): the
    // same dictionary-join machinery as q76, but with the model pinned
    // as a literal — the oracle replays the ordered merges
    // symbol-for-symbol with no training dependence, isolating apply
    // semantics from the trainer q76's twin must also reproduce.
    "q76b_bpe_apply" -> ((s, dir) =>
      graft.functions.Bpe.tokenCounts(s, Tables.documents(s, dir),
        "doc_id", "text", graft.functions.Bpe.DemoMerges)),
  )

  /** DuckDB oracle SQL per query — every registered query has an entry
    * (sketch/ANN queries via gated twins; BPE via the r10 unrolled
    * trainer); the rows-only set is empty.
    */
  def oracleSql: Map[String, String] = OracleSql.sql
}
