package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, Relational}
import org.apache.spark.sql.functions._

/** Null / degenerate-input behavior: a 100 TB corpus WILL contain nulls,
  * empties, and single-token rows; no operator may crash on them.
  */
class RobustnessSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val messy = Seq(
    (1L, Some("normal document with several tokens here")),
    (2L, None),
    (3L, Some("")),
    (4L, Some("x")),
    (5L, Some("normal document with several tokens here")))
    .toDF("doc_id", "text")

  test("dedup pipelines tolerate null/empty/short texts") {
    // exact: null text -> null digest group; still one row out per class
    val exact = Dedup.exact(messy, "doc_id", "text").collect()
    assert(exact.length == 4) // {1,5} collapse; null, "", "x" distinct classes
    assert(Dedup.minHashPairs(messy, "doc_id", "text").count() == 1) // only (1,5)
    assert(Dedup.simHashPairs(messy, "doc_id", "text")
      .filter($"id_a" === 1 && $"id_b" === 5).count() == 1)
    assert(Dedup.ngramJaccardPairs(messy, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet == Set((1L, 5L, 1.0)))
  }

  test("text functions return null for null input, values otherwise") {
    val out = messy.select(
      $"doc_id",
      TextFunctions.tokenCount($"text").as("tc"),
      TextFunctions.fingerprint($"text").as("fp"),
      TextFunctions.overallSentiment($"text").as("s"))
      .orderBy("doc_id").collect()
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(0).getLong(1) == 6L)
  }

  test("sentiment summary counts null-text docs under 'na' never crashes") {
    val df = messy.withColumn("source", lit("s1"))
    val row = Relational.sentimentSummary(df).collect()(0)
    // null sentiment rows fall outside the pinned pivot values; the three
    // counted columns must still sum to the non-null docs
    assert(row.getAs[Long]("na_count") >= 2)
  }

  test("round-3 additions tolerate null/empty/degenerate inputs") {
    // native vote: null and empty text vote "na" exactly as the HOF
    // reference chain does, never a crash or a lost doc
    val votes = messy.select($"doc_id",
      TextFunctions.overallSentiment($"text").as("kernel"),
      TextFunctions.overallSentimentReference($"text", graft.functions.Lexicon.Toy).as("chain"))
      .as[(Long, String, String)].collect()
    assert(votes.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
    assert(votes.forall(v => v._2 == v._3))
    assert(votes.filter(v => v._1 == 2L || v._1 == 3L).forall(_._2 == "na"))

    // prefix-filtered jaccard: same messy tolerance as the full index
    assert(Dedup.ngramJaccardPairsPrefix(messy, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet == Set((1L, 5L, 1.0)))

    // components over pairs with self-loops and duplicates: ignored cleanly
    val weird = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(weird, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L))

    // LSH embedding near-dup on an empty table: empty, no crash
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    assert(Dedup.embeddingNearDupLshPairs(noVecs, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("round-4 additions tolerate null/empty/degenerate inputs") {
    // repetition: null text drops from the explode (no row, like the SQL
    // twin's unnest(NULL)); "" tokenizes to one empty token; "x" has no
    // bigrams -> fraction 0
    val rep = graft.operators.Repetition.signals(messy, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(!rep.contains(2L))
    assert(rep(3L) == ((3L, 1L, 0.0, 1.0, 0.0)))
    assert(rep(4L) == ((4L, 1L, 0.0, 1.0, 0.0)))

    // PII scrub: null in -> null out, counts null (not 0 - unknown, not none)
    val pii = messy.select($"doc_id",
      TextFunctions.scrubPii($"text").as("s"), TextFunctions.emailCount($"text").as("n"))
      .as[(Long, Option[String], Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(pii(2L)._2.isEmpty && pii(2L)._3.isEmpty)
    assert(pii(3L)._2.contains("") && pii(3L)._3.contains(0L))

    // tfidf on a null-text doc: doc vanishes (no terms), others unaffected
    val tf = Relational.tfidfTopK(messy, k = 2)
    assert(tf.filter($"doc_id" === 2L).count() == 0 && tf.count() > 0)

    // heavy hitters on an empty corpus: empty result, no crash
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.HeavyHitters.topTokensGate(noDocs, "text").count() == 0)

    // set ops on empty orders: all three branches empty
    val noOrders = Seq.empty[(Long, java.sql.Timestamp)].toDF("o_custkey", "o_orderdate")
    assert(Relational.setOps(noOrders).count() == 0)

    // centroids on empty embeddings: empty
    val noVecs2 = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(graft.operators.Embeddings.classCentroids(noVecs2).count() == 0)
  }

  test("second-sitting additions tolerate null/empty/degenerate inputs") {
    import graft.operators.{Drift, Merge, Outliers, Profile, Skew}

    // KS drift: one-group corpus -> ks 0; empty corpus -> empty result
    val oneGroup = Seq((1L, "a", 5L), (2L, "a", 7L)).toDF("doc_id", "source", "n_chars")
    assert(Drift.ksDrift(oneGroup).as[(String, Long, Double)].collect().toSeq ==
      Seq(("a", 2L, 0.0)))
    val noDocs = Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_chars")
    assert(Drift.ksDrift(noDocs).count() == 0)

    // upsert of an empty base against updates = just the updates
    val emptyBase = Seq.empty[(Long, String, Long)].toDF("k", "attr", "ver")
    val ups = Seq((1L, "a", 1L)).toDF("k", "attr", "ver")
    assert(Merge.upsert(emptyBase, ups, Seq("k"), "ver")
      .as[(Long, String, Long)].collect().toSeq == Seq((1L, "a", 1L)))

    // scdIntervals on empty input: empty, no crash
    val noEv = Seq.empty[(Long, Long, Long, String)]
      .toDF("user_id", "us", "event_id", "event_type")
    assert(Merge.scdIntervals(noEv, "user_id", "us", "event_id", "event_type")
      .count() == 0)

    // winsorize: all-equal group (p05 == p95) degenerates to the constant
    val flat = Seq(("a", 7L), ("a", 7L), ("a", 7L)).toDF("g", "v")
    assert(Outliers.winsorize(flat, "g", "v").select("v_w")
      .as[Double].collect().toSeq == Seq(7.0, 7.0, 7.0))

    // keyProfile on empty input: empty, no crash; nulls count as a key
    assert(Skew.keyProfile(Seq.empty[Long].toDF("k"), "k").count() == 0)

    // profile with an all-null column: n_nulls = rows, extremes null-safe
    val nulls = Seq((Option.empty[Long], "x"), (Option.empty[Long], "y"))
      .toDF("n", "s")
    val prof = Profile.profile(nulls).as[(String, String, Option[Double])]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(prof(("n", "n_nulls")).contains(2.0))
    assert(prof(("n", "n_distinct")).contains(0.0))
    assert(prof(("n", "min")).isEmpty && prof(("n", "mean")).isEmpty)

    // entropy of empty corpus: empty out
    assert(Relational.entropySignals(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0)

    // incremental dedup with an EMPTY base index: everything is new
    assert(Dedup.incrementalExact(
      Seq((1L, "t")).toDF("doc_id", "text"), "doc_id", "text",
      Dedup.digests(Seq.empty[(Long, String)].toDF("doc_id", "text"), "text"))
      .count() == 1)
  }

  test("round-5 additions tolerate null/empty/degenerate inputs") {
    import graft.functions.{Lexicon, SentimentModel}
    import graft.operators.{Multimodal, TfidfSim}

    // tfidf cosine pairs over the messy corpus: null-text doc vanishes
    // from pairing, the duplicate pair still scores 1.0, nothing crashes
    val tp = TfidfSim.cosinePairs(messy, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(tp == Set((1L, 5L, 1.0)))
    // and on an empty corpus: empty result
    assert(TfidfSim.cosinePairs(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text").count() == 0)

    // incremental near-dup: empty delta against a real index -> no
    // survivors, index unchanged; messy delta against an empty index ->
    // null/short docs survive (no shingle evidence), dup pair collapses
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val idx = Dedup.nearDupIndex(messy, "doc_id", "text")
    val incEmpty = Dedup.incrementalNearDup(emptyDocs, "doc_id", "text", idx)
    assert(incEmpty.survivors.count() == 0)
    assert(incEmpty.index.shingles.count() == idx.shingles.count())
    val incMessy = Dedup.incrementalNearDup(
      messy, "doc_id", "text", Dedup.nearDupIndex(emptyDocs, "doc_id", "text"))
    assert(incMessy.survivors.as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))

    // model scoring: null text scores as bias-only na, no lost doc
    val ms = SentimentModel.scored(
      messy, "doc_id", "text", SentimentModel.fromLexicon(Lexicon.Toy))
      .select("doc_id", "sentiment").as[(Long, String)].collect().toMap
    assert(ms.keySet == Set(1L, 2L, 3L, 4L, 5L) && ms(2L) == "na")

    // media wrap/decode: null text drops, empty text still yields a real
    // minimal container that decodes
    val mm = Multimodal.metaFromDocuments(spark, messy)
      .as[(Long, String, Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(!mm.contains(2L))
    assert(mm(3L)._4 == 16 && mm(3L)._5 == 1) // n=0 -> 16x1 raster
  }

  test("round-7 additions tolerate null/empty/degenerate inputs") {
    import graft.operators.{Chunking, Multimodal, Sampling, SpanDedup}

    // span dedup: null text -> null token array -> no grams, zero coverage;
    // "" splits to one empty token (sub-window doc); dup pair fully covered
    // only if >= one gram long
    val span = SpanDedup.spanStats(messy, minLen = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(span.keySet == Set(1L, 3L, 4L, 5L)) // null text contributes no size row? see below
    assert(span(1L)._3 == 6L && span(5L)._3 == 6L) // exact dup pair: all 6 tokens covered
    assert(span(3L)._3 == 0L && span(4L)._3 == 0L)

    // audio wrap/decode: null drops, empty text is a 0-sample container
    // that still decodes
    val am = Multimodal.audioMetaFromDocuments(spark, messy)
      .as[(Long, String, Long, Int, Int, Int, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(!am.contains(2L))
    assert(am(3L)._7 == 0L && am(3L)._8 == 0L)

    // chunking: null drops; "" and "x" are single sub-window chunks
    val ch = Chunking.chunks(messy, window = 4, stride = 3)
      .as[(Long, Long, Long, Long, String)].collect().groupBy(_._1)
    assert(!ch.contains(2L))
    assert(ch(3L).length == 1 && ch(4L).length == 1)

    // mixture resample on a single stratum degenerates to stratifiedN-like
    // behavior; empty input yields empty output, not a crash
    val one = Sampling.mixtureResample(
      messy.withColumn("source", lit("s")), "source", "doc_id", 3L)
    assert(one.count() == 3)
    assert(Sampling.mixtureResample(
      Seq.empty[(Long, String)].toDF("doc_id", "source"),
      "source", "doc_id", 3L).count() == 0)

    // projection: empty corpus -> empty; rows project regardless of label
    assert(graft.operators.Embeddings.randomProject(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")).count() == 0)

    // BPE: empty merges segment to characters; empty corpus trains to
    // empty merges without crashing
    assert(graft.functions.Bpe.segmentWord("abc", Map.empty) == Vector("a", "b", "c"))
    assert(graft.functions.Bpe.trainFromCorpus(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", 5).isEmpty)
  }

  test("r8 cluster-derived ops degrade to nothing/identity without near-dup pairs") {
    // 3 mutually-unrelated docs: no pairs, no clusters
    val solo = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red orange yellow green blue indigo"))
      .toDF("doc_id", "text")
    // canonical picks: no clustered docs -> zero decision rows
    assert(Dedup.canonicalPicks(solo, "doc_id", "text").count() == 0)
    // leakage-safe split: every doc keyed by its own id == the plain split
    val safe = Dedup.leakageSafeSplits(solo, "doc_id", "text")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val plain = graft.operators.Sampling.assignSplits(solo.select("doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    assert(safe.map(_._1) == Seq(1L, 2L, 3L))
    safe.foreach { case (id, key, split) =>
      assert(key == id && split == plain(id), s"($id, $key, $split)")
    }
  }

  test("r9 additions tolerate null/empty/degenerate inputs") {
    // line dedup: null text dropped, empty/blank-only docs survive with
    // zero content lines, no boilerplate on a no-repeat corpus
    val out = graft.operators.Lines.lineDedup(messy, "doc_id", "text")
      .as[(Long, Long, Long, Double, Boolean, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(!out.contains(2L)) // null text: no row (filtered like q78)
    assert(out(3L)._2 == 0L && out(3L)._5) // empty doc: 0 content lines, kept
    assert(out(4L)._3 == 0L) // single token: nothing removed
    // docs 1 and 5 are IDENTICAL single-line docs -> that line is cross-doc
    // boilerplate: removed from both, both escalate to keep = false
    assert(out(1L)._3 == 1L && !out(1L)._5 && out(1L)._6 == "")
    assert(out(5L)._3 == 1L && !out(5L)._5)

    // v2 pipeline on a corpus with no survivors at all: empty stages, no crash
    val gone = Seq((1L, "zz qq", "s1")).toDF("doc_id", "text", "source")
    val audit = pipelines.CorpusPipeline.auditCounts(
      gone, pipelines.CorpusPipeline.Config(minTokens = 4),
      pipelines.CorpusPipeline.Recipe.V2)
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(audit.length == 11 && audit.last._3 == 0L)
  }

  test("classifier and interleave tolerate null/empty/one-class/empty-corpus inputs") {
    import graft.operators.{QualityClassifier, Sampling}
    // null text filtered; empty text gets the bias + empty-gram features;
    // single-token and duplicate docs train without incident
    val feats = QualityClassifier.featurize(
      messy, length(coalesce($"text", lit(""))) > 10, lit(true))
    assert(feats.count() == 4) // null-text doc 2 dropped
    val w = QualityClassifier.train(feats, iters = 2)
    assert(QualityClassifier.scoreWith(feats, w).count() == 4)
    // one-class training slice: every update pushes the same way, the
    // pocket still returns a finite model, scoring crashes nothing
    val oneClass = QualityClassifier.featurize(messy, lit(true), lit(true))
    val w1 = QualityClassifier.train(oneClass, iters = 2)
    assert(QualityClassifier.scoreWith(oneClass, w1).count() == 4)
    // empty corpus: zero-weight model, empty scoring, no crash
    val none = messy.filter(lit(false))
    val fEmpty = QualityClassifier.featurize(none, lit(true), lit(true))
    assert(QualityClassifier.train(fEmpty, iters = 2).forall(_ == 0L))
    assert(QualityClassifier.scoreWith(fEmpty, new Array[Long](1025)).count() == 0)
    assert(QualityClassifier.gate(messy, new Array[Long](1025)).count() == 4)

    // interleave: empty corpus -> empty frame with the ordinal column;
    // single stratum at full weight reduces to q80's order
    val empty = Sampling.mixtureInterleave(
      none.withColumnRenamed("text", "source"), "source", "doc_id",
      Seq(("a", 10000)))
    assert(empty.columns.contains("ordinal") && empty.count() == 0)
    val one = Seq((3L, "a"), (1L, "a"), (2L, "a")).toDF("doc_id", "source")
    val inter = Sampling.mixtureInterleave(one, "source", "doc_id", Seq(("a", 10000)))
      .select($"doc_id", $"ordinal").as[(Long, Long)].collect().toMap
    val q80 = Sampling.shuffleOrder(one, "doc_id")
      .select($"doc_id", $"ordinal").as[(Long, Long)].collect().toMap
    assert(inter == q80)
  }

  test("nfcClean: null-through, NFC composition, control strip, keep-list") {
    import graft.plans.StringFunctions.nfcClean
    val rows = Seq(
      (1L, Some("plain ascii")),
      (2L, None),
      (3L, Some("café")),              // decomposed accent -> composed
      (4L, Some("abc")),         // BEL (C0) + C1 stripped
      (5L, Some("keep\tthese\nlines\rok")),  // \t \n \r survive
      (6L, Some("nbsp stays")))         // not a control: untouched
      .toDF("doc_id", "text")
    val out = rows.select($"doc_id", nfcClean($"text").as("n"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("plain ascii"))
    assert(out(2L).isEmpty)
    assert(out(3L).contains("café"))
    assert(out(4L).contains("abc"))
    assert(out(5L).contains("keep\tthese\nlines\rok"))
    assert(out(6L).contains("nbsp stays"))
  }
}
