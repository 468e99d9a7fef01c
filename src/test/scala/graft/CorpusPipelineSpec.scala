package graft

import graft.pipelines.CorpusPipeline
import graft.pipelines.CorpusPipeline.Recipe.{V1, V2, V3}

class CorpusPipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("every stage drops exactly the planted offenders") {
    val docs = Seq(
      (1L, "alpha beta gamma delta the", "s1"), // clean survivor
      (2L, "beta gamma delta epsilon", "s1"), // no stopword -> lang drop
      (3L, "the a", "s1"), // too short -> quality drop
      (4L, "the x x x x x", "s1"), // top word 5/6 -> repetition drop
      (5L, "alpha beta gamma delta the", "s1"), // exact dup of 1
      (6L, "alpha beta gamma delta the zeta", "s1"), // near dup of 1 (J=0.75)
      (7L, "one two three four the", "s2"),
      (8L, "five six seven eight the", "s2"),
      (9L, "nine ten eleven twelve the", "s2")) // s2 capped 3 -> 2
      .toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(
      minTokens = 4, maxTopWordFrac = 0.5, jaccardThreshold = 0.6, samplePerSource = 2)

    val audit = CorpusPipeline.auditCounts(docs, cfg)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(audit == Seq(
      (0, "input", 9L), (1, "lang", 8L), (2, "quality", 7L),
      (3, "repetition", 6L), (4, "exact_dedup", 5L),
      (5, "near_dedup", 4L), (6, "sample", 3L)))

    val cleaned = CorpusPipeline.clean(docs, cfg)
      .select($"doc_id").as[Long].collect().toSet
    assert(cleaned.size == 3)
    assert(cleaned.contains(1L)) // the canonical copy of the 1/5/6 cluster
    assert(cleaned.intersect(Set(7L, 8L, 9L)).size == 2) // s2 capped
  }

  test("v2 chain: one planted offender per decision stage") {
    val docs = Seq(
      (1L, "alpha beta gamma delta the", "s1"), // near-dup cluster, SHORTER member
      (2L, "beta gamma delta epsilon", "s1"), // no stopword -> lang drop
      (3L, "the a", "s1"), // too short -> quality drop
      (4L, "the x x x x x", "s1"), // top word 5/6 -> repetition drop
      (5L, "alpha beta gamma delta the", "s1"), // exact dup of 1
      (6L, "alpha beta gamma delta the zeta", "s1"), // near dup of 1 (J=0.75), longest
      (7L, "one two three four the", "s2"),
      (8L, "five six seven eight the", "s2"),
      (9L, "nine ten eleven twelve the", "s2"), // s2 capped 3 -> 2
      (10L, "", "s1"), // control chars only -> normalize drop
      (11L, "café alpha beta gamma the", "s1"), // decomposed e+acute ...
      (12L, "café alpha beta gamma the", "s1")) // ... NFC-equal: exact dup post-normalize
      .toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(
      minTokens = 4, maxTopWordFrac = 0.5, jaccardThreshold = 0.6, samplePerSource = 2)

    val audit = CorpusPipeline.auditCounts(docs, cfg, V2)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(audit.map(t => (t._1, t._2)) == Seq(
      0 -> "input", 1 -> "normalize", 2 -> "lang", 3 -> "quality",
      4 -> "repetition", 5 -> "exact_dedup", 6 -> "canonical", 7 -> "sample",
      8 -> "split_train", 9 -> "split_val", 10 -> "split_test"))
    val byName = audit.map(t => t._2 -> t._3).toMap
    assert(byName("input") == 12L)
    assert(byName("normalize") == 11L) // doc 10 cleans to empty
    assert(byName("lang") == 10L)
    assert(byName("quality") == 9L)
    assert(byName("repetition") == 8L)
    // 5 (verbatim dup) AND 12 (NFC twin of 11 — caught only because
    // normalization ran before the digest) both fall here
    assert(byName("exact_dedup") == 6L)
    assert(byName("canonical") == 5L) // cluster {1,6}: one survivor
    assert(byName("sample") == 4L) // s1 {6,11} + s2 capped 3 -> 2
    assert(byName("split_train") + byName("split_val") + byName("split_test") == 4L)

    val cleaned = CorpusPipeline.clean(docs, cfg, V2)
    val ids = cleaned.select($"doc_id".cast("long")).as[Long].collect().toSet
    // canonical pick keeps the LONGEST cluster member, not the min id
    assert(ids.contains(6L) && !ids.contains(1L))
    assert(ids.contains(11L) && !ids.contains(12L))
    assert(ids.intersect(Set(7L, 8L, 9L)).size == 2)
    // leak-safety: the cluster survivor keys by its COMPONENT (min id of
    // {1,6} = 1), so any member of the cluster lands on the same side
    val row6 = cleaned.filter($"doc_id" === 6L)
      .select($"split_key", $"split").as[(Long, String)].collect().head
    assert(row6._1 == 1L)
    val expected = operators.Sampling.assignSplits(
      Seq(1L).toDF("k"), "k").select($"split").as[String].collect().head
    assert(row6._2 == expected)
    // an unclustered doc keys by its own id — q79's split bit-for-bit
    val row11 = cleaned.filter($"doc_id" === 11L)
      .select($"split_key").as[Long].collect().head
    assert(row11 == 11L)
  }

  test("cross-modal stage: the media-only dup drops ONLY when the flag is on") {
    // the r10-verdict plant: scrambling every long word's characters
    // leaves ZERO shared word shingles (text dedup is blind to it) but
    // barely moves the deterministic containers' coarse luma/envelope —
    // ProbeXmodalPlant: image hamming 0, audio hamming 0. A pipeline
    // that dedups per-modality keeps doc 2; the cross-modal chain makes
    // ONE component of {1, 2} and canonical-picks a single survivor.
    val base = "alpha bravo gamma delta the zulu echo foxtrot kilo lima"
    val scrambled = base.split(' ')
      .map(w => if (w.length <= 3) w else w.sorted).mkString(" ")
    // the control doc must be media-far from base in EVERY modality —
    // uniform lowercase prose is nearly envelope-flat (audio hamming 0 to
    // unrelated text!), so it mixes single letters and a descending run
    // (ProbeXmodalPlant: img 4, aud 25, vid 26 — outside the h=2 ball)
    val control = "the zyx wvu tsr qpo nml kji hgf edc ba " +
      "z y x w v u t s r q p o n m l k j i h g f e d c b a"
    val docs = Seq(
      (1L, base, "s1"),
      (2L, scrambled, "s1"), // media-only dup of 1
      (3L, control, "s1"))
      .toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(
      minTokens = 4, maxTopWordFrac = 0.5, jaccardThreshold = 0.6,
      samplePerSource = 10, mediaMaxHamming = 2)

    // text-only v2: shingle jaccard(1,2) = 0 — all three docs survive
    assert(CorpusPipeline.clean(docs, cfg, V2)
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))

    // cross-modal: {1,2} cluster under the image+audio signals; equal
    // token counts so the canonical pick is the smaller id
    val xm = CorpusPipeline.clean(docs, cfg.copy(crossModalDedup = true), V2)
    assert(xm.select($"doc_id").as[Long].collect().toSet == Set(1L, 3L))
    // the survivor's split key is the CROSS-MODAL component label, so a
    // media near-dup of a test doc can never straddle the split either
    assert(xm.filter($"doc_id" === 1L)
      .select($"split_key").as[Long].collect().head == 1L)

    // audit shape unchanged (the flag changes the edge list, not stages)
    val audit = CorpusPipeline.auditCounts(docs, cfg.copy(crossModalDedup = true), V2)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(audit.map(t => (t._2, t._3)).toMap.apply("canonical") == 2L)
  }

  test("v3 chain: the trained gate drops the held-out junk doc; checksum pins the train order") {
    def pool(tag: String) = (1 to 24).map(j => s"$tag$j").mkString(" ")
    def good(p: String, extra: String = "") =
      ("the a of to and in is on " + p + extra).trim
    val docs = Seq(
      (1L, good(pool("pa"), " una"), "s1"), // held-out good: stopword features carry it
      (2L, good(pool("pb")), "s1"),         // train positive
      (3L, "the qz1 qz2 qz3 qz4 qz5 qz6 qz7", "s1"), // HELD junk: the classifier's planted drop
      (4L, "the qz1 qz2 qz3 qz4 qz5 qz6 qz8", "s2"), // train negative (shared junk vocab)
      (5L, "beta gamma delta epsilon", "s1"), // no stopword -> lang drop
      (6L, "the a of", "s1"),                // 3 tokens -> quality drop
      (7L, "the x x x x x", "s1"),           // top word 5/6 -> repetition drop
      (8L, good(pool("pc")), "s2"),          // train positive, near-dup SHORTER member
      (9L, good(pool("pc"), " zz yy"), "s2"), // near dup of 8 (J~0.94), longest -> canonical pick
      (10L, good(pool("pb")), "s1"),         // exact dup of 2 -> dedup drop
      (11L, "", "s1"),                 // control chars only -> normalize drop
      (12L, good(pool("pd")), "s2"))         // train positive
      .toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(
      minTokens = 4, maxTopWordFrac = 0.5, jaccardThreshold = 0.6,
      samplePerSource = 3, clsIters = 5,
      interleaveBp = Seq(("s1", 6000), ("s2", 4000)))

    val audit = CorpusPipeline.auditCounts(docs, cfg, V3)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(audit.map(t => (t._1, t._2)) == Seq(
      0 -> "input", 1 -> "normalize", 2 -> "lang", 3 -> "quality",
      4 -> "repetition", 5 -> "classifier", 6 -> "exact_dedup",
      7 -> "canonical", 8 -> "sample", 9 -> "split_train", 10 -> "split_val",
      11 -> "split_test", 12 -> "interleave_train_xor"))
    val byName = audit.map(t => t._2 -> t._3).toMap
    assert(byName("input") == 12L)
    assert(byName("normalize") == 11L)
    assert(byName("quality") == 9L)
    assert(byName("repetition") == 8L)
    // the gate: junk docs 3 (held-out!) and 4 (training negative) both
    // score negative — the learned stage generalizes past its slice
    assert(byName("classifier") == 6L)
    assert(byName("exact_dedup") == 5L) // 10 is 2's verbatim twin
    assert(byName("canonical") == 4L)   // cluster {8,9}: longest (9) kept
    assert(byName("sample") == 4L)
    assert(byName("split_train") + byName("split_val") + byName("split_test") == 4L)

    // the checksum row equals an independent recomputation over the
    // expected survivors' train slice (split keys: 9 keys by its
    // component = min(8,9) = 8; the rest by their own ids)
    val keys = Map(1L -> 1L, 2L -> 2L, 9L -> 8L, 12L -> 12L)
    val srcOf = Map(1L -> "s1", 2L -> "s1", 9L -> "s2", 12L -> "s2")
    val splitOf = operators.Sampling.assignSplits(
      keys.values.toSeq.distinct.map(Tuple1(_)).toDF("k"), "k")
      .as[(Long, String)].collect().toMap
    val trainIds = keys.collect { case (id, k) if splitOf(k) == "train" => id }.toSeq
    val expected =
      if (trainIds.isEmpty) 0L
      else operators.Sampling.mixtureInterleave(
        trainIds.map(id => (id, srcOf(id))).toDF("doc_id", "source"),
        "source", "doc_id", cfg.interleaveBp)
        .select((operators.Sampling.idHash($"doc_id") * ($"ordinal" + 1)).as("x"))
        .agg(org.apache.spark.sql.functions.expr("bit_xor(x)")).as[Long].collect().head
    assert(byName("interleave_train_xor") == expected,
      s"train slice $trainIds checksum mismatch")

    // clean under V3: the consumable frame — the expected survivors, each with
    // its split, and a DENSE interleave ordinal exactly on the train docs
    val cleaned = CorpusPipeline.clean(docs, cfg, V3)
      .select($"doc_id".cast("long"), $"split",
        $"ordinal".cast("long").as("ordinal"))
      .as[(Long, String, Option[Long])].collect()
    assert(cleaned.map(_._1).toSet == keys.keySet)
    val (tr, rest) = cleaned.partition(_._2 == "train")
    assert(tr.map(_._1).toSet == trainIds.toSet)
    assert(tr.flatMap(_._3).sorted.toSeq == (0L until tr.length.toLong))
    assert(rest.forall(_._3.isEmpty))
  }

  test("optional perplexity stage drops the planted gibberish, default chain unchanged") {
    // one source, many similar docs + one OOV-gibberish doc that passes
    // lang/quality/repetition but is unlike the corpus majority
    val base = (1L to 12L).map(i =>
      (i, s"alpha beta gamma delta the epsilon v$i", "s1"))
    val docs = (base :+ ((13L, "zz qq ww ee the rr tt yy", "s1")))
      .toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(
      minTokens = 4, maxTopWordFrac = 0.5, jaccardThreshold = 0.99,
      samplePerSource = 100, dropPplTail = true, pplTailQuantile = 0.9)

    val audit = CorpusPipeline.auditCounts(docs, cfg)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    val byName = audit.map(t => t._2 -> t._3).toMap
    assert(audit.map(_._2) == Seq("input", "lang", "quality", "repetition",
      "ppl", "exact_dedup", "near_dedup", "sample"))
    assert(byName("repetition") == 13L)
    assert(byName("ppl") == 12L) // exactly the gibberish doc dropped
    val cleaned = CorpusPipeline.clean(docs, cfg).select($"doc_id").as[Long].collect().toSet
    assert(!cleaned.contains(13L) && cleaned.contains(1L))

    // any tail quantile in (0,1) is valid — including below 1/3
    val strict = CorpusPipeline.clean(docs, cfg.copy(pplTailQuantile = 0.25))
      .select($"doc_id").as[Long].collect().toSet
    assert(!strict.contains(13L) && strict.nonEmpty)

    // default config: no ppl stage, original 6-stage names (q47's oracle shape)
    val defaultNames = CorpusPipeline.auditCounts(docs,
      CorpusPipeline.Config(minTokens = 4, maxTopWordFrac = 0.5))
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(defaultNames == Seq("input", "lang", "quality", "repetition",
      "exact_dedup", "near_dedup", "sample"))
  }

  // one clean survivor per source past every recipe's stages, the
  // classifier's included (its training positives are the same shape)
  private def urlDocs = {
    import org.apache.spark.sql.functions.{concat, lit}
    def pool(tag: String) = (1 to 24).map(j => s"$tag$j").mkString(" ")
    Seq(
      (1L, "the a of to and in is on " + pool("pa"), "s1"),
      (2L, "the a of to and in is on " + pool("pb"), "s1"),
      (3L, "the qz1 qz2 qz3 qz4 qz5 qz6 qz7", "s1"),
      (4L, "the qz1 qz2 qz3 qz4 qz5 qz6 qz8", "s2"),
      (8L, "the a of to and in is on " + pool("pc"), "s2"),
      (12L, "the a of to and in is on " + pool("pd"), "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("url", concat(lit("https://example.org/"), $"doc_id"))
  }
  private val urlCfg = CorpusPipeline.Config(
    minTokens = 4, maxTopWordFrac = 0.5, jaccardThreshold = 0.6,
    samplePerSource = 3, clsIters = 5,
    interleaveBp = Seq(("s1", 6000), ("s2", 4000)))

  test("clean keeps every input column under every recipe") {
    for (recipe <- Seq(V1, V2, V3)) {
      val out = CorpusPipeline.clean(urlDocs, urlCfg, recipe)
      assert(out.columns.contains("url"), s"$recipe: ${out.columns.toSeq}")
      val rows = out.select($"doc_id", $"url").as[(Long, String)].collect()
      assert(rows.nonEmpty, recipe)
      assert(rows.forall { case (id, u) => u == s"https://example.org/$id" }, recipe)
    }
  }

  test("the audit is one aggregate exchange over the union of the stage survivors") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => p.children.flatMap(walk)
    })
    for ((recipe, cfg) <- Seq(V1 -> urlCfg, V2 -> urlCfg, V3 -> urlCfg,
        V2 -> urlCfg.copy(crossModalDedup = true))) {
      val audit = CorpusPipeline.auditCounts(urlDocs, cfg, recipe)
      val rows = audit.collect()
      // a global count per stage gathers to one partition: one such
      // exchange in all, and the stage union sits under it
      val gathers = walk(audit.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
      }
      assert(gathers.size == 1, s"$recipe: ${gathers.size} gathers for ${rows.length} rows")
      assert(walk(gathers.head).exists(_.isInstanceOf[UnionExec]), recipe)
    }
  }
}
