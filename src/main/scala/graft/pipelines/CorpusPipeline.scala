package graft.pipelines

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Perplexity, QualityClassifier, Repetition, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data cleaning pipeline, composed from the
  * library's own operators — what a user actually runs over a raw 100 TB
  * crawl before tokenization. It is ONE ordered stage list; a [[Recipe]]
  * names the stages it runs, always in list order, each stage reading
  * the survivors of the one before it:
  *
  * | stage       | survivors                                            | v1 | v2 | v3 |
  * |-------------|------------------------------------------------------|----|----|----|
  * | normalize   | NFC + control strip (q109), non-blank text           |    | x  | x  |
  * | lang        | langId == [[KeepLang]]                               | x  | x  | x  |
  * | quality     | token count ≥ minTokens                              | x  | x  | x  |
  * | repetition  | top_word_frac ≤ maxTopWordFrac (Gopher rule)         | x  | x  | x  |
  * | ppl         | outside the per-source perplexity tail (dropPplTail) | x  |    |    |
  * | classifier  | pred of the in-pipeline trained perceptron (q114)    |    |    | x  |
  * | exact_dedup | min-id copy per normalized-text digest               | x  | x  | x  |
  * | near_dedup  | min-id member per minhash component                  | x  |    |    |
  * | canonical   | longest member per component (q104), + `split_key`   |    | x  | x  |
  * | sample      | deterministic stratified cap per source              | x  | x  | x  |
  * | split_*     | the sample's docs hashed to train/val/test (q106)    |    | x  | x  |
  *
  * q47 and [[LlmIngestDag]]'s clean_corpus run v1, q47b v2, q47c v3 and
  * q47d v2 with `crossModalDedup`. Order is deliberate: normalization
  * precedes every digest (a decomposed-accent twin would defeat exact
  * dedup), cheap per-row filters shrink the corpus before the shuffling
  * stages, and the cap runs last so it caps CLEAN documents. The split
  * stages all read the sample's survivors and partition them by
  * `split_key` — the doc's near-dup component (or its own id), so a
  * near-duplicate of a test doc can never land in train.
  */
object CorpusPipeline {

  /** `dropPplTail` enables v1's CCNet perplexity stage: train the q67
    * bigram LM on the survivors so far (self-training is the
    * no-external-corpus variant — boilerplate/gibberish still scores
    * tail because it is unlike the corpus MAJORITY), band per source at
    * `pplTailQuantile`, drop the tail. Off by default: the q47 oracle
    * pins the 6-stage chain.
    */
  final case class Config(
      minTokens: Long = 25,
      maxTopWordFrac: Double = 0.125,
      jaccardThreshold: Double = 0.7,
      samplePerSource: Int = 15,
      dropPplTail: Boolean = false,
      pplTailQuantile: Double = 2.0 / 3,
      // v3: the classifier's training passes and the interleave weights
      clsIters: Int = 10,
      interleaveBp: Seq[(String, Int)] =
        (0 until 20).map(i => ("src" + i, if (i < 4) 1000 else 375)),
      // cross-modal dedup: the canonical stage's edge list unions the
      // three media fingerprint pair tables (q117/q119/q120) with the text
      // minhash pairs, so canonical picks AND the split key see ONE
      // component per document across every modality — a doc whose text
      // was rewritten but whose media is a near-copy clusters (and drops)
      // where text-only dedup keeps it
      crossModalDedup: Boolean = false,
      mediaMaxHamming: Int = 4)

  val KeepLang = "en"
  val ClsBuckets = 1024
  /** Hot-bucket guard for the media pair joins: lossless by construction
    * (chunking only re-keys the same candidate set), armed at the
    * production sizing — a placeholder logo re-encoded across millions
    * of pages must not become one O(class²) task.
    */
  val MediaBucketCap: Int = Multimodal.ProductionBucketCap

  /** The stages a recipe runs, and whether it also emits the train
    * split's mixture-interleave order (q115) — as the audit's
    * `interleave_train_xor` row and as `clean`'s `ordinal` column.
    */
  sealed abstract class Recipe(val stages: Set[String], val interleave: Boolean = false)
  object Recipe {
    private val Rules = Set("lang", "quality", "repetition", "exact_dedup", "sample")
    case object V1 extends Recipe(Rules ++ Set("ppl", "near_dedup"))
    case object V2 extends Recipe(
      Rules ++ Set("normalize", "canonical", "split_train", "split_val", "split_test"))
    case object V3 extends Recipe(V2.stages + "classifier", interleave = true)
  }

  /** A stage: its name, the columns the audit path materializes of its
    * survivors (none: not materialized), and the function from its
    * input's survivors to its own.
    */
  private final case class Stage(name: String, keep: Seq[String] = Nil)(
      val run: DataFrame => DataFrame)

  private val Text = Seq("doc_id", "text", "source")

  private def semi(in: DataFrame, keys: DataFrame): DataFrame =
    in.join(keys.select("doc_id"), Seq("doc_id"), "left_semi")

  private def split(df: DataFrame): DataFrame = Sampling.assignSplits(df, "split_key")

  private def stageList(cfg: Config): Seq[Stage] = Seq(
    // "has any non-whitespace char", without the two-param TRIM that
    // Spark 4 deprecation-warns on every plan
    Stage("normalize")(_.withColumn("text", graft.plans.StringFunctions.nfcClean(col("text")))
      .filter(col("text").rlike("[^ \t\n\r]"))),
    Stage("lang")(_.filter(TextFunctions.langId(col("text")) === KeepLang)),
    Stage("quality")(_.filter(TextFunctions.tokenCount(col("text")) >= cfg.minTokens)),
    Stage("repetition", Text)(in => semi(in, Repetition.signals(in, "doc_id", "text")
      .filter(col("top_word_frac") <= cfg.maxTopWordFrac))),
    // only the hi cut decides tail-or-not; a lo strictly below it keeps
    // any pplTailQuantile in (0, 1) valid
    Stage("ppl")(in => semi(in, Perplexity.bands(in, "doc_id", "text", "source",
      Perplexity.train(in, "doc_id", "text"),
      lo = cfg.pplTailQuantile / 2, hi = cfg.pplTailQuantile).filter(col("band") =!= "tail"))),
    // rule weak-labels, trained on the even-id half, every survivor scored
    Stage("classifier", Text) { in =>
      val feats = materialize(QualityClassifier.featurize(
        in, QualityClassifier.ruleWeakLabel(col("text")),
        pmod(col("doc_id").cast("long"), lit(2)) === 0, buckets = ClsBuckets))
      semi(in, QualityClassifier.scoreWith(
        feats, QualityClassifier.train(feats, ClsBuckets, cfg.clsIters)).filter(col("pred")))
    },
    Stage("exact_dedup", Text)(Dedup.exactSurvivors(_, "doc_id", "text")),
    Stage("near_dedup", Seq("doc_id", "source"))(in => Dedup.nearDupSurvivors(in, "doc_id",
      Dedup.minHashPairs(in, "doc_id", "text", threshold = cfg.jaccardThreshold))),
    Stage("canonical", Seq("doc_id", "source", "split_key"))(canonical(_, cfg)),
    Stage("sample")(Sampling.stratifiedN(_, "source", "doc_id", cfg.samplePerSource))
  ) ++ Seq("train", "val", "test").map(l =>
    Stage(s"split_$l")(in => split(in).filter(col("split") === l)))

  /** Near-dup collapse to each component's best member; every survivor
    * carries `split_key`, its component (or its own id when unclustered).
    * One clustering pass feeds both decisions.
    */
  private def canonical(in: DataFrame, cfg: Config): DataFrame = {
    val text = Dedup.minHashPairs(in, "doc_id", "text", threshold = cfg.jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    // q121 in the chain: one decode pass for the three media hashes, then
    // one tagged band/count/join pass over all three modalities
    val pairs = if (!cfg.crossModalDedup) text else text.unionByName(
      Multimodal.hammingPairs56Tagged(materialize(Multimodal.mediaFingerprints(in)),
        Seq("ph_image" -> "image", "ph_audio" -> "audio", "ph_video" -> "video"),
        cfg.mediaMaxHamming, MediaBucketCap).select(col("id_a"), col("id_b")))
    val picks = Dedup.canonicalPicksFrom(
      in, "doc_id", "text", Dedup.connectedComponents(pairs, "id_a", "id_b"))
      .select(col("doc_id").as("__cid"), col("component"), col("keep"))
    in.join(picks, col("doc_id").cast("long") === col("__cid"), "left")
      .filter(coalesce(col("keep"), lit(true)))
      .withColumn("split_key", coalesce(col("component"), col("doc_id").cast("long")))
      .drop("__cid", "component", "keep")
  }

  /** Every materialization of the pipeline. The audit path keeps only
    * the columns later stages and the counts read (shuffle and store
    * fewer bytes). Deliberately not spread: the heavy kernels that
    * consume these frames carry their own Spread guards.
    */
  private def materialize(df: DataFrame, keep: Seq[String] = Nil): DataFrame =
    (if (keep.isEmpty) df else df.select(keep.map(col): _*)).localCheckpoint()

  /** The recipe's stage frames, led by ("input", docs). `docs` must carry
    * (doc_id, text, source). The audit path materializes the stages that
    * declare `keep` columns, so the counts don't re-run the heavy stages
    * per reader; the clean path materializes only what a stage iterates
    * over (classifier features, media fingerprints) and keeps full rows.
    */
  private def run(
      docs: DataFrame, cfg: Config, recipe: Recipe, audit: Boolean): Seq[(String, DataFrame)] =
    stageList(cfg)
      .filter(s => recipe.stages(s.name) && (s.name != "ppl" || cfg.dropPplTail))
      .foldLeft(Vector("input" -> docs)) { (done, s) =>
        val in = done.filterNot(_._1.startsWith("split_")).last._2
        val out = s.run(in)
        done :+ (s.name -> (if (audit && s.keep.nonEmpty) materialize(out, s.keep) else out))
      }

  private def interleave(frames: Seq[(String, DataFrame)], cfg: Config): DataFrame =
    Sampling.mixtureInterleave(frames.toMap.apply("split_train")
      .select(col("doc_id"), col("source")), "source", "doc_id", cfg.interleaveBp)

  /** The cleaned corpus: full rows of every surviving document; with
    * splits, each with its `split_key` and `split`; with the interleave,
    * the training `ordinal` of each train doc (null for val/test) — the
    * frame a training job consumes.
    */
  def clean(docs: DataFrame, cfg: Config = Config(), recipe: Recipe = Recipe.V1): DataFrame = {
    val frames = run(docs, cfg, recipe, audit = false)
    val sample = frames.toMap.apply("sample")
    if (!recipe.stages("split_train")) sample
    else if (!recipe.interleave) split(sample)
    else split(sample).join(
      interleave(frames, cfg).select(col("doc_id").cast("long").as("__oid"), col("ordinal")),
      col("doc_id").cast("long") === col("__oid"), "left").drop("__oid")
  }

  /** Per-stage survivor counts (stage_idx, stage, n_docs) — the audit a
    * pipeline operator watches for stage-level drift; the split rows sum
    * to the sample's. ONE aggregate over the union of the stage
    * survivors, each tagged with its index, so a stage with no survivors
    * still reports 0. With the interleave, one more column of it is the
    * `interleave_train_xor` row: bit_xor(idHash(doc)·(ordinal+1)) over
    * the train split (0 when empty) — order-insensitive to compute, yet
    * any single mis-ordered doc flips it.
    */
  def auditCounts(docs: DataFrame, cfg: Config = Config(), recipe: Recipe = Recipe.V1): DataFrame = {
    val frames = run(docs, cfg, recipe, audit = true)
    val ord = if (recipe.interleave) Some(interleave(frames, cfg)) else None
    val tagged = frames.zipWithIndex.map { case ((_, df), i) =>
      df.select(lit(i).as("__i"), lit(null).cast("long").as("__x"))
    } ++ ord.map(_.select(lit(frames.size).as("__i"),
      (Sampling.idHash(col("doc_id")) * (col("ordinal") + 1)).as("__x")))
    val cells = frames.indices.map(i => count(when(col("__i") === i, 1))) ++
      ord.map(_ => coalesce(bit_xor(col("__x")), lit(0L)))
    val names = frames.map(_._1) ++ ord.map(_ => "interleave_train_xor")
    tagged.reduce(_ unionAll _)
      .agg(cells.head.as("n0"), cells.zipWithIndex.tail.map { case (c, i) => c.as(s"n$i") }: _*)
      .select(inline(array(names.zipWithIndex.map { case (n, i) =>
        struct(lit(i).as("stage_idx"), lit(n).as("stage"), col(s"n$i").as("n_docs"))
      }: _*)))
  }
}
