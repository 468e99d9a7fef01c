package graft.plans

import org.apache.spark.sql.{GraftColumnShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `SparkSessionExtensions` installer: registers graft's native expressions
  * in the SQL function registry, so `spark.sql(...)` users get the same
  * codegen'd kernels as the DataFrame API — no UDF detour.
  *
  * Wire-up (either):
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)           // programmatic
  *   // or spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * SQL surface:
  * {{{
  *   SELECT cosine_similarity(a.embedding, b.embedding) FROM ...
  *   SELECT minhash_signature(shingles), simhash64(tokens), lsh_buckets(v, 8, 8)
  *   SELECT shingle_set(text, 3), ngram_buckets(text, 1, 2, 1024), nfc_clean(text)
  *   SELECT lexicon_vote(text, array('fast'), array('slow')),
  *          lexicon_count(text, array('the', 'a'))
  * }}}
  *
  * Integer and word-list arguments are plan constants: they must be int
  * literals / foldable `array<string>` literals, and anything else fails
  * at analysis.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // point-in-interval joins -> bin-bucketed equi-joins (off until
    // spark.graft.rangeJoin.binWidth is set; see RangeJoinRule)
    ext.injectOptimizerRule(_ => RangeJoinRule)
  }
}

object GraftExtensions {
  type FunctionEntry =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Install the functions on an already-running session (extensions bind
    * only at session construction; this covers shells/notebooks).
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (ident, inf, builder) =>
      GraftColumnShim.registerFunction(spark, ident, inf, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(RangeJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RangeJoinRule
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val functions: Seq[FunctionEntry] = Seq(
    (
      FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity",
        "cosine_similarity(array<float>, array<float>) - codegen'd cosine similarity"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_similarity takes 2 arguments")
        CosineSimilarity(args(0), args(1))
      }),
    (
      FunctionIdentifier("cosine_similarity_int8"),
      info("cosine_similarity_int8",
        "cosine_similarity_int8(array<tinyint>, array<tinyint>) - integer-kernel cosine over symmetrically-quantized vectors"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_similarity_int8 takes 2 arguments")
        Int8CosineSimilarity(args(0), args(1))
      }),
    (
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(array<string>) - 128-hash MinHash signature"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "minhash_signature takes 1 argument")
        MinHashSignature(args(0))
      }),
    (
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 60-bit SimHash fingerprint"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64 takes 1 argument")
        SimHash64(args(0))
      }),
    (
      FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets",
        "lsh_buckets(array<float>, bits, tables) - multi-table sign-hash LSH bucket ids"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "lsh_buckets takes (vector, bits, tables)")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
        }
        LshBuckets(args(0), intLit(args(1), "bits"), intLit(args(2), "tables"))
      }),
    (
      FunctionIdentifier("sign_project"),
      info("sign_project",
        "sign_project(array<float>, out_dim) - JL ±1 sign projection on the exact 6-dp grid"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sign_project takes (vector, out_dim)")
        val outDim = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"out_dim must be an int literal, got $other")
        }
        SignProject(args(0), outDim)
      }),
    (
      FunctionIdentifier("shingle_set"),
      info("shingle_set",
        "shingle_set(text, n) - single-pass distinct word n-gram shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "shingle_set takes (text, n)")
        ShingleSet(args(0), intLitArg(args(1), "n"))
      }),
    (
      FunctionIdentifier("ngram_buckets"),
      info("ngram_buckets",
        "ngram_buckets(text, nmin, nmax, buckets) - hashed bag-of-ngrams bucket ids (non-distinct)"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "ngram_buckets takes (text, nmin, nmax, buckets)")
        NgramBuckets(args(0), intLitArg(args(1), "nmin"),
          intLitArg(args(2), "nmax"), intLitArg(args(3), "buckets"))
      }),
    (
      FunctionIdentifier("nfc_clean"),
      info("nfc_clean",
        "nfc_clean(text) - NFC normalization + control-char strip (the pre-hash canonicalization)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc_clean takes 1 argument")
        NfcClean(args(0))
      }),
    (
      FunctionIdentifier("lexicon_vote"),
      info("lexicon_vote",
        "lexicon_vote(text, pos_words, neg_words) - one-pass lexicon majority vote: positive / negative / na"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "lexicon_vote takes (text, pos_words, neg_words)")
        LexiconVote(args(0), wordsLitArg(args(1), "pos_words"), wordsLitArg(args(2), "neg_words"))
      }),
    (
      FunctionIdentifier("lexicon_count"),
      info("lexicon_count",
        "lexicon_count(text, words) - one-pass count of the text's space-split tokens found in words"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "lexicon_count takes (text, words)")
        new LexiconCount(args(0), wordsLitArg(args(1), "words"))
      }))

  private def intLitArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** The words of a foldable, non-null `array<string>` argument (null
    * elements match no token, as in `array_contains`, so they are dropped).
    */
  private def wordsLitArg(e: Expression, what: String): Seq[String] = {
    val words = e.dataType match {
      case ArrayType(_: StringType, _) if e.foldable => e.eval()
      case _ => null
    }
    if (words == null)
      throw new IllegalArgumentException(s"$what must be an array<string> literal, got $e")
    words.asInstanceOf[ArrayData].toArray[UTF8String](StringType).toSeq
      .filter(_ != null).map(_.toString)
  }
}
