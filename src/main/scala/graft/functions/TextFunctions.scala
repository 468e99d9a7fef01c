package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text analytics, built from codegen'd native functions
  * (no UDFs in the hot path).
  *
  * Re-expresses the reference's sentiment step (Spark NLP pretrained
  * pipeline + a Python `Counter` UDF, `tweets.py:53-59`) as a pure
  * lexicon-scoring computation that whole-stage codegen can inline, plus
  * the text-quality / language-ID / token-counting operators a
  * training-data pipeline needs.
  *
  * Every function here has an exact SQL twin used to generate the DuckDB
  * oracle (see [[graft.OracleSql]]) — lexicons are defined once below and
  * interpolated into both engines.
  */
object TextFunctions {

  /** Sentiment lexicons. On real data these would be e.g. the VADER or
    * AFINN word lists; for the closed 31-word synthetic vocabulary we pin a
    * deterministic split so the oracle is exact.
    */
  val positiveWords: Seq[String] = Seq("fast", "small", "value", "merge", "join")
  val negativeWords: Seq[String] = Seq("slow", "big", "scan", "dup", "filter")

  /** English stopwords present in the synthetic vocabulary. */
  val stopWords: Seq[String] = Seq("the", "a")

  /** Whitespace tokens. Single source of tokenization for all text ops. */
  def tokens(text: Column): Column = split(text, " ")

  /** Count of tokens that belong to `lexicon` (duplicates counted — the
    * reference's majority vote is over occurrences, not distinct words).
    *
    * Backed by the native [[graft.plans.LexiconCount]] kernel: one pass
    * over the text's bytes and one hashed lookup per token, so the cost
    * does not grow with the lexicon. The equivalent HOF chain scans the
    * literal word array for every token (O(|lexicon|) per token) and is
    * kept in [[lexiconCountReference]] as the semantic spec.
    */
  def lexiconCount(text: Column, lexicon: Seq[String]): Column =
    graft.plans.LexiconFunctions.count(text, lexicon)

  /** HOF reference implementation of [[lexiconCount]] (tested equivalent). */
  def lexiconCountReference(text: Column, lexicon: Seq[String]): Column = {
    val lex = array(lexicon.map(lit): _*)
    size(filter(tokens(text), t => array_contains(lex, t)))
  }

  def positiveCount(text: Column): Column = lexiconCount(text, positiveWords)
  def negativeCount(text: Column): Column = lexiconCount(text, negativeWords)

  /** Majority vote over token sentiments: the Spark-first twin of the
    * reference's `Counter(col).most_common(1)[0][0]` UDF (`tweets.py:56`).
    * Tri-state like the reference: positive / negative / na (null text
    * votes na).
    *
    * The no-arg form scores against the pinned [[Lexicon.Toy]] (what the
    * oracle is generated from); pass a loaded AFINN/VADER-format
    * [[Lexicon]] for real text. Backed by the native
    * [[graft.plans.LexiconVote]] kernel — one pass over the text, one
    * hashed lookup per token, both polarities at once — so a full-size
    * lexicon costs what the toy one does. [[overallSentimentReference]]
    * is the semantic spec.
    */
  def overallSentiment(text: Column): Column = overallSentiment(text, Lexicon.Toy)

  def overallSentiment(text: Column, lex: Lexicon): Column =
    graft.plans.LexiconFunctions.vote(text, lex.positive, lex.negative)

  /** HOF reference implementation of [[overallSentiment]]: two
    * split-filter-count chains, one per polarity (tested equivalent).
    */
  def overallSentimentReference(text: Column, lex: Lexicon): Column = {
    val p = lexiconCountReference(text, lex.positive)
    val n = lexiconCountReference(text, lex.negative)
    when(p > n, "positive").when(n > p, "negative").otherwise("na")
  }

  /** Distinct word n-gram shingles, space-joined, for MinHash / Jaccard.
    * Documents with fewer than `n` tokens yield an empty shingle set.
    *
    * Backed by the single-pass native [[graft.plans.ShingleSet]] kernel
    * (the equivalent HOF chain — split → transform/slice/concat_ws →
    * array_distinct — profiles ~10× slower and is kept in
    * [[shinglesReference]] as the semantic spec).
    */
  def shingles(text: Column, n: Int): Column =
    graft.plans.HashFunctions.shingleSet(text, n)

  /** HOF reference implementation of [[shingles]] (tested equivalent). */
  def shinglesReference(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact Jaccard similarity of two distinct-shingle arrays. J(∅,∅) is
    * defined as 0 (two shingle-less docs carry no similarity evidence —
    * and it keeps the division total).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Number of word tokens (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: alphabetic runs, digit runs, and residual
    * non-space symbols each count as one token — a cheap deterministic
    * stand-in for a real BPE vocabulary pass.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("long")

  /** Ratio of stopword tokens to all tokens, rounded for hash stability. */
  def stopwordRatio(text: Column): Column =
    round(lexiconCount(text, stopWords).cast("double") / tokenCount(text), 6)

  /** Ratio of punctuation (non-alphanumeric, non-space) chars to length. */
  def punctRatio(text: Column): Column =
    round(
      (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double")
        / length(text),
      6)

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column =
    round(
      aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double")
        / tokenCount(text),
      6)

  /** Heuristic language ID: stopword-profile scoring. With only English
    * stopword markers in the synthetic vocabulary this is a two-way
    * en/und decision; the operator shape (argmax over per-language profile
    * scores) is what a real lang-ID (e.g. CLD-style n-gram profiles) slots
    * into.
    */
  def langId(text: Column): Column =
    when(lexiconCount(text, stopWords) > 0, "en").otherwise("und")

  /** PII scrubbing patterns. Kept to syntax valid in BOTH Java regex and
    * RE2 (no backrefs, no lookaround) so the DuckDB oracle runs the exact
    * same pattern — and so the operator stays inside whole-stage codegen
    * (`regexp_replace` is a native codegen'd expression; a UDF would not
    * be).
    */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe: String = "https?://[A-Za-z0-9._/-]+"

  /** Count of email-shaped / URL-shaped spans in `text`. */
  def emailCount(text: Column): Column =
    regexp_count(text, lit(EmailRe)).cast("long")
  def urlCount(text: Column): Column =
    regexp_count(text, lit(UrlRe)).cast("long")

  /** Replace every email / URL span with a redaction token — the C4-style
    * cleanup pass a training-data pipeline runs before tokenization. URL
    * first: neither pattern can match inside the other's replacement
    * token, and emails never contain `://`, so the order is total.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, UrlRe, "<URL>"),
      EmailRe, "<EMAIL>")

  /** Polynomial rolling-hash fingerprint over characters:
    * h = (h * 31 + codepoint) mod 1e9+7. Codegen-friendly (aggregate over
    * a char array) and exactly reproducible in ANSI SQL.
    */
  val FpMod: Long = 1000000007L
  val FpBase: Long = 31L
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * FpBase + c) % FpMod)
}
