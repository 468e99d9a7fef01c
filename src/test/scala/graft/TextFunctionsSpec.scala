package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("v")).collect()(0).getAs[T]("v")

  test("fingerprint matches a direct Scala reference implementation") {
    def ref(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * TextFunctions.FpBase + c.toLong) % TextFunctions.FpMod)
    for (s <- Seq("the fast join", "a", "", "spark group query row data"))
      assert(one[Long](TextFunctions.fingerprint(col("text")), s) == ref(s), s"text=$s")
  }

  test("PII scrub redacts emails and URLs and counts each span") {
    val cases = Seq(
      ("mail bob.smith+x@sub.example.co.uk end", "mail <EMAIL> end", 1L, 0L),
      ("go to https://a.example.org/p_q-r/x.html now", "go to <URL> now", 0L, 1L),
      ("u@a.io and http://b.io/z", "<EMAIL> and <URL>", 1L, 1L),
      ("no pii at all", "no pii at all", 0L, 0L),
      ("two u@a.io v@b.io", "two <EMAIL> <EMAIL>", 2L, 0L))
    for ((in, want, ne, nu) <- cases) {
      assert(one[String](TextFunctions.scrubPii(col("text")), in) == want, s"in=$in")
      assert(one[Long](TextFunctions.emailCount(col("text")), in) == ne, s"in=$in")
      assert(one[Long](TextFunctions.urlCount(col("text")), in) == nu, s"in=$in")
    }
  }

  test("sentiment majority vote is tri-state") {
    assert(one[String](TextFunctions.overallSentiment(col("text")), "fast fast slow") == "positive")
    assert(one[String](TextFunctions.overallSentiment(col("text")), "slow big fast") == "negative")
    assert(one[String](TextFunctions.overallSentiment(col("text")), "fast slow") == "na")
    assert(one[String](TextFunctions.overallSentiment(col("text")), "nothing here") == "na")
  }

  test("lexicons are pluggable: AFINN-format load, both scoring paths agree") {
    import graft.functions.Lexicon
    // loader: tab format, comments, phrases, negative valences
    val lex = Lexicon.fromResource("afinn-sample.txt")
    assert(lex.size == 6)
    assert(lex.scores("outstanding") == 5 && lex.scores("can't stand") == -3)
    assert(lex.positive == Seq("breathtaking", "fast", "outstanding"))
    assert(lex.negative == Seq("abandon", "can't stand", "slow"))
    intercept[IllegalArgumentException](Lexicon.fromLines(Iterator("no tabs here")))

    // a loaded lexicon changes scoring: "breathtaking" is unknown to Toy
    assert(one[String](
      TextFunctions.overallSentiment(col("text"), lex), "breathtaking stuff") == "positive")
    assert(one[String](
      TextFunctions.overallSentiment(col("text")), "breathtaking stuff") == "na")

    // the native kernel == the HOF reference chain, per text, both lexicons
    for (l <- Seq(Lexicon.Toy, lex)) kernelMatchesSpec(edgeTexts, l)
    // multi-word phrases never match a single token
    assert(one[String](TextFunctions.overallSentiment(col("text"), lex), "can't stand") == "na")
  }

  /** Checks the native vote and count against their HOF reference chains
    * over `texts`: once through a whole-stage-codegen stage (an RDD scan,
    * so the projection is not folded away on the driver) and once through
    * the expressions' interpreted `eval`. Row layout after the merge:
    * text, vote, count, reference vote, reference count.
    */
  private def kernelMatchesSpec(texts: Seq[String], lex: graft.functions.Lexicon): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.{LexiconCount, LexiconVote}

    val words = lex.positive ++ lex.negative
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 2),
      StructType(Seq(StructField("text", StringType))))
    val q = df.select($"text",
      TextFunctions.overallSentiment($"text", lex),
      TextFunctions.lexiconCount($"text", words))
    val stages = q.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.toString
    }
    assert(stages.exists(s => s.contains("lexicon_vote") && s.contains("lexicon_count")),
      s"the kernels must run inside whole-stage codegen:\n${q.queryExecution.executedPlan}")
    // the HOF chains disable whole-stage codegen, so they run in their own
    // projection; an RDD scan with no shuffle keeps the row order
    val spec = df.select(
      TextFunctions.overallSentimentReference($"text", lex),
      TextFunctions.lexiconCountReference($"text", words))
    val rows = q.collect().zip(spec.collect()).map { case (k, r) => Row.fromSeq(k.toSeq ++ r.toSeq) }
    assert(rows.map(_.getString(0)).toSeq == texts)

    val text = BoundReference(0, StringType, nullable = true)
    val vote = LexiconVote(text, lex.positive, lex.negative)
    val count = new LexiconCount(text, words)
    for (r <- rows) {
      val t = r.getString(0)
      assert(r.get(1) == r.get(3), s"vote, codegen, text=[$t]")
      assert(r.get(2) == r.get(4), s"count, codegen, text=[$t]")
      val in = InternalRow(UTF8String.fromString(t))
      assert(vote.eval(in).toString == r.getString(3), s"vote, eval, text=[$t]")
      assert(count.eval(in) == r.get(4), s"count, eval, text=[$t]")
    }
  }

  /** Separator, encoding, case, prefix and phrase edge cases of `split(text, " ")`. */
  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "   ", " fast", "fast ", "fast  slow", "  fast  fast slow  ",
    "fast\tfast slow", "fast\nfast slow", "slow\r\nslow fast",
    "caf\u00e9 fast", "fast \ud83d\ude00 slow", "\ud83d\ude00 \ud83d\ude00", "caf\u00e9",
    "Fast FAST fast slow", "fastest slowly fast", "fas slo",
    "can't stand", "can't stand this slow", "outstanding can't stand abandon",
    "fast fast slow", "slow big join", "nothing here", "the a the",
    "breathtaking stuff", "abandon outstanding outstanding")

  /** A VADER-sized lexicon: 7,500 words, multi-byte words, an AFINN phrase
    * and the toy vocabulary among generated fillers.
    */
  private lazy val bigLexicon: graft.functions.Lexicon = {
    val r = new scala.util.Random(11)
    val fixed = Map("fast" -> 2, "slow" -> -2, "caf\u00e9" -> 1,
      "\ud83d\ude00" -> 3, "can't stand" -> -3, "abandon" -> -2, "the" -> 1)
    val filler = Iterator.from(0).map(i => f"w$i%05d").filterNot(fixed.contains)
      .take(7500 - fixed.size).map(w => w -> (if (r.nextBoolean()) 1 else -1))
    graft.functions.Lexicon(fixed ++ filler)
  }

  test("native vote and count equal the HOF reference chains: 7,500-word lexicon") {
    assert(bigLexicon.size == 7500)
    kernelMatchesSpec(edgeTexts, bigLexicon)
  }

  test("native vote and count equal the HOF reference chains: generated texts") {
    val r = new scala.util.Random(5)
    val vocab = bigLexicon.scores.keys.toVector.sorted.take(40) ++
      Seq("fast", "slow", "Fast", "fastest", "caf\u00e9", "\ud83d\ude00", "x", "")
    val seps = Seq(" ", " ", " ", "  ", "\t")
    val texts = (0 until 300).map(_ =>
      (0 until r.nextInt(25)).map(_ => vocab(r.nextInt(vocab.length)))
        .mkString(seps(r.nextInt(seps.length))))
    for (l <- Seq(graft.functions.Lexicon.Toy, bigLexicon)) kernelMatchesSpec(texts, l)
  }

  test("native count follows size(null) when ANSI is off") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try kernelMatchesSpec(Seq(null, "the a", ""), graft.functions.Lexicon.Toy)
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("token counts: whitespace vs regex") {
    assert(one[Long](TextFunctions.tokenCount(col("text")), "a b c") == 3L)
    assert(one[Long](TextFunctions.regexTokenCount(col("text")), "ab12cd, x") == 5L)
  }

  test("langId flags stopword-bearing text as en") {
    assert(one[String](TextFunctions.langId(col("text")), "the quick fox") == "en")
    assert(one[String](TextFunctions.langId(col("text")), "quick fox") == "und")
  }

  test("native shingleSet matches the HOF reference on varied texts") {
    val texts = Seq(
      "a b c d e", "a a a a", "x", "", "one two three", "a b a b a b",
      "  leading", "double  space inside", "trail ")
    val df = texts.toDF("text")
    val got = df.select(TextFunctions.shingles(col("text"), 3).as("s"))
      .as[Seq[String]].collect().toSeq
    val ref = df.select(TextFunctions.shinglesReference(col("text"), 3).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(got == ref, s"texts=$texts")
  }

  test("jaccard of shingle arrays") {
    val df = Seq(("x y z w", "y z w v")).toDF("a", "b")
    val j = df.select(TextFunctions.jaccard(
      TextFunctions.shingles(col("a"), 2), TextFunctions.shingles(col("b"), 2)).as("j"))
      .collect()(0).getDouble(0)
    // a-shingles {x y, y z, z w}, b-shingles {y z, z w, w v}: 2 / 4
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("sentiment model: batch scoring = driver reference; lexicon model = column path") {
    import graft.functions.{Lexicon, SentimentModel}
    // real-valued weights + bias + dead zone — beyond what the lexicon does
    val model = SentimentModel(
      Map("good" -> 1.5, "great" -> 2.0, "bad" -> -1.0, "awful" -> -2.5),
      bias = 0.25, deadZone = 0.5)
    val r = new scala.util.Random(42)
    val vocab = Array("good", "great", "bad", "awful", "meh", "thing", "x")
    val docs = (0 until 200).map(i =>
      (i.toLong, (0 until r.nextInt(12)).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")))
      .toDF("doc_id", "text")

    val scored = SentimentModel.scored(docs, "doc_id", "text", model, batchSize = 7)
      .as[(Long, Double, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val reference = docs.as[(Long, String)].collect().map { case (id, text) =>
      val m = model.margin(text.split(" ").toSeq)
      id -> ((m, model.label(m)))
    }.toMap
    assert(scored.size == 200 && scored == reference)

    // the lexicon-as-model reproduces the overallSentiment column exactly
    val lexModel = SentimentModel.fromLexicon(Lexicon.Toy)
    val corpus = Seq(
      (1L, "fast fast slow"), (2L, "slow big join"), (3L, "nothing here"),
      (4L, "fast slow"), (5L, "")).toDF("doc_id", "text")
    val viaModel = SentimentModel.scored(corpus, "doc_id", "text", lexModel)
      .select("doc_id", "sentiment").as[(Long, String)].collect().toMap
    val viaColumn = corpus
      .select($"doc_id", graft.functions.TextFunctions.overallSentiment($"text").as("s"))
      .as[(Long, String)].collect().toMap
    assert(viaModel == viaColumn)

    // AFINN-style round trip
    val parsed = SentimentModel.fromLines(Iterator("# c", "good\t1.5", "awful\t-2.5"))
    assert(parsed.weights == Map("good" -> 1.5, "awful" -> -2.5))
  }
}
