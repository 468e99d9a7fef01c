package graft

import graft.plans.GraftExtensions

/** The SQL registry surface: graft's native expressions callable from
  * `spark.sql`, installed on the live shared session via
  * [[GraftExtensions.register]] (the `withExtensions` path binds the same
  * entries at session construction).
  */
class ExtensionsSpec extends SparkTestBase {

  test("cosine_similarity / simhash64 / minhash_signature / lsh_buckets from SQL") {
    GraftExtensions.register(spark)

    val c = spark.sql(
      "SELECT cosine_similarity(array(1.0f, 2.0f), array(1.0f, 2.0f)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)

    val sim = spark.sql("SELECT simhash64(array('a','b','a')) AS s").collect()(0).getLong(0)
    assert(sim != 0L)

    val sig = spark.sql("SELECT minhash_signature(array('x y z')) AS m")
      .collect()(0).getSeq[Long](0)
    assert(sig.length == graft.plans.HashKernels.NumHashes)

    val buckets = spark.sql("SELECT lsh_buckets(array(0.5f, -0.25f), 8, 4) AS b")
      .collect()(0).getSeq[Int](0)
    assert(buckets.length == 4)
    buckets.zipWithIndex.foreach { case (b, t) => assert(b >> 8 == t) }

    // arity errors surface as analysis-time failures, not runtime garbage
    intercept[Exception](spark.sql("SELECT simhash64(array('a'), 2)").collect())

    val c8 = spark.sql(
      "SELECT cosine_similarity_int8(" +
        "array(CAST(3 AS TINYINT), CAST(4 AS TINYINT)), " +
        "array(CAST(3 AS TINYINT), CAST(4 AS TINYINT))) AS c").collect()(0).getDouble(0)
    assert(math.abs(c8 - 1.0) < 1e-12)

    // sign_project: SQL path equals the DataFrame/kernel path
    val p = spark.sql("SELECT sign_project(array(0.5f, -0.25f, 0.125f), 4) AS p")
      .collect()(0).getSeq[Double](0)
    assert(p.length == 4)
    val ref = graft.plans.VectorKernels.signProject(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(0.5f, -0.25f, 0.125f)), 4).toDoubleArray().toSeq
    assert(p == ref)
  }

  test("shingle_set / ngram_buckets / nfc_clean from SQL match the kernel paths") {
    GraftExtensions.register(spark)

    val sh = spark.sql("SELECT shingle_set('a b c b a', 2) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh.toSet == Set("a b", "b c", "c b", "b a"))

    // uni+bi over 3 tokens = 5 non-distinct buckets, same hash as the
    // DataFrame path (the q90/q114 featurizer)
    val nb = spark.sql("SELECT ngram_buckets('x y z', 1, 2, 64) AS b")
      .collect()(0).getSeq[Int](0)
    assert(nb.length == 5 && nb.forall(b => b >= 0 && b < 64))
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("x y z").toDF("t")
      .select(graft.plans.HashFunctions.ngramBuckets(col("t"), 1, 2, 64))
      .collect()(0).getSeq[Int](0)
    assert(nb == df)

    // decomposed e+U+0301 composes; the BEL control (U+0007) strips
    val n = spark.sql("SELECT nfc_clean('cafe\u0301 \u0007x') AS n")
      .collect()(0).getString(0)
    assert(n == "caf\u00e9 x")

    intercept[Exception](spark.sql("SELECT ngram_buckets('x', 1, 2)").collect())
  }

  test("lexicon_vote / lexicon_count from SQL equal the DataFrame API") {
    import graft.functions.{Lexicon, TextFunctions}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)

    val texts = Seq("fast fast slow", "slow big join", "the a the", "", null)
    texts.toDF("text").createOrReplaceTempView("lexicon_docs")
    def quoted(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("array(", ", ", ")")
    val sql = spark.sql(
      s"""SELECT text,
         |  lexicon_vote(text, ${quoted(Lexicon.Toy.positive)}, ${quoted(Lexicon.Toy.negative)}) AS v,
         |  lexicon_count(text, ${quoted(TextFunctions.stopWords)}) AS c
         |FROM lexicon_docs""".stripMargin)
    val api = texts.toDF("text").select($"text",
      TextFunctions.overallSentiment($"text").as("v"),
      TextFunctions.lexiconCount($"text", TextFunctions.stopWords).as("c"))
    assert(sql.collect().toSeq == api.collect().toSeq)
    assert(sql.collect().map(_.getString(1)).toSeq ==
      Seq("positive", "negative", "na", "na", "na"))

    // word lists are plan constants: a column or a non-string array fails
    intercept[Exception](spark.sql(
      "SELECT lexicon_count(text, array(text)) FROM lexicon_docs").collect())
    intercept[Exception](spark.sql("SELECT lexicon_count('a', array(1, 2))").collect())
    intercept[Exception](spark.sql("SELECT lexicon_vote('a', array('a'))").collect())
  }
}
