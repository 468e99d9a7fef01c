package graft

import graft.operators.QualityClassifier
import org.apache.spark.sql.functions._

class QualityClassifierSpec extends SparkTestBase {
  import spark.implicits._

  // Two disjoint vocabularies -> hashed features barely collide at 1024
  // buckets for this tiny lexicon, so the corpus is (near-)linearly
  // separable in feature space and the pocket perceptron must nail it.
  private def planted(n: Int) = (0L until n.toLong).map { i =>
    val good = i % 2 == 0
    val words =
      if (good) Seq("the", "report", "of", "quarterly", "earnings", "is", "clear")
      else Seq("zzzz", "###", "qqqq", "####", "xxxx", "...")
    (i, (words ++ words.take((i % 3).toInt + 1)).mkString(" "), good)
  }.toDF("doc_id", "text", "good")

  test("planted separable corpus: perfect train AND held-out accuracy") {
    val docs = planted(80)
    // train on ids 0,1 mod 4 — both classes represented
    val feats = QualityClassifier
      .featurize(docs, col("good"), pmod(col("doc_id"), lit(4)) <= 1)
      .localCheckpoint()
    val w = QualityClassifier.train(feats, iters = 5)
    val out = QualityClassifier.scoreWith(feats, w)
      .select(col("doc_id"), (col("label") === 1) === col("pred"))
      .as[(Long, Boolean)].collect()
    assert(out.length == 80)
    // trained on half the docs, correct on every doc incl. held-out
    assert(out.forall(_._2), s"misclassified: ${out.filterNot(_._2).toSeq}")
  }

  test("training is partitioning-independent (weights identical)") {
    val docs = planted(60)
    def weights(parts: Int) = QualityClassifier.train(
      QualityClassifier
        .featurize(docs.repartition(parts), col("good"), lit(true))
        .localCheckpoint(),
      iters = 3)
    assert(weights(7).toSeq == weights(2).toSeq)
  }

  test("zero iters = zero weights; one-iter updates are the exact y-sums") {
    val docs = Seq((0L, "", true), (1L, "the a of", false)).toDF("doc_id", "text", "good")
    val feats = QualityClassifier.featurize(docs, col("good"), lit(true))
    val w0 = QualityClassifier.train(feats, iters = 0)
    assert(w0.forall(_ == 0L) && w0.length == 1025)
    // iteration 1: both docs misclassified at w=0 (score 0, y·0 ≤ 0), so
    // the candidate w_1 is the raw y-sums — bias (+1-1) = 0, doc 1's five
    // grams -1 each, and the EMPTY text's single empty-gram feature +1.
    // The pocket then prefers w_1 (0 errors) over w_0 (2 errors).
    val w1 = QualityClassifier.train(feats, iters = 1)
    assert(w1.last == 0L)
    assert(w1.count(_ != 0L) == 6, s"nonzero: ${w1.zipWithIndex.filter(_._1 != 0L).toSeq}")
    val scored = QualityClassifier.scoreWith(feats, w1)
      .select(col("doc_id"), col("score"), col("pred"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(scored(0) == ((0L, 1L, true)))   // its own +1 empty-gram feature
    assert(scored(1) == ((1L, -5L, false))) // its own -1 features
  }

  test("driver-local training equals the distributed loop weight-for-weight") {
    val docs = planted(60)
    val feats = QualityClassifier
      .featurize(docs, col("good"), pmod(col("doc_id"), lit(4)) <= 1)
      .localCheckpoint()
    // train() takes the driver-local path here (tiny slice, well under
    // MaxLocalTrainEntries); the distributed loop over the same isolated
    // slice must produce the identical pocket weights — the equality that
    // makes the size-based dispatch invisible to every caller
    val viaLocal = QualityClassifier.train(feats, iters = 7)
    val tr = feats.filter(col("is_train")).select(col("y"), col("fs"))
      .localCheckpoint()
    val viaDistributed = QualityClassifier.trainDistributed(tr, 1024, 7)
    assert(viaLocal.toSeq == viaDistributed.toSeq)
  }

  test("model artifact roundtrips and serves identically (batch gate == scoreWith)") {
    val docs = planted(40)
    val feats = QualityClassifier
      .featurize(docs, col("good"), lit(true)).localCheckpoint()
    val w = QualityClassifier.train(feats, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("qc_model").toString
    QualityClassifier.writeModel(spark, w, s"$dir/m")
    val w2 = QualityClassifier.readModel(spark, s"$dir/m")
    assert(w2.toSeq == w.toSeq)
    // the per-row serving fold under the rehydrated weights equals the
    // featurized-path scores doc-for-doc
    val served = QualityClassifier.gate(docs, w2)
      .select(col("doc_id"), col("score")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    val batch = QualityClassifier.scoreWith(feats, w)
      .select(col("doc_id"), col("score")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(served == batch)
  }

  test("large-bucket scoring: the UDF path equals the literal path long-for-long") {
    val docs = planted(30)
    // deterministic non-trivial weights over a model LARGER than the
    // literal threshold — the 64k-bucket regime the literal path must not
    // be asked to plan
    val big = QualityClassifier.MaxLiteralWeights + 512
    val w = Array.tabulate(big + 1)(b => ((b * 2654435761L) % 17L) - 8L)
    val lit_ = docs.withColumn("s",
        QualityClassifier.scoreTextLiteral(col("text"), w))
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    val viaUdf = docs.withColumn("s",
        QualityClassifier.scoreTextUdf(col("text"), w))
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(viaUdf == lit_)
    // sparse featurized path too
    val feats = QualityClassifier
      .featurize(docs, col("good"), lit(true), buckets = big).localCheckpoint()
    val colLit = feats.withColumn("s",
        QualityClassifier.scoreColLiteral(col("fs"), w))
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    val colUdf = feats.withColumn("s",
        QualityClassifier.scoreColUdf(col("fs"), w))
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(colUdf == colLit)
    // and the dispatcher picks the UDF path above the threshold: gate()
    // must plan (a 4609-literal CreateArray per expression is the failure
    // mode) and agree with the literal scores
    val gated = QualityClassifier.gate(docs, w)
      .select(col("doc_id"), col("score")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(gated == lit_)
  }

  test("featurize output keeps its attribute ids through the optimizer") {
    // a checkpointed frame whose optimized output changes an attribute
    // logs a LogicalRDD output-mismatch warning per checkpoint. The input
    // is itself checkpointed, as in the pipeline: over a local relation
    // the optimizer folds the whole plan into rows and hides the change.
    val longIds = planted(8).localCheckpoint()
    val intIds = longIds.select($"doc_id".cast("int").as("id"), $"text", $"good")
    for ((docs, idCol) <- Seq(longIds -> "doc_id", intIds -> "id")) {
      val qe = QualityClassifier.featurize(docs, $"good", lit(true), idCol = idCol).queryExecution
      assert(qe.analyzed.output.map(a => (a.name, a.exprId, a.dataType)) ==
        qe.optimizedPlan.output.map(a => (a.name, a.exprId, a.dataType)), idCol)
    }
  }

  test("qualityScores: an unbounded training slice is rejected") {
    val docs = planted(40)
    val ex = intercept[IllegalArgumentException] {
      QualityClassifier.qualityScores(docs, iters = 1,
        isTrain = lit(true), maxTrain = 10L)
    }
    assert(ex.getMessage.contains("maxTrain"))
  }

  test("registered query: trains on even ids, scores every doc, beats the majority class") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val out = QualityClassifier.qualityScores(docs)
    val rows = out.select(col("is_train"), (col("label") === 1) === col("pred"),
        col("label") === 1)
      .as[(Boolean, Boolean, Boolean)].collect()
    assert(rows.length == docs.filter(col("text").isNotNull).count())
    val majority = rows.count(_._3).toDouble / rows.length // 0.696 all-pos baseline
    val (train, held) = rows.partition(_._1)
    def acc(xs: Array[(Boolean, Boolean, Boolean)]) =
      xs.count(_._2).toDouble / math.max(xs.length, 1)
    // weak labels are learnable from hashed ngrams past the majority-class
    // baseline on BOTH halves — the FineWeb-Edu generalization claim in
    // miniature (measured: train 0.984, held 0.848, majority 0.696)
    assert(acc(train) > 0.95, s"train acc ${acc(train)}")
    assert(acc(held) > majority + 0.1, s"held-out acc ${acc(held)} vs majority $majority")
  }
}
