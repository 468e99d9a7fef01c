package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{ArrayType, StringType}

/** SURVEY §5's scale claims, asserted against the physical plans so a
  * regression fails CI instead of surviving as prose (the q05 broadcast and
  * bucketed zero-Exchange claims already live in RelationalSpec /
  * SourcesSpec; these cover the rest).
  *
  * AQE and auto-broadcast are disabled inside each assertion: AQE wraps
  * the tree (not walkable pre-execution) and a broadcast of the tiny test
  * input would vacuously hide exactly the shuffles being audited — at
  * corpus scale these joins ARE shuffles.
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def audited[T](f: => T): T = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }.toSeq

  /** The r20 input-skew spread ([[graft.operators.Spread.ifNarrow]]) is a
    * ROUND-ROBIN exchange of the raw input rows, planned only when the
    * scan's split count is far below the parallelism (always true on the
    * one-file test tables, never on a multi-file production corpus). It
    * legitimately carries text ONCE — the audits below police the KEYED
    * shuffles, where text riding an exchange means an operator regressed.
    */
  private def keyed(ex: Seq[ShuffleExchangeExec]): Seq[ShuffleExchangeExec] =
    ex.filterNot(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])

  test("q01: filter and projection are pushed into the parquet scan") {
    audited {
      val df = SparkEntry.queries("q01_filter_project")(spark, dir)
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.size == 1)
      val pushed = scans.head.metadata("PushedFilters")
      assert(pushed.contains("EqualTo(lang,en)"), s"lang filter not pushed: $pushed")
      // column pruning: the scan reads what the query needs, not the table
      val read = scans.head.requiredSchema.fieldNames.toSet
      assert(read == Set("doc_id", "text", "n_chars", "lang"),
        s"scan reads $read - pruning regressed")
    }
  }

  test("q12 sessionize: ONE exchange feeds both the window and the aggregation") {
    audited {
      val df = SparkEntry.queries("q12_sessionize")(spark, dir)
      val ex = shuffles(df)
      assert(ex.size == 1,
        s"sessionize must reuse the user_id partitioning, found ${ex.size} shuffles:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("q20 exact dedup: the shuffle carries digest + id, never the text") {
    audited {
      val df = SparkEntry.queries("q20_dedup_exact")(spark, dir)
      val ex = shuffles(df)
      assert(ex.nonEmpty)
      ex.foreach { s =>
        val tys = s.child.output.map(_.dataType)
        assert(!tys.exists(_.isInstanceOf[StringType]),
          s"document text must not ride the dedup shuffle: ${s.child.output}")
        assert(s.child.output.size <= 3, // digest + partial min(id) + count
          s"dedup shuffle wider than digest+partials: ${s.child.output}")
      }
    }
  }

  test("q113 line dedup: hash-keyed stages shuffle scalars; text only rides the id-keyed reassembly") {
    audited {
      val df = SparkEntry.queries("q113_line_dedup")(spark, dir)
      val ex = keyed(shuffles(df))
      assert(ex.nonEmpty)
      val texty = ex.filter(_.child.output.exists(a =>
        a.dataType.isInstanceOf[StringType] || a.dataType.isInstanceOf[ArrayType]))
      // the boilerplate count and the drop-collect are hash/id-keyed scalar
      // shuffles; only the final reassembly join may carry the lines array,
      // and it must be keyed by doc_id (one id-keyed pass, q78's contract)
      texty.foreach { s =>
        assert(s.outputPartitioning.toString.contains("doc_id"),
          s"line text must only ride the id-keyed reassembly join: ${s.child.output}")
      }
      assert(texty.size <= 2, s"${texty.size} text-bearing shuffles")
    }
  }

  test("q23 inverted-index jaccard: no shingle array rides any shuffle") {
    audited {
      val df = SparkEntry.queries("q23_ngram_jaccard")(spark, dir)
      val ex = shuffles(df)
      assert(ex.nonEmpty, "with broadcast off the inverted-index join must shuffle")
      ex.foreach { s =>
        val arrays = s.child.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"shingle arrays must explode BEFORE the shuffle, found: $arrays")
      }
    }
  }

  test("prefix-filtered jaccard: index shuffles are scalar-only") {
    audited {
      val df = graft.operators.Dedup.ngramJaccardPairsPrefix(
        graft.sources.Tables.documents(spark, dir), "doc_id", "text")
      // shuffles carrying an exploded shingle (df count, prefix window,
      // index equi-join) must be scalar-only; the id-keyed VERIFY join
      // legitimately ships each candidate's shingle set once
      val indexShuffles = shuffles(df).filter(_.child.output.exists(_.name == "s"))
      assert(indexShuffles.nonEmpty)
      indexShuffles.foreach { s =>
        val arrays = s.child.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"shingle arrays must explode BEFORE the index shuffles, found: $arrays")
      }
    }
  }

  test("q18 cube: ONE scan + Expand before partial aggregation") {
    audited {
      val df = SparkEntry.queries("q18_cube_grouping")(spark, dir)
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1, "cube must not rescan per grouping set")
      assert(plan.toString.contains("Expand"), "cube should plan as Expand")
      // partial aggregation reduces before the single shuffle
      assert(shuffles(df).size == 1, s"cube should shuffle once:\n$plan")
    }
  }

  test("q19 set ops plan as semi/anti joins; only keys shuffle") {
    audited {
      val df = SparkEntry.queries("q19_set_ops")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
        s"INTERSECT/EXCEPT should plan as semi/anti joins:\n$plan")
      shuffles(df).foreach { s =>
        assert(s.child.output.size <= 1,
          s"set-op shuffles must carry the key only: ${s.child.output}")
      }
    }
  }

  test("q44 heavy hitters: the sketch path shuffles ONE summary per partition") {
    audited {
      val df = SparkEntry.queries("q44_heavy_hitters")(spark, dir)
      // global-agg (non-keyed) exchanges: the sketch and spine partials.
      // SinglePartition shuffles carry partial buffers, not token rows.
      val global = shuffles(df).filter(_.outputPartitioning.numPartitions == 1)
      assert(global.nonEmpty)
      global.foreach { s =>
        assert(!s.child.output.exists(a =>
            a.dataType.isInstanceOf[StringType] && a.name == "term"),
          s"raw tokens must not ride a global shuffle: ${s.child.output}")
      }
    }
  }

  test("q117b capped: exploded sides never broadcast; explode parallelism is pinned") {
    // deliberately NOT `audited`: the two r11 planner bugs lived under
    // DEFAULT settings (AQE on, broadcast on) — Catalyst sized the
    // triangle join from the pre-explode checkpoint and planned a
    // multi-GiB broadcast of an exploded side, and AQE coalesced the
    // small pre-explode stream to one partition, serializing the explode
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike, REPARTITION_BY_NUM}
    val df = SparkEntry.queries("q117b_image_phash_capped")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => p.children.flatMap(walk)
    })
    val nodes = walk(df.queryExecution.executedPlan)
    // the small path's band-key explode (explode(array(...))) may ride a
    // legitimate bounded broadcast at toy scale; only the triangle-grid
    // explodes — signature explode(sequence(g, chunks)) — must never
    // broadcast (the r11 13.5 GiB bug)
    val badBroadcast = nodes.collect {
      case b: BroadcastExchangeLike if walk(b).exists {
        case g: org.apache.spark.sql.execution.GenerateExec =>
          g.generator.toString.contains("sequence(")
        case _ => false
      } => b
    }
    assert(badBroadcast.isEmpty,
      s"an exploded triangle side was planned broadcast:\n${badBroadcast.headOption}")
    // the pre-explode repartition carries an explicit count, which AQE
    // must leave alone (REPARTITION_BY_NUM)
    val pinned = nodes.collect {
      case s: ShuffleExchangeLike if s.shuffleOrigin == REPARTITION_BY_NUM => s
    }
    assert(pinned.nonEmpty, "pinned pre-explode repartition missing from the plan")
  }

  test("q121/q47d production cross-modal path: the hot-bucket guard is armed by default") {
    // r11 verdict #1: crossModalClusters and the q47d pipeline defaulted
    // to the UNCAPPED fingerprint join — one hot 16-bit blocking key = one
    // O(class²) task. The guard now defaults ON at the production sizing,
    // and its r12 skew-split is DRIVER-DECIDED: with no key over cap the
    // armed plan IS the uncapped plan (no grid machinery to pay for), so
    // the audit checks both halves —
    //  (a) the production entry points arm the guard (constant + config);
    //  (b) the armed-but-idle plan carries NO grid (pinned repartitions
    //      absent: the guard is free on this clean corpus);
    //  (c) a FORCED engagement (cap 2, classes over it) produces the grid
    //      with the pinned pre-explode repartition and, as in q117b, no
    //      exploded triangle side broadcast.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike, REPARTITION_BY_NUM}
    assert(operators.Multimodal.ProductionBucketCap == 1024)
    assert(pipelines.CorpusPipeline.MediaBucketCap ==
      operators.Multimodal.ProductionBucketCap,
      "the pipeline must arm the media guard")
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => p.children.flatMap(walk)
    })
    def audit(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      df.write.format("noop").mode("overwrite").save()
      val nodes = walk(df.queryExecution.executedPlan)
      // GRID pinned repartitions only — keyed on the chunk column `g`:
      // the round-robin input spread (Spread.ifNarrow, r20) and the
      // id-keyed verify-parallelism pins (verifyPairs, r20) are also
      // REPARTITION_BY_NUM, but neither is the hot-bucket grid this
      // audit polices (the grid exchange is keyed (sig?, bk, g))
      val pinned = nodes.count {
        case s: ShuffleExchangeLike => s.shuffleOrigin == REPARTITION_BY_NUM &&
          (s.outputPartitioning match {
            case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
              h.expressions.exists(_.references.exists(_.name == "g"))
            case _ => false
          })
        case _ => false
      }
      // the text minhash leg's bounded pair explode (hot-bucket capped)
      // MAY broadcast; the triangle-grid explodes — signature
      // explode(sequence(g, chunks)) — must not (the r11 13.5 GiB bug)
      val badBroadcast = nodes.count {
        case b: BroadcastExchangeLike => walk(b).exists {
          case g: org.apache.spark.sql.execution.GenerateExec =>
            g.generator.toString.contains("sequence(")
          case _ => false
        }
        case _ => false
      }
      (pinned, badBroadcast)
    }
    val docs = graft.sources.Tables.documents(spark, dir)
    // (b) production default on a clean corpus: armed == uncapped plan
    val (idlePinned, idleBad) = audit(operators.Multimodal.crossModalPairs(docs))
    assert(idlePinned == 0,
      s"no key over ${operators.Multimodal.ProductionBucketCap}: the grid must not materialize, found $idlePinned pinned repartitions")
    assert(idleBad == 0)
    // (c) forced engagement: classes over cap 2 exist at every scale
    val (hotPinned, hotBad) = audit(
      operators.Multimodal.crossModalPairs(docs, bucketCap = 2))
    // r19: the three media modalities band/count/join in ONE tagged pass
    // (hammingPairs56Tagged), so the engaged guard pins at least the one
    // grid pre-explode repartition keyed (sig, bk, g)
    assert(hotPinned >= 1,
      s"expected the tagged media pass's pinned grid pre-explode repartition, found $hotPinned")
    assert(hotBad == 0,
      "an exploded triangle side was planned broadcast")
  }

  test("q117 phash pairs: ONE exchange (reused by both join sides), no pair-stream dedup") {
    audited {
      // r11: the canonical-key rule emits each pair exactly once inside
      // the join filter, so the r10 distinct() — a full re-exchange of
      // the verified pair stream — is gone: the only shuffle left is the
      // banded (id, ph, bk) stream, planned once and reused on side b
      val df = SparkEntry.queries("q117_image_phash")(spark, dir)
      val ex = keyed(shuffles(df))
      assert(ex.size == 1,
        s"phash pairs must shuffle only the banded stream, found ${ex.size}:\n" +
          df.queryExecution.executedPlan)
      val aggs = df.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
      }
      assert(aggs.isEmpty, s"unexpected aggregation (distinct crept back?):\n$aggs")
    }
  }

  test("q22 simhash: blocking-key shuffles carry (id, sim, bk) fixed-width rows") {
    audited {
      val df = SparkEntry.queries("q22_dedup_simhash")(spark, dir)
      shuffles(df).foreach { s =>
        val tys = s.child.output.map(_.dataType)
        assert(!tys.exists(t => t.isInstanceOf[StringType] || t.isInstanceOf[ArrayType]),
          s"text/arrays must not ride the simhash shuffle: ${s.child.output}")
      }
    }
  }

  test("q52 incremental dedup: delta text never shuffles, only digest + id") {
    audited {
      val df = SparkEntry.queries("q52_incremental_dedup")(spark, dir)
      val ex = shuffles(df)
      assert(ex.nonEmpty)
      ex.foreach { s =>
        val tys = s.child.output.map(_.dataType)
        assert(!tys.exists(_.isInstanceOf[StringType]),
          s"text must not ride the incremental-dedup shuffle: ${s.child.output}")
      }
    }
  }

  test("q104 canonical picks: bounded k=1 argmax, no per-cluster Window sort") {
    audited {
      val df = SparkEntry.queries("q104_canonical_picks")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), "canonical pick must not window-sort clusters")
      assert(plan.contains("partial_boundedtopk"),
        "the canonical member must come from the map-side bounded aggregator")
    }
  }

  test("q105/q107 PQ scans: codes ride the ADC shuffle, never float vectors") {
    audited {
      for (name <- Seq("q105_knn_pq", "q107_knn_ivfpq")) {
        val df = SparkEntry.queries(name)(spark, dir)
        val floatArrays = shuffles(df).flatMap(_.child.output).filter(a =>
          a.dataType match {
            case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
            case _ => false
          })
        assert(floatArrays.isEmpty,
          s"$name: float vectors must never shuffle (codes/ids only): $floatArrays")
      }
    }
  }

  test("q54 weighted sample: bounded aggregator, no Window sort") {
    audited {
      val df = SparkEntry.queries("q54_weighted_sample")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), "weighted sample must not window-sort")
      assert(plan.contains("partial_boundedtopk"),
        "winners must come from the map-side bounded aggregator")
    }
  }

  test("q59 winsorize: the corpus-side clamp is broadcast-fed (no corpus re-shuffle)") {
    audited {
      val df = SparkEntry.queries("q59_winsorize")(spark, dir)
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"percentile bounds should broadcast to the clamp:\n$plan")
    }
  }

  test("q63 tfidf pairs: candgen shuffles are slim scalars, arrays only on id-keyed verify joins") {
    audited {
      val df = SparkEntry.queries("q63_tfidf_cosine_pairs")(spark, dir)
      val plan = df.queryExecution.executedPlan
      // the pair pipeline must stay in hash aggregation (codegen), never
      // fall back to sort-based aggregation
      assert(!plan.toString.contains("SortAggregate"), s"sort-agg fallback:\n$plan")
      val withArrays = shuffles(df)
        .filter(_.child.output.exists(_.dataType.isInstanceOf[ArrayType]))
      // term-keyed candidate-generation rows are (term[, blk], chunk, doc)
      // scalars — a term array on those shuffles would mean the prefix
      // index regressed to shipping whole documents per posting
      withArrays.foreach { s =>
        val names = s.child.output.map(_.name)
        assert(!names.contains("term"),
          s"candidate-generation shuffle carries arrays: ${s.child.output}")
      }
      // per-doc vectors move at most: once into the groupBy, once per
      // verify side — never per candidate pair
      assert(withArrays.size <= 3,
        s"expected <=3 array-bearing shuffles, found ${withArrays.size}")
    }
  }

  test("q71 span dedup: gram text never shuffles, only hashes/ids/counts") {
    audited {
      val df = SparkEntry.queries("q71_span_dedup")(spark, dir)
      val ex = keyed(shuffles(df))
      assert(ex.nonEmpty, "the repeated-gram aggregation must shuffle")
      ex.foreach { s =>
        val tys = s.child.output.map(_.dataType)
        assert(!tys.exists(t => t.isInstanceOf[StringType] || t.isInstanceOf[ArrayType]),
          s"gram text/token arrays must not ride a q71 shuffle: ${s.child.output}")
      }
    }
  }

  test("q73 chunking and q75 projection: per-row operators, ZERO shuffles") {
    audited {
      assert(shuffles(SparkEntry.queries("q73_doc_chunks")(spark, dir)).isEmpty,
        "chunking is a per-row explode; any shuffle is a regression")
      assert(shuffles(SparkEntry.queries("q75_random_projection")(spark, dir)).isEmpty,
        "random projection is per-row column math; any shuffle is a regression")
    }
  }

  test("q74 mixture resample: rank shuffle carries slim keys, winners broadcast back") {
    audited {
      val df = SparkEntry.queries("q74_mixture_resample")(spark, dir)
      // with auto-broadcast disabled the rank window and count agg shuffle;
      // none of them may carry more than (stratum, hash, id)-width rows of
      // the corpus — the full-width rows come back via the final semi-join
      val ex = shuffles(df)
      assert(ex.nonEmpty)
      ex.foreach { s =>
        assert(s.child.output.size <= 4,
          s"mixture-resample shuffle wider than (stratum, hash, id, rank): ${s.child.output}")
      }
    }
  }

  test("q65 incremental near-dup: no document text on any shuffle") {
    audited {
      val df = SparkEntry.queries("q65_incremental_neardup")(spark, dir)
      val ex = shuffles(df)
      assert(ex.nonEmpty)
      ex.foreach { s =>
        s.child.output.map(_.dataType).foreach {
          case _: StringType =>
            fail(s"text/shingle strings must not ride a q65 shuffle: ${s.child.output}")
          case ArrayType(et, _) =>
            assert(!et.isInstanceOf[StringType],
              s"shingle STRING arrays must not ride a q65 shuffle (hashed longs only): ${s.child.output}")
          case _ =>
        }
      }
    }
  }

  test("q114 serving path: weights are plan literals, scoring is a ZERO-shuffle scan") {
    audited {
      val docs = graft.sources.Tables.documents(spark, dir)
      val w = new Array[Long](1025) // any frozen model; the plan shape is what's audited
      assert(shuffles(graft.operators.QualityClassifier.gate(docs, w)).isEmpty,
        "classifier serving is per-row column math; any shuffle is a regression")
    }
  }

  test("q115 interleave: both rank stages are bucketed — no single-partition window") {
    audited {
      val df = SparkEntry.queries("q115_mixture_interleave")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"global interleave rank fell back to one partition:\n$plan")
    }
  }
}
