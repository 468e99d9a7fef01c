package graft.operators

import graft.plans.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Product-quantized ANN (SURVEY §2 q105; Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search" — the FAISS `PQx` index
  * family): split each d-dim vector into `m` subvectors, k-means each
  * subspace into `k` codes, and store every vector as `m` small ints —
  * 64-dim floats (256 B) become 8 bytes/vector, the memory step beyond
  * q57/q60's int8 (64 B).
  *
  * Search is ADC (asymmetric distance computation) + EXACT REFINE — the
  * production IVFPQ+refine shape:
  *   1. per (query, subspace, code), the inner product of the query
  *      subvector with that code's centroid is a LUT entry; the
  *      approximate dot of query×vector is the sum of m LUT lookups on
  *      the vector's codes — a SCAN over the 8-byte codes, no vector
  *      arithmetic;
  *   2. the top `refine` candidates per query by ADC score join back to
  *      the original vectors for exact cosine, and the top k of THAT is
  *      returned. Refine buys back the PQ distortion (16 codes per
  *      8-dim subspace is coarse on near-uniform data) for the cost of
  *      `refine` exact distances per query instead of |corpus|.
  *
  * Determinism (the q86 grid discipline end-to-end): codebooks train on
  * the 6-dp long grid via [[KMeans]]'s deterministic Lloyd (pinned init,
  * smallest-id ties, grid re-rounding), encoding is exact-long argmin
  * with first-index ties, LUT entries are exact long dots of grid
  * vectors, ADC scores are exact long sums ranked (score desc, id asc),
  * and the refine stage reuses the codegen'd
  * [[graft.plans.CosineSimilarity]] kernel 6-dp-rounded. Every stage is
  * a pure function of the input multiset.
  *
  * Scale shape (100 TB): training collects only m×k×(d/m) grid longs
  * (the bounded-model-collect discipline; the corpus never leaves the
  * executors — each Lloyd iteration is a scan of one localCheckpointed
  * quantized projection). Queries (a bounded set, q25's contract)
  * collect to the driver to become LUT literals in the plan — the scan
  * side reads codes only. Both top-k stages are [[BoundedTopK]]
  * aggregations: O(refine or k) rows per query per partition on the
  * shuffle, never a window sort. The refine join touches `refine`
  * vectors per query by id — at 100 TB that is the only stage that
  * reads full vectors, and it reads O(queries × refine) of them.
  */
object Pq {

  /** Trained PQ model: `books(s)(c)` = subspace s's code-c centroid on
    * the 6-dp long grid, each of dimension d/m.
    */
  final case class PqModel(books: Array[Array[Array[Long]]]) {
    def m: Int = books.length
    def k: Int = books.headOption.map(_.length).getOrElse(0)
    def subDim: Int = books.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
  }

  /** Train all m codebooks in ONE grouped Lloyd loop — the subspaces are
    * mathematically independent, so per iteration a single scan assigns
    * every subvector to its subspace's argmin centroid and a single
    * (subspace, cluster, dim)-keyed aggregation (map-side combined; the
    * driver collects m·k·(d/m) grid longs — the whole model) updates all
    * codebooks at once: iters+1 corpus passes TOTAL, not m·(iters+1)
    * separate Lloyd runs. Semantics are exactly [[KMeans.trainCentroids]]
    * per subspace (same k-smallest-ids init sliced, same exact-long
    * argmin with first-index ties, same grid re-round, empty cluster
    * keeps its centroid) — the grouping changes the job count, not one
    * bit of the model.
    */
  def train(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 3): PqModel = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    val q6 = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vf"), grid(col(vecCol)).as("v6"))
      .localCheckpoint()
    val d = q6.select(size(col("v6"))).head().getInt(0)
    require(d % m == 0, s"dim $d must divide into $m subspaces")
    val sub = d / m

    // init: the k smallest ids' vectors, sliced per subspace
    val seed = q6.orderBy(col("id")).limit(k).collect()
      .map(_.getSeq[Long](2).toArray)
    require(seed.nonEmpty, "empty input")
    var books: Array[Array[Array[Long]]] = (0 until m).toArray.map { s =>
      seed.map(v => v.slice(s * sub, (s + 1) * sub))
    }

    for (_ <- 0 until iters) {
      // one scan: the PqEncode kernel assigns all m subspaces at once
      // (its grid6 rounding is the Spark round() twin, so assignment and
      // the v6-derived update see the same grid longs); the update is a
      // single (subspace, cluster, dim)-keyed map-side-combined agg
      val perSub = (0 until m).map { s =>
        struct(lit(s).as("s"),
          element_at(col("codes"), s + 1).as("c"),
          slice(col("v6"), s * sub + 1, sub).as("sv"))
      }
      val updated = q6
        .select(VectorFunctions.pqEncode(col("vf"), books).as("codes"), col("v6"))
        .select(explode(array(perSub: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.c").as("c"),
          posexplode(col("e.sv")).as(Seq("dim", "v")))
        .groupBy(col("s"), col("c"), col("dim"))
        .agg(round(sum(col("v")).cast("double") / count(lit(1)), 0)
          .cast("long").as("cv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, c), rows) =>
          (s, c) -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toArray
        }
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (old, c) => updated.getOrElse((s, c), old) }
      }
    }
    PqModel(books)
  }

  private def grid(vecCol: Column): Column =
    transform(vecCol, x => round(x.cast("double") * lit(1e6), 0).cast("long"))

  /** Encode vectors as m-code arrays via the [[graft.plans.PqEncode]]
    * kernel: per subspace, the exact-long argmin over the k codebook
    * centroids (first index on ties — the [[KMeans.assignTo]] rule), one
    * tight codegen'd loop per row. The first cut of this operator built
    * the argmin from m×k HOF distance folds (codegen-fallback, ~13 s at
    * sf0.1) and then from inline per-dim arithmetic (an expression tree
    * Janino could not compile — OOM in buildLocalVariableMap); the
    * reference-object kernel is the pattern that scales, exactly like
    * [[graft.plans.NearestCells]]. Pure scan, no shuffle. Returns
    * (id, codes array<int>).
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        VectorFunctions.pqEncode(col(vecCol), model.books).as("codes"))

  /** ADC + exact-refine top-k. Queries collect to the driver (bounded,
    * q25's small-query-set contract) and become per-query LUT literals;
    * the corpus side scans codes for the shortlist and re-scores only
    * the shortlist exactly. Returns (query_id, rank, neighbor_id).
    */
  def topK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      model: PqModel, refine: Int = 50): DataFrame = {
    require(refine >= k, "refine shortlist must be at least k")
    val codes = encode(corpus, idCol, vecCol, model).localCheckpoint()
    val qRows = collectQueries(queries, idCol, vecCol)

    // ADC score per (query literal, corpus row): the PqAdc kernel sums
    // the m LUT lookups inside whole-stage codegen
    val topR = udaf(new TopKAggregator(refine), Encoders.product[Scored])
    val adcPerQuery = qRows.map { case (qid, qv) =>
      struct(lit(qid).as("qid"),
        VectorFunctions.pqAdc(col("codes"), lutFor(model, qv)).cast("double").as("adc"))
    }
    val shortlist = codes
      .select(col("id"), explode(array(adcPerQuery.toSeq: _*)).as("q"))
      .filter(col("q.qid") =!= col("id"))
      .groupBy(col("q.qid").as("qid"))
      .agg(topR(col("id"), col("q.adc")).as("ids"))
      .select(col("qid"), explode(col("ids")).as("id"))

    refineExact(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** IVF-PQ top-k (the faiss `IVFx,PQy` shape, `by_residual=false` —
    * codes quantize the RAW vectors with the globally-trained codebooks,
    * a documented simplification that keeps one code table valid across
    * every cell): the coarse quantizer routes each corpus vector to its
    * nearest cell ([[IvfKnn.trainCentroids]] — the existing q27
    * machinery), queries probe their `nprobe` nearest cells, and the ADC
    * scan runs only over the probed cells' rows — the candidate set
    * shrinks ~nlist/nprobe versus q105's full-code scan BEFORE any
    * vector arithmetic happens, which is the billion-vector memory
    * story: the persisted index row is (id, cell, m codes) ≈ 12 bytes,
    * partition/bucket it by cell at scale and probing prunes partitions.
    * Everything downstream (bounded ADC shortlist → exact refine) is
    * [[topK]] unchanged. Returns (query_id, rank, neighbor_id).
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      model: PqModel, nlist: Int = 32, nprobe: Int = 8,
      refine: Int = 200): DataFrame = {
    require(refine >= k, "refine shortlist must be at least k")
    require(nprobe >= 1 && nprobe <= nlist, "1 <= nprobe <= nlist")
    val centroids = IvfKnn.trainCentroids(corpus, idCol, vecCol, nlist)
    // a tiny corpus can train fewer than nlist centroids — cap the probe
    // loop at what actually exists (probing every cell is then exhaustive)
    val effProbe = math.min(nprobe, centroids.length)
    val index = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        element_at(VectorFunctions.nearestCells(col(vecCol), centroids, 1), 1).as("cell"),
        VectorFunctions.pqEncode(col(vecCol), model.books).as("codes"))
      .localCheckpoint()

    val qRows = collectQueries(queries, idCol, vecCol)
    val luts = qRows.map { case (_, qv) => lutFor(model, qv) }
    val probeRows = probeCells(qRows, centroids, effProbe)
    val sp = corpus.sparkSession
    import sp.implicits._
    val probes = probeRows.toDF("qidx", "qid", "cell")

    val topR = udaf(new TopKAggregator(refine), Encoders.product[Scored])
    val shortlist = index
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        VectorFunctions.pqAdcIdx(col("codes"), col("qidx"), luts)
          .cast("double").as("adc"))
      .groupBy(col("qid"))
      .agg(topR(col("id"), col("adc")).as("ids"))
      .select(col("qid"), explode(col("ids")).as("id"))

    refineExact(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** The persisted IVF-PQ artifact: the `path` holds the cell-PARTITIONED
    * (id, codes) table plus the model sidecars (underscore-prefixed dirs,
    * invisible to partition discovery). `centroids`/`model` are the
    * driver-side handles a fresh session re-reads via [[readIndex]].
    */
  final case class IvfPqIndex(
      path: String, centroids: Array[Array[Float]], model: PqModel)

  /** Persist the IVF-PQ index the way the q107 scaladoc promises it lives
    * at scale: one (id, codes) row per corpus vector, PARTITIONED BY the
    * coarse cell, so a probe's scan is statically pruned to its nprobe
    * cells' files — the other nlist−nprobe cells' bytes are never opened
    * (PqIndexSpec asserts numFiles on the executed scan). The coarse
    * centroids and the PQ codebooks persist next to the data
    * (`_centroids` / `_books` — "_"-prefixed so partition discovery skips
    * them): the artifact is self-contained, a later session needs no
    * retraining. Layout: ~12 B/vector in cell dirs; at 100 TB the cells
    * are also the bucketing unit for a co-located id join.
    */
  /** The (id, cell, codes) rows of a corpus under a FROZEN model +
    * centroid set — the shared row shape of [[writeIndex]] (build) and
    * [[appendToIndex]] (ingest), and the spec's union-equality oracle.
    */
  private[graft] def indexRows(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel, centroids: Array[Array[Float]]): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        element_at(VectorFunctions.nearestCells(col(vecCol), centroids, 1), 1).as("cell"),
        VectorFunctions.pqEncode(col(vecCol), model.books).as("codes"))

  /** Row placement for the index families' dynamic-partition writes —
    * the r15 pre-shuffle (one file per partition value, SCALING_r15 §1)
    * upgraded to an AQE REBALANCE (r15 ADVICE, low): a plain
    * `repartition(col)` makes each cell/bucket exactly ONE task and ONE
    * file, so a distribution the coarse quantizer can degenerate into
    * (all-zero vectors tie-routing to cell 0; a drifted append
    * concentrating into few cells — the condition [[occupancyDrift]]
    * exists to detect) turns the write into a straggler task emitting
    * one oversized file. The rebalance keeps the balanced-case layout —
    * a value's rows still hash to one shuffle partition, so ~one file
    * per value — but AQE splits any partition past the advisory size
    * across tasks: a hot cell lands as a few advisory-sized files
    * instead of one straggler, and total file count stays
    * O(values + hot-value splits), never O(tasks × values). Shared with
    * [[Bm25]]'s `pb` writes (same shape, same skew corner).
    */
  private[graft] def placeByPartitionCol(df: DataFrame, c: String): DataFrame =
    df.hint("rebalance", col(c))

  /** Session-scoped build-once cache for [[writeIndexOnce]] — a
    * [[BuildOnce]] (bench loops and repeated probe refreshes pay the
    * train + partitioned write ONCE per session; the key contract,
    * parameter check and eviction rules live on [[BuildOnce]]).
    */
  private val builtIndexes = new BuildOnce[IvfPqIndex](
    "Pq.writeIndexOnce",
    (_, v) => BuildOnce.deleteDir(v.path),
    _.path)

  /** Build the IVF-PQ artifact at `path` once per (session, path); reuse
    * the persisted artifact on every later call. `model` and `corpus`'s
    * encode pass are only evaluated on a cache miss — which is also why
    * the parameter check covers `nlist` but NOT the by-name model:
    * comparing models would force the train on every hit, the exact cost
    * this cache amortizes, so the model rides the key contract like the
    * corpus does. `fingerprintBy` (e.g. `"vec_id"` or `"vec_id, embedding"`)
    * opts into [[BuildOnce.fingerprint]] content-checked keys: a mutated
    * corpus at the same path rebuilds instead of serving stale — at a
    * VERSIONED sibling path ([[BuildOnce.versionedPath]]), so an earlier
    * handle's in-memory centroids/codebooks never alias a newer corpus's
    * on-disk codes (r12 ADVICE).
    */
  def writeIndexOnce(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: => PqModel, path: String, nlist: Int = 32,
      fingerprintBy: Option[String] = None): IvfPqIndex = {
    val (key, target) = fingerprintBy.fold((path, path)) { e =>
      val fp = BuildOnce.fingerprint(corpus, e)
      (BuildOnce.versionKey(path, fp), BuildOnce.versionedPath(path, fp))
    }
    val spark = corpus.sparkSession
    builtIndexes.getOrBuild(spark, key, s"nlist=$nlist",
      // cross-JVM coordination (r14 verdict #1): BuildOnce amortizes per
      // (session, key) inside ONE JVM; a second JVM against the same
      // shared path (nightly DAG + ad-hoc session) serializes on the
      // artifact's build lease, and the waiter — finding the winner's
      // COMPLETED artifact — reads it instead of rebuilding over it.
      // `_occupancy/_SUCCESS` is the completeness witness: writeIndex
      // writes it last, so its commit implies data + both sidecars. The
      // same trust-the-path contract as the in-JVM cache applies: same
      // path = same artifact (fingerprinted callers get versioned paths).
      graft.sources.BuildLock.withLease(spark, target, "IVF-PQ index build") {
        if (indexComplete(spark, target)) {
          val idx = readIndex(spark, target)
          require(idx.centroids.length == nlist,
            s"writeIndexOnce: completed index at $target has " +
              s"${idx.centroids.length} cells but this caller requested " +
              s"nlist=$nlist — same-path producers must agree on layout " +
              "(fold nlist into the path, or rebuild)")
          idx
        } else writeIndex(corpus, idCol, vecCol, model, target, nlist)
      },
      // protect the output path from install time (a dead session's
      // same-path artifact must not be reaped mid-build), and GC this
      // session's superseded content versions once this one is built
      intendedId = Some(target),
      supersedes = fingerprintBy.map(_ => BuildOnce.supersedesPrefix(path)))
  }

  /** True iff a [[writeIndex]] at `path` ran to completion: `_occupancy`
    * is the LAST artifact it writes, so its `_SUCCESS` commit witnesses
    * data, `_centroids` and `_books` all landed.
    */
  private[graft] def indexComplete(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_occupancy/_SUCCESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** `coarse`: a pre-trained coarse quantizer to freeze into the index
    * instead of training one here (the faiss `clustering_index` pattern —
    * train once on a reference sample, reuse across related builds).
    * When absent, the trainer is nlist-dispatched (r14 verdict #4):
    * registered shapes (nlist ≤ 32) keep the driver Lloyd bit-for-bit;
    * production nlist (≥ 128) trains distributed — see
    * [[IvfKnn.trainCentroidsAtScale]].
    */
  def writeIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel, path: String, nlist: Int = 32,
      coarse: Option[Array[Array[Float]]] = None): IvfPqIndex = {
    val sp = corpus.sparkSession
    import sp.implicits._
    require(coarse.forall(_.length == nlist),
      s"pre-trained coarse quantizer must have exactly nlist=$nlist cells")
    val centroids = coarse.getOrElse(
      IvfKnn.coarseCentroidsForBuild(corpus, idCol, vecCol, nlist))
    // Pre-shuffle by cell before the dynamic-partition write: without it
    // every write task opens a file in every cell it sees — numTasks ×
    // nlist small files, and at production nlist THAT (not any trainer)
    // is the whole build wall (SCALING_r15 §1: 83.9 s / 32 686 files at
    // nlist=1024 on 200k rows vs 4.4 s / 1024 files pre-shuffled; the
    // occupancy read-back over the shattered layout pays another 5×).
    // One shuffle of the ~12 B (id, cell, codes) rows buys the layout a
    // reader wants anyway: ~one file per cell, the partition-pruned
    // probe's open count ≈ its cell count. Placement is
    // [[placeByPartitionCol]] (AQE rebalance), so a skew-degenerate cell
    // splits instead of strangling one task.
    placeByPartitionCol(indexRows(corpus, idCol, vecCol, model, centroids), "cell")
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }.toDF("cell", "ctr")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    model.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cv, c) => (s, c, cv.toSeq) }
    }.toSeq.toDF("s", "c", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_books")
    // build-time per-cell occupancy — the drift gate's reference point
    // ("_"-prefixed like the other sidecars). Computed from the just-
    // written table so the reference is what actually landed on disk.
    sp.read.parquet(path).groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_occupancy")
    IvfPqIndex(path, centroids, model)
  }

  /** INCREMENTAL index maintenance (SURVEY §2 q107c) — real ingest
    * APPENDS; a nightly full rebuild re-encodes (and re-shuffles) the
    * whole corpus to add one day. The delta encodes under the index's
    * FROZEN model and routes with its FROZEN centroids ([[indexRows]] —
    * the same expression the build used), then appends into the cell
    * partitions: untouched cells' files are never opened, let alone
    * rewritten (spec asserts file-list identity — the
    * `PartitionedUpsert` discipline), and the grown index's CONTENT
    * equals a one-shot [[writeIndex]]-shaped build of the union corpus
    * under the same model + centroids (spec-asserted, probes included).
    * Freezing is the documented contract, not a shortcut: the coarse
    * quantizer and codebooks must stay fixed for the existing codes to
    * remain valid — that drift is exactly what [[occupancyDrift]]
    * watches. Returns the per-cell appended counts (the monitoring rows
    * an ingest job logs).
    */
  def appendToIndex(
      index: IvfPqIndex, delta: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val rows = indexRows(delta, idCol, vecCol, index.model, index.centroids)
      .localCheckpoint() // one encode pass feeds both the write and the counts
    // ~one file per touched cell per append (the writeIndex pre-shuffle
    // discipline) — otherwise a delta appends numTasks files into EVERY
    // touched cell and the per-cell file count compounds daily. AQE
    // rebalance placement: a drifted delta concentrating into few cells
    // (exactly what occupancyDrift watches for) splits past the advisory
    // size instead of becoming one straggler task.
    placeByPartitionCol(rows, "cell")
      .write.partitionBy("cell").mode("append").parquet(index.path)
    rows.groupBy(col("cell")).agg(count(lit(1)).as("n_added"))
  }

  /** Exactly-once DAILY ANN-index growth — the [[appendToIndex]] protocol
    * under [[graft.streaming.StreamNearDup.applyBatch]]'s batch-marker
    * discipline, so a pipeline (LlmIngestDag) can grow the ANN index
    * alongside the minhash one with the same replay semantics: day one
    * BUILDS the index (train + [[writeIndex]]); every later day appends
    * under the frozen model; a `_batches/<namespace>-<batchId>` marker
    * makes each batch apply at most once (a replayed day is a no-op).
    * The DAG claims `day-<id>`, the live grow leg
    * ([[graft.streaming.StreamAnnGrow]]) `mb-<id>`.
    *
    * The claim protocol, its crash states and the mutation lease are
    * [[graft.streaming.Markers.claimBatch]]'s, shared with the BM25
    * index; this supplies the IVF-PQ parts. The lease also serializes
    * against [[rebuildIfDrifted]]: an append racing its retrain would
    * write OLD-model codes into the swapped-in NEW-model index, and its
    * marker would vanish in the swap's marker snapshot. A gate must
    * trust only a NON-EMPTY marker ([[appendBatchApplied]]).
    * Returns rows applied; -1 for a replay / unrepairable claim.
    */
  def appendBatch(
      spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
      idCol: String, vecCol: String, indexDir: String, batchId: Long,
      nlist: Int = 32, m: Int = 8, k: Int = 16,
      namespace: String = "day",
      leaseMaxWaitMs: Long = graft.sources.BuildLock.DefaultMaxWaitMs,
      leaseMs: Long = graft.sources.BuildLock.DefaultLeaseMs): Long = {
    val layout = Map("nlist" -> nlist.toString, "m" -> m.toString, "k" -> k.toString)
    graft.streaming.Markers.claimBatch(spark, indexDir, batchId, namespace,
      "_centroids", "IVF-PQ index mutation", leaseMs, leaseMaxWaitMs,
      // a crashed rebuild swap must never be read as "no markers" (the
      // silent single-day rebuild)
      heal = () => healStagedRebuild(spark, indexDir))(
      build = () => {
        // day one may be smaller than the target cell count — cap nlist
        // (and the codebook size) at what exists; probing a small index
        // is then exhaustive, and the cell layout grows into its skew
        val n = emb.filter(col(vecCol).isNotNull).count()
        if (n > 0L) { // an empty day one marks and builds nothing
          writeIndex(emb, idCol, vecCol,
            train(emb, idCol, vecCol, m, math.min(k.toLong, n).toInt),
            indexDir, math.min(nlist.toLong, n).toInt)
          // layout stamp (graft.sources.IndexConf) — AFTER writeIndex,
          // whose root-level overwrite would wipe a pre-written stamp.
          // REQUESTED values are stamped, not the capped ones: producers
          // coordinate on what they ask for
          graft.sources.IndexConf.stamp(spark, indexDir, layout)
        }
        n
      },
      // appends quantize under the PERSISTED frozen model, so the
      // caller's build-only (nlist, m, k) must match the stamp — a
      // mismatch fails loudly (the Bm25.appendBatch `buckets`
      // discipline); a pre-stamp index is stamped with the caller's
      // values. rebuildIfDrifted stamps its staged tree instead: a
      // rebuild may legitimately change the layout
      validate = () => {
        graft.sources.IndexConf.ensure(spark, indexDir, layout, "IVF-PQ index")
        readIndex(spark, indexDir)
      },
      append = (idx: IvfPqIndex) => appendToIndex(idx, emb, idCol, vecCol)
        .agg(coalesce(sum(col("n_added")), lit(0L))).collect().head.getLong(0))
  }

  /** True iff `batchId` was APPLIED to the index at `indexDir` — the gate
    * a DAG task must use instead of bare marker existence: the marker is
    * claimed empty before the (non-idempotent) append and rewritten with
    * the applied row count only after it commits, so an empty marker is a
    * crashed attempt that bare `exists` would report as green forever.
    */
  def appendBatchApplied(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batchId: Long, namespace: String = "day"): Boolean =
    graft.streaming.Markers.appliedNonEmpty(spark, indexDir, batchId, namespace)

  /** Occupancy-DRIFT gate for a persisted index: when appends under the
    * frozen coarse quantizer pile into few cells (the data distribution
    * moved), probe cost and recall both degrade — this is the signal that
    * RETRAINING is due, measured as cell-size skew (max/mean) now vs at
    * build time, plus total growth. One row:
    * (n_cells, n_build, n_now, growth, build_skew, cur_skew, retrain_due).
    * Cost: the current counts aggregate scans only the partition column
    * of the code table (column-pruned row counts, no code bytes); the
    * build reference is the `_occupancy` sidecar (nlist rows).
    */
  def occupancyDrift(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxSkewGrowth: Double = 2.0, maxGrowth: Double = 4.0): DataFrame = {
    val build = graft.sources.Sidecar.read(spark, s"$path/_occupancy")
      .agg(count(lit(1)).as("n_cells_b"), sum(col("n")).as("n_build"),
        max(col("n")).as("max_b"))
    val now = spark.read.parquet(path).groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_now"),
        max(col("n")).as("max_n"))
    now.crossJoin(build)
      .select(
        col("n_cells").cast("long").as("n_cells"),
        col("n_build").cast("long").as("n_build"),
        col("n_now").cast("long").as("n_now"),
        round(col("n_now").cast("double") / col("n_build"), 4).as("growth"),
        round(col("max_b") * col("n_cells_b").cast("double") / col("n_build"), 4)
          .as("build_skew"),
        round(col("max_n") * col("n_cells").cast("double") / col("n_now"), 4)
          .as("cur_skew"))
      .withColumn("retrain_due",
        col("cur_skew") > col("build_skew") * maxSkewGrowth
          || col("growth") > maxGrowth)
  }

  /** ACT on [[occupancyDrift]] (r10 verdict #4 — the gate used to flag
    * retrain-due and nothing consumed it): when the gate fires, retrain
    * the coarse centroids AND the PQ codebooks on the union corpus and
    * rewrite the index wholesale ([[writeIndex]] — fresh `_occupancy`
    * reference, so the gate re-arms at the new distribution); when it
    * does not, touch NOTHING (the no-drift day leaves every artifact
    * byte on disk identical — spec-asserted). The rebuild is STAGED in a
    * sibling dir — data, sidecars AND the `_batches` replay markers (the
    * rebuilt index already CONTAINS every applied day, so a replayed day
    * must still no-op) — then swapped in by rename once sealed, so no
    * crash instant leaves markers absent while an index exists
    * ([[healStagedRebuild]] finishes or discards an interrupted swap
    * from every entry point). `unionCorpus` must carry the full vectors of
    * everything indexed (the embedding store the appends drew from) —
    * codes are lossy, an index cannot retrain from itself. Returns true
    * iff a rebuild happened.
    *
    * `unionCorpus` is BY-NAME and evaluated UNDER the lease, after the
    * drift gate fires (r17): a parquet-backed frame snapshots its file
    * listing at construction, so a by-value argument built before the
    * lease could miss a concurrent append that lands between construction
    * and acquisition — the rebuild would re-encode WITHOUT those rows
    * while carrying their replay marker through the swap (silent,
    * permanent loss: the batch can never re-apply). Callers must pass
    * the EXPRESSION that constructs the frame (LlmIngestDag passes a
    * `def`), not a pre-built `val`, or they re-open that window. A
    * no-drift day now also never constructs the union frame at all.
    *
    * Scale shape: the gate itself reads only the partition column + the
    * nlist-row sidecar; a fired rebuild costs one train (iters+1 scans,
    * bounded model collect) + one encode scan + the partitioned write —
    * the full-build price, paid only when drift says the cheap appends
    * have degraded probe pruning enough to matter.
    */
  def rebuildIfDrifted(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      unionCorpus: => DataFrame, idCol: String, vecCol: String,
      nlist: Int = 32, m: Int = 8, k: Int = 16,
      maxSkewGrowth: Double = 2.0, maxGrowth: Double = 4.0,
      leaseMs: Long = graft.sources.BuildLock.DefaultLeaseMs): Boolean =
    // the whole gate + retrain + swap runs under the artifact's build
    // lease (r16): with the live grow leg beside the DAG, an unleased
    // rebuild could retrain WHILE a stream append lands — the append's
    // old-model codes would ride into the new-model index and its
    // marker, committed after this method's marker snapshot, would
    // vanish in the swap. The lease also makes "the ONE writer" a
    // property the system enforces rather than a deployment convention
    // (the writer-mode heal below discards stages, which is only safe
    // when no other writer is live). Readers stay lock-free.
    graft.sources.BuildLock.withLease(
      spark, indexDir, "IVF-PQ index rebuild",
      leaseMs = leaseMs, mutation = true) {
    healStagedRebuild(spark, indexDir, writer = true) // the ONE writer:
    // may also discard a stale/unsealed stage before staging its own
    // adjudicate dead claims BEFORE the drift gate: the rebuild's
    // wholesale rewrite destroys their manifest proofs, turning a clean
    // crashed append permanently red — and its empty claim would ride
    // the marker snapshot through the swap, no-op'ing the batch's retry
    // forever (the crash-fuzz seed-7 one-batch loss, r18)
    graft.streaming.Markers.healDeadClaims(
      new org.apache.hadoop.fs.Path(indexDir)
        .getFileSystem(spark.sessionState.newHadoopConf()), indexDir)
    val due = occupancyDrift(spark, indexDir, maxSkewGrowth, maxGrowth)
      .select(col("retrain_due")).head().getBoolean(0)
    if (!due) return false
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bdir = new org.apache.hadoop.fs.Path(s"$indexDir/_batches")
    val markers: Seq[(String, Array[Byte])] =
      if (!fs.exists(bdir)) Nil
      else fs.listStatus(bdir).toSeq.filter(_.isFile).map { st =>
        val in = fs.open(st.getPath)
        try (st.getPath.getName, in.readAllBytes()) finally in.close()
      }
    // evaluate the by-name union HERE — under the lease, after the
    // gate — so its parquet file listing cannot predate a concurrent
    // append (scaladoc)
    val union = unionCorpus
    val n = union.filter(col(vecCol).isNotNull).count()
    require(n > 0, "rebuildIfDrifted: empty union corpus")
    val effNlist = math.min(nlist.toLong, n).toInt
    val effK = math.min(k.toLong, n).toInt
    // stage the whole rebuild in a SIBLING dir, markers included, then
    // swap it in by rename — the live index (and its `_batches` replay
    // markers) is never transiently absent (r11 ADVICE: the in-memory
    // marker snapshot + in-place overwrite left a crash window in which
    // the next appendBatch saw no markers, took the build branch, and
    // silently rebuilt from a single day's vectors)
    val staged = new org.apache.hadoop.fs.Path(stagedRebuildDir(indexDir))
    fs.delete(staged, true)
    writeIndex(union, idCol, vecCol,
      train(union, idCol, vecCol, m, effK), staged.toString, effNlist)
    val sbdir = new org.apache.hadoop.fs.Path(staged, "_batches")
    fs.mkdirs(sbdir)
    markers.foreach { case (name, bytes) =>
      val out = fs.create(new org.apache.hadoop.fs.Path(sbdir, name), true)
      out.write(bytes)
      out.close()
    }
    // the rebuild owns the layout: stamp the staged tree with THIS
    // call's requested parameters (possibly different from the old
    // stamp — every code was just rewritten under them), so the stamp
    // rides the swap atomically like the replay markers
    graft.sources.IndexConf.stamp(spark, staged.toString,
      Map("nlist" -> nlist.toString, "m" -> m.toString, "k" -> k.toString))
    // sentinel: the staged tree is complete and may replace the index.
    // Crash before it -> heal drops the stage (old index intact); crash
    // after the delete -> heal finishes the rename (markers inside)
    fs.create(new org.apache.hadoop.fs.Path(staged, SwapReady), true).close()
    fs.delete(new org.apache.hadoop.fs.Path(indexDir), true)
    // result-checked: a failed swap-in with the index absent leaves the
    // sealed stage for the next entry point's heal to complete — it must
    // never pass silently (a concurrent reader's heal completing the
    // swap first makes the rename fail WITH the index present: benign)
    if (!fs.rename(staged, new org.apache.hadoop.fs.Path(indexDir)))
      require(fs.exists(new org.apache.hadoop.fs.Path(indexDir)),
        s"rebuildIfDrifted: swap-in rename failed for $indexDir — the " +
          "sealed stage remains; the next entry point's heal completes it")
    fs.delete(new org.apache.hadoop.fs.Path(indexDir, SwapReady), false)
    true
    }

  /** The staged-rebuild sibling of an index root (outside it: the swap
    * deletes the root wholesale) and the completeness sentinel inside a
    * stage.
    */
  private def stagedRebuildDir(indexDir: String): String =
    s"${indexDir.stripSuffix("/")}.rebuild.staged"
  private val SwapReady = "_swap_ready"

  /** Finish (any caller) or discard (writer only) an interrupted
    * [[rebuildIfDrifted]] swap — called by every index entry point so a
    * crashed rebuild can never be read as an empty/partial index. The
    * one action safe from EVERY caller is COMPLETING a sealed swap:
    * stage sealed ([[SwapReady]]) + live index ABSENT (crash between the
    * delete and the rename) -> rename the stage in, markers and sidecars
    * included. Discarding an unsealed/stale stage is gated on
    * `writer = true` (only [[rebuildIfDrifted]] passes it — r12 ADVICE:
    * a readIndex/appendBatch heal racing a CONCURRENT rebuild could
    * delete the stage mid-write, after which the writer's sentinel
    * recreated an empty stage and the swap installed it over the live
    * index). A reader-seen stale stage is therefore left as debris until
    * the next writer pass — never destroyed from a read path.
    */
  private[graft] def healStagedRebuild(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      writer: Boolean = false): Unit = {
    val idx = new org.apache.hadoop.fs.Path(indexDir)
    val fs = idx.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new org.apache.hadoop.fs.Path(stagedRebuildDir(indexDir))
    if (!fs.exists(staged)) return
    val swapReady = fs.exists(new org.apache.hadoop.fs.Path(staged, SwapReady))
    if (swapReady && !fs.exists(idx)) {
      // racing healers are benign: the loser's rename fails with the
      // index already installed by the winner
      if (!fs.rename(staged, idx))
        require(fs.exists(idx),
          s"healStagedRebuild: completing rename failed for $indexDir " +
            "and no live index exists — filesystem refused the swap")
      fs.delete(new org.apache.hadoop.fs.Path(indexDir, SwapReady), false)
    } else if (writer) {
      fs.delete(staged, true)
    }
  }

  /** Rehydrate a persisted index: two bounded sidecar reads (nlist
    * centroids, m×k codebook rows) — the corpus-sized code table itself
    * stays on disk until a probe scans its cells.
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    healStagedRebuild(spark, path)
    val centroids = graft.sources.Sidecar.read(spark, s"$path/_centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    val books = graft.sources.Sidecar.read(spark, s"$path/_books").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2).toArray))
      .groupBy(_._1._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._1._2).map(_._2) }
    IvfPqIndex(path, centroids, PqModel(books))
  }

  /** [[ivfTopK]] against the PERSISTED index: probe cells resolve on the
    * driver (bounded — |queries| × nlist dots), and the code-table scan
    * carries a STATIC `cell IN (probed…)` predicate, so partition pruning
    * happens at planning time — only the probed cells' files are read,
    * assertable on the executed plan (no reliance on runtime DPP
    * heuristics). Downstream is the shared ADC-shortlist → exact-refine
    * tail, bit-identical to the in-query path given the same model and
    * centroids. `corpus` supplies the full vectors for the refine stage
    * only (O(queries × refine) rows by id).
    */
  def ivfTopKIndexed(
      index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int = 8, refine: Int = 200): DataFrame = {
    require(refine >= k, "refine shortlist must be at least k")
    val sp = corpus.sparkSession
    import sp.implicits._
    val qRows = collectQueries(queries, idCol, vecCol)
    val luts = qRows.map { case (_, qv) => lutFor(index.model, qv) }
    val effProbe = math.min(nprobe, index.centroids.length)
    val probeRows = probeCells(qRows, index.centroids, effProbe)
    val probes = probeRows.toDF("qidx", "qid", "cell")
    val cells = probeRows.map(_._3).distinct

    val topR = udaf(new TopKAggregator(refine), Encoders.product[Scored])
    val shortlist = sp.read.parquet(index.path)
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        VectorFunctions.pqAdcIdx(col("codes"), col("qidx"), luts)
          .cast("double").as("adc"))
      .groupBy(col("qid"))
      .agg(topR(col("id"), col("adc")).as("ids"))
      .select(col("qid"), explode(col("ids")).as("id"))

    refineExact(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** Driver-side probe-cell selection, mirroring VectorKernels.
    * nearestCells' order (dot desc, first index on ties). Bounded work:
    * |queries| × |centroids| dots on the driver (the small-query + small-
    * model contract). Returns (query index, query id, cell) rows.
    */
  private def probeCells(
      qRows: Array[(Long, Array[Double])], centroids: Array[Array[Float]],
      nprobe: Int): Seq[(Int, Long, Int)] =
    qRows.zipWithIndex.toSeq.flatMap { case ((qid, qv), qidx) =>
      val dots = centroids.map { ctr =>
        var dot = 0.0
        var i = 0
        val n = math.min(qv.length, ctr.length)
        while (i < n) { dot += qv(i) * ctr(i); i += 1 }
        dot
      }
      val taken = new Array[Boolean](centroids.length)
      (0 until nprobe).map { _ =>
        var best = -1
        var bestDot = Double.MinValue
        var c = 0
        while (c < centroids.length) {
          if (!taken(c) && dots(c) > bestDot) { bestDot = dots(c); best = c }
          c += 1
        }
        taken(best) = true
        (qidx, qid, best)
      }
    }

  /** Bounded collect of the query set (q25's small-query contract): the
    * vectors become LUT/plan literals.
    */
  private def collectQueries(
      queries: DataFrame, idCol: String, vecCol: String): Array[(Long, Array[Double])] = {
    val qRows = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qRows.nonEmpty, "empty query set")
    qRows
  }

  /** lut(s)(c) = exact long dot of the query's grid subvector with
    * subspace s's code-c centroid.
    */
  private def lutFor(model: PqModel, qv: Array[Double]): Array[Array[Long]] = {
    val sub = model.subDim
    model.books.zipWithIndex.map { case (book, s) =>
      val q6 = (0 until sub).map(j => math.round(qv(s * sub + j) * 1e6)).toArray
      book.map(c => (0 until sub).map(j => q6(j) * c(j)).sum)
    }
  }

  /** Exact-cosine re-rank of an (qid, id) shortlist — the shared tail of
    * both search paths. The shortlist is BOUNDED (O(queries × refine)),
    * so it broadcasts explicitly and the corpus side is probed in place:
    * full vectors never shuffle for the refine (PlanAuditSpec asserts no
    * float array on any PQ-path shuffle). Returns
    * (query_id, rank, neighbor_id).
    */
  private def refineExact(
      shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"))
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    c.join(broadcast(shortlist), Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id"),
        round(VectorFunctions.cosineSimilarity(col("v"), col("qv")), 6).as("score"))
      .groupBy("qid")
      .agg(topk(col("id"), col("score")).as("ids"))
      .select(col("qid").as("query_id"), posexplode(col("ids")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"), col("neighbor_id"))
  }
}
