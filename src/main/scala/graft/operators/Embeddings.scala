package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dimension-wise aggregation over embedding columns. */
object Embeddings {

  /** Per-class centroids of an `array<float>` embedding column, one output
    * row per (group, dimension) — the corpus statistic behind IVF coarse
    * quantizers, class prototypes, and drift monitors.
    *
    * Shape: posexplode each vector into (group, dim, value) rows, then a
    * plain hash aggregate. The shuffle carries (group, dim, partial sum) —
    * map-side partial aggregation reduces ×(rows/partition), and no task
    * ever holds more than one vector, so a 4k-dim embedding at 100 TB
    * costs bandwidth, not memory. Values accumulate as DECIMAL so the sum
    * (hence the centroid) is independent of partition order — a double
    * sum would drift in the last bits between runs/engines.
    *
    * `dim` is 1-based. Returns (grpCol, dim, centroid, n_vectors).
    */
  def classCentroids(
      emb: DataFrame, grpCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb
      .select(col(grpCol), posexplode(col(vecCol)).as(Seq("dim0", "v")))
      .select(
        col(grpCol),
        (col("dim0") + 1).cast("int").as("dim"),
        // float -> double -> decimal: both hops are value-deterministic,
        // and the decimal sum is order-independent
        col("v").cast("double").cast("decimal(20,10)").as("dv"))
      .groupBy(col(grpCol), col("dim"))
      .agg(
        round(sum(col("dv")).cast("double") / count(lit(1)), 6).as("centroid"),
        count(lit(1)).as("n_vectors"))

  /** Johnson–Lindenstrauss RANDOM PROJECTION of the embedding column to
    * `outDim` dimensions with a deterministic ±1 sign matrix (Achlioptas:
    * ±1 entries preserve pairwise distances within 1±ε like gaussians do,
    * and a sign matrix needs no stored model — the matrix IS the hash
    * formula, reproducible on any engine). The compute/storage lever
    * ABOVE int8 quantization: q57/q60 shrink bytes per dimension, this
    * shrinks DIMENSIONS (64→16 = 4× fewer multiply-adds per kNN probe);
    * they compose.
    *
    * sign(i, j) = 1 − 2·((i+13)·(j+101)·2654435761 mod (2³¹−1) mod 2) —
    * pure integer math, identical in SQL, all intermediates < 2⁶³ for
    * dims into the thousands (no ANSI overflow either engine). The
    * multiplicative form matters: a LINEAR index hash mod a small prime
    * yields near-constant or strongly column-correlated signs (the first
    * r7 cut used i·a + j·b mod 97 — every sign was +1 for small indices
    * and projected kNN recall collapsed to 0.08; measured column-dot
    * spread of this form tracks a random ±1 matrix at 64×16 and 256×32).
    * Per output dim j:
    * proj_j = Σ_i round(v_i·10⁶)·sign(i,j) / 10⁶ — accumulated EXACTLY on
    * the 6-dp integer grid as LONGS (the q43 decimal-sum discipline at
    * long-add speed inside the codegen'd [[graft.plans.SignProject]]
    * kernel — the decimal HOF fold benched 2.8 s for 2k×16 at sf0.1, the
    * long HOF ~0.9 s, the native kernel ~0.3 s, identical values; sums
    * stay far under 2⁶³). Emitted
    * WITHOUT the JL 1/√outDim normalization: the constant cancels out of
    * cosine and of any distance RANKING (the operator's consumers), and
    * skipping it keeps the output exact on the grid — no float rounding
    * step for engines to disagree on (a /√k then round-6dp lands on
    * round-half ties). Apply 1/√outDim downstream iff calibrated
    * distances matter.
    *
    * Shape: pure per-row column math (`transform` over the out dims, an
    * `aggregate` fold per entry) — NO explode, NO shuffle, embarrassingly
    * parallel; 100 TB cost is outDim·dim multiply-adds per row at scan
    * speed. Returns long format (id, dim, val) — exactly oracle-checkable,
    * and [[fromLong]]-style re-assembly is one groupBy when a vector
    * column is wanted.
    */
  def randomProject(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      outDim: Int = 16): DataFrame = {
    require(outDim > 0, "outDim must be positive")
    emb
      .select(col(idCol),
        posexplode(graft.plans.VectorFunctions
          .signProject(col(vecCol).cast("array<float>"), outDim))
          .as(Seq("dim0", "val")))
      .select(col(idCol), (col("dim0") + 1).cast("int").as("dim"), col("val"))
  }

  /** [[randomProject]] in vector form: (id, array<float> projection) —
    * the store/query shape the kNN operators consume (identical values,
    * identical determinism; float cast last). Same zero-shuffle scan-math.
    */
  def randomProjectVec(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      outDim: Int = 16): DataFrame = {
    emb.select(col(idCol),
      transform(graft.plans.VectorFunctions
        .signProject(col(vecCol).cast("array<float>"), outDim),
        x => x.cast("float")).as(vecCol))
  }

  /** In-query fidelity gate for the projection (q77): over all pairs of a
    * bounded id subset, the mean absolute error between full-dimension
    * cosine and projected-space cosine must stay under `maxMae` — the
    * property JL actually guarantees (pairwise angle preservation within
    * 1/√outDim-scale distortion). Top-k RANKING is deliberately not gated
    * here: on near-uniform vectors the true neighbor gap (~0.05 cosine on
    * the synthetic corpus) sits far below the k=16 distortion (~0.2), so
    * ranking necessarily scrambles in the worst-case regime — while on
    * clustered corpora (the real ANN regime) projected neighbors keep
    * cluster identity, which EmbeddingsSpec gates directly. Returns
    * (n_pairs, mae, mae_ok); the `mae` column of each sf's run is the
    * measured margin under `maxMae`.
    */
  def projectionFidelityGate(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      outDim: Int = 16, sampleIds: Int = 200, maxMae: Double = 0.25): DataFrame = {
    val cos = graft.plans.VectorFunctions.cosineSimilarity _
    val sub = emb.filter(col(idCol) < sampleIds)
      .select(col(idCol).as("id"), col(vecCol).cast("array<float>").as("v"))
    val subP = randomProjectVec(emb.filter(col(idCol) < sampleIds), idCol, vecCol, outDim)
      .select(col(idCol).as("id"), col(vecCol).as("p"))
    val joined = sub.as("a").join(sub.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        cos(col("a.v"), col("b.v")).as("cf"))
      .join(subP.select(col("id").as("ia"), col("p").as("pa")), Seq("ia"))
      .join(subP.select(col("id").as("ib"), col("p").as("pb")), Seq("ib"))
      .select(col("cf"), cos(col("pa"), col("pb")).as("cp"))
    joined.agg(
      count(lit(1)).as("n_pairs"),
      round(avg(abs(col("cf") - col("cp"))), 4).as("mae"))
      .select(col("n_pairs"), (col("mae") <= maxMae).as("mae_ok"))
  }

  /** Per-dimension [min, max] over the corpus — the quantization ranges.
    * One aggregation, bounded driver collect (2 doubles per dimension,
    * the IvfKnn contract). Constant dims get a widened range so the
    * scale below never divides by zero.
    */
  def dimRanges(emb: DataFrame, vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val rows = emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .orderBy("dim")
      .collect()
    val mins = rows.map(_.getDouble(1))
    val maxs = rows.map(r => if (r.getDouble(2) > r.getDouble(1)) r.getDouble(2)
      else r.getDouble(1) + 1.0)
    (mins, maxs)
  }

  /** INT8 scalar quantization of `array<float>` with per-dimension affine
    * ranges: v → round((v−min_d)/(max_d−min_d)·255)−128 ∈ [−128,127] as
    * `array<tinyint>` — 4× less storage/shuffle bandwidth than float32,
    * the memory lever for billion-vector corpora (store qvec, keep the
    * float column cold). Pure codegen'd `transform` over literal range
    * arrays; [[dequantize]] reconstructs floats at scan time with ≤ half
    * a quantization step of error per dimension (spec-asserted), so every
    * existing float operator (kNN, centroids, near-dup) runs unchanged on
    * the quantized store.
    */
  def quantize(
      v: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val minsA = array(mins.map(lit): _*)
    val scaleA = array(mins.indices.map(i => lit(255.0 / (maxs(i) - mins(i)))): _*)
    transform(v, (x, i) =>
      least(greatest(
        round((x.cast("double") - element_at(minsA, i + 1))
          * element_at(scaleA, i + 1)).cast("int") - 128, lit(-128)), lit(127))
        .cast("byte"))
  }

  /** Reconstruct approximate floats from [[quantize]]'s int8 codes. */
  def dequantize(
      q: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val minsA = array(mins.map(lit): _*)
    val stepA = array(mins.indices.map(i => lit((maxs(i) - mins(i)) / 255.0)): _*)
    transform(q, (x, i) =>
      ((x.cast("double") + 128.0) * element_at(stepA, i + 1)
        + element_at(minsA, i + 1)).cast("float"))
  }

  /** Global |max| of the corpus — the SYMMETRIC quantization scale. One
    * aggregation, one driver double.
    */
  def absMax(emb: DataFrame, vecCol: String = "embedding"): Double = {
    val m = emb
      .select(max(array_max(transform(col(vecCol), x => abs(x.cast("double"))))))
      .head().getDouble(0)
    if (m > 0) m else 1.0
  }

  /** Symmetric int8 quantization: q = round(v/absMax·127) ∈ [−127,127].
    * ONE global scale (vs [[quantize]]'s per-dim affine), which cancels
    * out of cosine algebraically — so
    * `Int8CosineSimilarity(quantizeSym(a), quantizeSym(b))` scores the
    * integer codes directly: no dequantize pass, pure int arithmetic
    * (graft.plans.VectorKernels.cosineInt8).
    */
  def quantizeSym(v: Column, absMax: Double): Column =
    transform(v, x =>
      least(greatest(round(x.cast("double") * lit(127.0 / absMax)).cast("int"),
        lit(-127)), lit(127)).cast("byte"))
}
