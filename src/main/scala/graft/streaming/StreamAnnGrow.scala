package graft.streaming

import graft.operators.Pq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ANN-index growth — the IVF-PQ family's live producer leg
  * (r15 verdict #1): new embeddings on the feed grow the SAME persisted
  * q107b/q107c index the nightly DAG grows, instead of waiting for the
  * day batch. Every other persisted index already had its live twin
  * ([[StreamNearDup]] for text near-dup, [[StreamFingerprint]] for
  * media); the ANN and BM25 indexes were the asymmetry — and the r15
  * marker namespacing ([[Markers]]: `mb-<id>` for stream micro-batches,
  * `day-<id>` for DAG epoch days) existed precisely so this second
  * producer is safe to land.
  *
  * The batch protocol is [[Pq.appendBatch]] VERBATIM, namespace `"mb"` —
  * one implementation, not a streaming re-derivation, so the stream and
  * the DAG can never drift on what "applied" means:
  *   - an applied marker (non-empty `_batches/mb-<id>`) → replay no-op;
  *   - the claim commits EMPTY before the (non-idempotent) partitioned
  *     append, with a `.pre` data-file manifest recorded first, and
  *     rewrites with the applied count after — a crashed micro-batch
  *     retried by the checkpoint self-heals exactly when the manifest
  *     proves nothing landed, and reads red otherwise;
  *   - EVERY mutation (build-vs-append decision included) runs under
  *     the artifact's cross-JVM build lease: a stream deployed the same
  *     hour as the DAG's first day cannot double-build the root (the
  *     race loser appends instead), and a micro-batch landing while the
  *     DAG's `rebuild_ann_if_drifted` retrains WAITS the rebuild out
  *     instead of writing old-model codes into the new-model index and
  *     losing its marker in the swap's snapshot;
  *   - layout rides [[graft.sources.IndexConf]] (stamp-or-validate on
  *     (nlist, m, k)), and heals ride `healStagedRebuild`.
  *
  * Freezing semantics: appends quantize under the index's FROZEN coarse
  * centroids + codebooks (the [[Pq.appendToIndex]] contract), so a
  * long-running stream drifts occupancy exactly like a long-running DAG
  * — [[Pq.occupancyDrift]] watches both producers' appends through one
  * artifact, and `rebuild_ann_if_drifted` (LlmIngestDag) retrains on the
  * same cadence regardless of which leg grew the cells.
  *
  * Scale shape: each micro-batch pays one encode pass over the batch
  * (codegen'd PqEncode/nearestCells kernels), one AQE-rebalanced
  * shuffle of ~12 B rows into its touched cells, and sidecar-bounded
  * driver work — never a scan of the index. Cost is O(|batch|),
  * independent of index size — MEASURED over a 50-batch decade
  * (ProbeGrowCurve, SCALING_r17 §3: batch wall flat while the index
  * grew 3.5×; the nightly compaction leg bounds the file count in a
  * 13→130→13 sawtooth).
  *
  * == Deployment guidance (measured, ProbeLeaseCost / SCALING_r17 §2) ==
  * The cross-JVM lease costs ~1.6 ms per micro-batch on a local
  * filesystem (claim + read-back + renewer + release) against a
  * ~0.8–1 s growBatch floor at 200–1000-row batches — noise; on an
  * object store budget tens of ms (three round trips), still noise at
  * any sane trigger. Pick the TRIGGER INTERVAL from two walls, not the
  * lease: (1) it must clear the growBatch wall (size
  * `maxOffsetsPerTrigger` so encode work dominates — bigger, rarer
  * batches amortize the fixed per-batch cost); (2) a micro-batch
  * arriving while `rebuild_ann_if_drifted` holds the lease waits the
  * WHOLE rebuild out and foreachBatch is serial, so the stream stalls
  * one full rebuild wall (measured: a 22k-vector rebuild of 4.2 s
  * stalled the concurrent append to 4.8 s vs 0.8 s unblocked; at
  * production sizes read minutes) — provision source retention /
  * queue depth for a rebuild-length stall, or schedule rebuilds in the
  * stream's quiet window. With BOTH producers live on one artifact the
  * lease serializes them: per-batch p50 doubles and p95 grows with
  * queueing (0.76 s solo → 1.86 s p50 / 6.1 s p95 convoyed at
  * back-to-back cadence) — keep the producers' combined duty cycle
  * (batch wall × cadence, summed) under ~50% of wall-clock or batches
  * queue without bound.
  */
object StreamAnnGrow {

  /** Start the live grow leg: each micro-batch of `emb` (an id column +
    * a float-array vector column) appends into the IVF-PQ index at
    * `indexDir` under the `mb` marker namespace. `onBatch(batchId, n)`
    * observes the applied row count — the monitoring hook, mirroring
    * [[StreamFingerprint.start]]: -1 for a replay / unrepairable claim.
    */
  def start(
      emb: DataFrame, idCol: String, vecCol: String,
      indexDir: String, checkpointDir: String,
      nlist: Int = 32, m: Int = 8, k: Int = 16,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      leaseMaxWaitMs: Long = graft.sources.BuildLock.DefaultMaxWaitMs): StreamingQuery =
    emb.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = growBatch(batch.sparkSession, batch, idCol, vecCol,
          indexDir, batchId, nlist, m, k, leaseMaxWaitMs)
        onBatch(batchId, n)
      }
      .start()

  /** One micro-batch of the protocol (factored out so the semantics are
    * unit-testable without a streaming runtime, like every other stream
    * leg's applyBatch/growBatch). Returns rows applied; -1 for a
    * replay / unrepairable claim.
    */
  def growBatch(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, vecCol: String, indexDir: String, batchId: Long,
      nlist: Int = 32, m: Int = 8, k: Int = 16,
      leaseMaxWaitMs: Long = graft.sources.BuildLock.DefaultMaxWaitMs): Long =
    Pq.appendBatch(spark, batch, idCol, vecCol, indexDir, batchId,
      nlist, m, k, namespace = "mb", leaseMaxWaitMs = leaseMaxWaitMs)

  /** Non-empty-marker gate for the stream's micro-batches — TRUE only
    * for a batch that provably committed ([[Pq.appendBatchApplied]]
    * under the `mb` namespace).
    */
  def batchApplied(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batchId: Long): Boolean =
    Pq.appendBatchApplied(spark, indexDir, batchId, namespace = "mb")
}
