package graft.streaming

import graft.operators.Bm25
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous posting-index growth — the BM25 family's live producer leg
  * (r15 verdict #1), [[StreamAnnGrow]]'s lexical twin: new documents on
  * the feed grow the SAME persisted q82b posting index the nightly DAG
  * grows. The batch protocol is [[Bm25.appendBatch]] VERBATIM under the
  * `mb` marker namespace ([[Markers]] owns the producer namespacing and
  * the claim protocol):
  *   - applied marker → replay no-op; claim-empty → append → commit
  *     with count, `.pre`-manifest self-heal for crashed retries;
  *   - EVERY mutation runs under the cross-JVM build lease: the day-one
  *     race loser appends onto the winner's index, and two producers'
  *     appends serialize — the `_stats` (n, tt) update is a
  *     read-modify-write that an unleased concurrent append would
  *     half-lose (spec-asserted: concurrent stream+DAG appends, n exact);
  *   - the bucket count rides [[graft.sources.IndexConf]] and a
  *     mismatch fails loudly — two producers routing postings to
  *     different pb layouts would corrupt every probe's pruning.
  *
  * Unlike the ANN leg there is NO frozen-model drift to watch: posting
  * rows are a stateless per-doc transform and df is probe-time-derived,
  * so a stream-grown index's probe results stay BIT-IDENTICAL to a
  * fresh build of the union corpus ([[Bm25.appendToIndex]]'s exactness
  * contract) — the spec asserts the stream-grown index probes equal to
  * a one-shot batch build, not merely close. The caller must not split
  * one document across micro-batches (a doc's postings all carry its
  * full dl), which foreachBatch's row-atomic delivery already
  * guarantees for row-per-document sources.
  *
  * Scale shape per micro-batch: one tokenize+aggregate pass over the
  * batch, one AQE-rebalanced shuffle into the touched pb buckets, one
  * one-row stats update — O(|batch| tokens), never a scan of the index
  * (measured flat over a 50-batch decade, ProbeGrowCurve /
  * SCALING_r17 §3). Trigger-interval and two-producer guidance is
  * [[StreamAnnGrow]]'s measured paragraph verbatim — same lease, same
  * serialization shape (minus the rebuild stall: this index has no
  * drift rebuild, so the only long lease hold to plan around is
  * compaction).
  */
object StreamBm25Grow {

  /** Start the live grow leg: each micro-batch of `docs`
    * (doc_id, text, lang rows — the [[Bm25.postingRows]] input shape)
    * appends into the posting index at `indexDir` under the `mb`
    * namespace. `onBatch(batchId, n)` observes docs applied: -1 for a
    * replay / unrepairable claim.
    */
  def start(
      docs: DataFrame, indexDir: String, checkpointDir: String,
      buckets: Int = 64,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      leaseMaxWaitMs: Long = graft.sources.BuildLock.DefaultMaxWaitMs): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = growBatch(batch.sparkSession, batch, indexDir, batchId,
          buckets, leaseMaxWaitMs)
        onBatch(batchId, n)
      }
      .start()

  /** One micro-batch of the protocol (unit-testable without a streaming
    * runtime). Returns docs applied; -1 for a replay / unrepairable
    * claim.
    */
  def growBatch(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      indexDir: String, batchId: Long, buckets: Int = 64,
      leaseMaxWaitMs: Long = graft.sources.BuildLock.DefaultMaxWaitMs): Long =
    Bm25.appendBatch(spark, batch, indexDir, batchId, buckets,
      namespace = "mb", leaseMaxWaitMs = leaseMaxWaitMs)

  /** Non-empty-marker gate for the stream's micro-batches. */
  def batchApplied(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batchId: Long): Boolean =
    Bm25.appendBatchApplied(spark, indexDir, batchId, namespace = "mb")
}
