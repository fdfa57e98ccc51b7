package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Eval

/** Streaming face of the distribution-drift pair
  * ([[graft.ops.Eval.psi]] + [[graft.ops.Eval.wasserstein1]]): scored
  * rows arrive as a stream — a live quality-scorer's output, an ingest
  * feed compared against the corpus it should resemble — and every
  * micro-batch emits (psi, w1) of EVERYTHING seen so far against a fixed
  * reference histogram. PSI says "bucket probabilities moved", W1 says
  * "and this far".
  *
  * Exact: the state is the ≤(edges+1)-row bucket count table and integer
  * sums merge across any split of the stream
  * ([[graft.ops.Eval.mergeBucketCounts]]), so the fold is BIT-IDENTICAL
  * to a one-shot [[graft.ops.Eval.driftFromCounts]] (StreamingSpec pins
  * stream == batch). Each trigger pays one narrow bucket dag +
  * partial-agg over its increment; the stream is never rescanned.
  *
  * Restart: the [[MergeMonitor]] contract (`countsSink`,
  * `initialCounts`, `initialBatchId`). Input: a double-castable column
  * named by `scoreCol`; `refCounts` is the reference histogram in the
  * [[graft.ops.Eval.bucketCounts]] schema (bucket, cnt).
  */
object ScoreDriftJob {

  def start(scores: DataFrame,
            refCounts: DataFrame,
            edges: Seq[Double],
            outSink: DataFrame => Unit,
            checkpointDir: String,
            scoreCol: String = "score",
            initialCounts: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            countsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MergeMonitor.start(scores, checkpointDir, trigger, initialCounts,
        initialBatchId, countsSink)(
      Eval.bucketCounts(_, col(scoreCol), edges),
      Eval.mergeBucketCounts, Eval.driftFromCounts(_, refCounts, edges),
      outSink)
}
