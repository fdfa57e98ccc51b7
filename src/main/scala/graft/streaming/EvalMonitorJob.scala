package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Eval

/** Streaming face of the per-class confusion audit
  * ([[graft.ops.Eval.confusionStats]]): (prediction, gold) pairs arrive as
  * a stream — a deployed filter's routing decisions joined with delayed
  * human labels, a shadow classifier scored against the incumbent — and
  * every micro-batch emits the per-class tp/fp/fn/precision/recall/F1
  * table over EVERYTHING seen so far: watch a class's precision decay live
  * instead of at the nightly rebuild.
  *
  * Exact: the state is the (pred, gold, n) cell table and integer counts
  * sum across any split of the stream, so the fold is BIT-IDENTICAL to a
  * one-shot build (StreamingSpec pins stream == batch). Each trigger pays
  * one partial-combined aggregate over its increment plus a C²-cell merge
  * (C = class count); the stream is never rescanned.
  *
  * Restart: the [[MergeMonitor]] contract (`cellsSink`, `initialCells`,
  * `initialBatchId`). Input: (pred, gold). Output per trigger: the
  * [[graft.ops.Eval.confusionFromCells]] table.
  */
object EvalMonitorJob {

  def start(scored: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            initialCells: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            cellsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MergeMonitor.start(scored, checkpointDir, trigger, initialCells,
        initialBatchId, cellsSink)(
      Eval.confusionCells(_, col("pred"), col("gold")),
      Eval.mergeConfusionCells, Eval.confusionFromCells, outSink)
}
