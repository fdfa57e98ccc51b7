package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Profile

/** Streaming face of the column profiler
  * ([[graft.ops.Profile.columnProfile]]): rows arrive as a stream and
  * every micro-batch emits the per-column profile (nulls, distincts,
  * dominant value + share) over EVERYTHING seen so far — watch a feed's
  * null fraction jump or one value swallow a column the trigger it
  * happens, instead of at the nightly rebuild.
  *
  * Exact: the state is the (column, value, m) cell table and exact Long
  * counts merge across any split of the stream, so the fold is
  * BIT-IDENTICAL to a one-shot build (StreamingSpec pins stream == batch).
  * Each trigger pays one partial-combined aggregate over its increment
  * plus a cell merge. State is bounded by the profiled columns'
  * CARDINALITY: a near-unique key column grows it linearly, as it would
  * any COUNT(DISTINCT) state.
  *
  * Restart: the [[MergeMonitor]] contract (`cellsSink`, `initialCells`,
  * `initialBatchId`).
  */
object ProfileMonitorJob {

  def start(rows: DataFrame,
            cols: Seq[String],
            outSink: DataFrame => Unit,
            checkpointDir: String,
            initialCells: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            cellsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MergeMonitor.start(rows, checkpointDir, trigger, initialCells,
        initialBatchId, cellsSink)(
      Profile.profileCells(_, cols),
      Profile.mergeProfileCells, Profile.profileFromCells, outSink)
}
