package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Mix

/** Streaming face of DoReMi domain reweighting
  * ([[graft.ops.Mix.doremiWeights]]): (stratum, loss) rows — per-document
  * proxy/reference-model losses scored at ingest — arrive as a stream and
  * every micro-batch emits the mixture table (stratum, n_docs, avg_loss,
  * ref_loss, excess, alpha) over EVERYTHING seen so far: watch a domain's
  * α rise as its excess loss accumulates, not at the nightly rebuild.
  *
  * Exact: the state is the G-row (stratum, n_docs, sl) cell table and
  * exact Long sums merge across any split of the stream, so the fold is
  * BIT-IDENTICAL to a one-shot build (StreamingSpec pins stream == batch);
  * the exp/normalize assembly runs on the merged G rows. Each trigger pays
  * one partial-combined aggregate over its increment plus a G-cell merge
  * (G = domain count); the stream is never rescanned.
  *
  * Restart: the [[MergeMonitor]] contract (`cellsSink`, `initialCells`,
  * `initialBatchId`). Input: (stratum, loss), loss an exact integer.
  */
object MixtureMonitorJob {

  def start(scored: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            eta: Double = 1.0,
            epsMille: Int = 100,
            initialCells: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            cellsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MergeMonitor.start(scored, checkpointDir, trigger, initialCells,
        initialBatchId, cellsSink)(
      Mix.lossCells(_, col("stratum"), col("loss")),
      Mix.mergeLossCells, Mix.doremiFromCells(_, eta, epsMille), outSink)
}
