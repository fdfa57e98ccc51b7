package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.LinAlg

/** Streaming face of the exact embedding-covariance audit
  * ([[graft.ops.LinAlg.embedCovariance]]): embedding vectors arrive as a
  * stream — a live ingest's encoder output, a shadow encoder compared
  * against production — and every micro-batch emits the covariance matrix
  * over EVERYTHING seen so far. A collapsing trace or a rotating dominant
  * axis is an encoder regression you want at ingest time, not at the
  * nightly rebuild.
  *
  * Exact: the state is the (i, j) integer moments table and integer sums
  * merge across any split of the stream, so the fold is BIT-IDENTICAL to
  * a one-shot pass (StreamingSpec pins stream == batch). Each trigger pays
  * ONE GramMatrix aggregate over its increment plus a merge of at most
  * dim·(dim+1)/2 rows; the stream is never rescanned.
  *
  * Restart: the [[MergeMonitor]] contract (`momentsSink`,
  * `initialMoments`, `initialBatchId`). Input: an embedding column named
  * by `vecCol`. Output per trigger: the
  * [[graft.ops.LinAlg.covarianceFromMoments]] table.
  */
object EmbedDriftJob {

  def start(emb: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            vecCol: String = "embedding",
            dim: Int = 64,
            scale: Int = 1000,
            initialMoments: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            momentsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MergeMonitor.start(emb, checkpointDir, trigger, initialMoments,
        initialBatchId, momentsSink)(
      LinAlg.secondMoments(_, vecCol, dim, scale),
      LinAlg.mergeMoments, LinAlg.covarianceFromMoments, outSink)
}
