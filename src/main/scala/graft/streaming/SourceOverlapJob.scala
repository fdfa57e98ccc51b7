package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Dedup

/** Streaming face of the cross-source overlap sketch
  * ([[graft.ops.Dedup.sourceOverlapSketch]]): per-source minhash-union
  * signature cells are folded as documents arrive, and every micro-batch
  * emits the pairwise Jaccard estimate matrix. It guards the ingest window
  * between rebuilds of the EXACT overlap matrix, whose distinct gram sets
  * are corpus-sized.
  *
  * Exact: the sketch state is (src, j, min-hash-v) and elementwise min is
  * associative and commutative, so the fold is BIT-IDENTICAL to a one-shot
  * build (StreamingSpec pins stream == batch). Each trigger pays one
  * narrow signature pass over its increment plus a G×k-cell merge; the
  * corpus is never rescanned.
  *
  * Restart: the [[MergeMonitor]] contract (`cellsSink`, `initialCells`).
  * The min-merge is idempotent, so no batch id is stored across restarts
  * and `cellsSink` receives only the raw (src, j, v) state. Input:
  * (source, text). Output per trigger: (src_a, src_b, jaccard_est).
  */
object SourceOverlapJob {

  def start(docs: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            w: Int = 3,
            k: Int = 64,
            initialCells: Option[DataFrame] = None,
            cellsSink: Option[DataFrame => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MergeMonitor.start(docs, checkpointDir, trigger, initialCells,
        Long.MinValue, cellsSink.map(sink => (_: Long, cells) => sink(cells)))(
      Dedup.sourceSignatureCells(_, col("source"), col("text"), w, k),
      Dedup.mergeSignatureCells, Dedup.overlapFromCells(_, k), outSink)
}
