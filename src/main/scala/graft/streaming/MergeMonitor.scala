package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Caches

/** The mergeable-state fold behind the live monitors ([[EmbedDriftJob]],
  * [[EvalMonitorJob]], [[MixtureMonitorJob]], [[ProfileMonitorJob]],
  * [[ScoreDriftJob]], [[SourceOverlapJob]]). Each trigger reduces its
  * increment to a small `partial` state, `merge`s it into the running
  * state and sends `emit(state)` to `outSink`. With an associative,
  * commutative merge of exact values (integer sums, elementwise min) the
  * folded state is BIT-IDENTICAL to one `partial` over the whole stream.
  * The state is lineage-cut per trigger ([[graft.ops.Caches.checkpoint]]),
  * as a foreachBatch frame dies with its trigger; round N is released the
  * moment N+1 is stored, so cache stays one state table deep.
  *
  * ==Restart contract==
  * The state lives in the DRIVER; `checkpointLocation` commits only
  * source offsets, so a bare restart (no `initial`) is a
  * stats-since-restart job. For durability, persist what `stateSink`
  * receives, `(batchId, state)`, atomically and latest-wins: it runs each
  * trigger BEFORE `outSink`, and offsets commit after foreachBatch
  * returns, so a crash in `outSink` replays a batch the snapshot holds.
  * On restart pass the snapshot as `initial` (required when
  * `initialBatchId` is given) and its id as `initialBatchId`. A replayed
  * batch (id <= the last merged one), or a sink-failure retry within one
  * run, re-emits the unchanged state instead of double-counting; an
  * idempotent merge may pass `Long.MinValue`.
  */
object MergeMonitor {

  def start(input: DataFrame,
            checkpointDir: String,
            trigger: Trigger,
            initial: Option[DataFrame],
            initialBatchId: Long,
            stateSink: Option[(Long, DataFrame) => Unit])
           (partial: DataFrame => DataFrame,
            merge: (DataFrame, DataFrame) => DataFrame,
            emit: DataFrame => DataFrame,
            outSink: DataFrame => Unit): StreamingQuery = {
    require(initialBatchId == Long.MinValue || initial.isDefined,
      s"initialBatchId $initialBatchId needs the initial state it was stored with")
    // foreachBatch triggers run sequentially, so plain vars are race-free
    @volatile var state = initial // defined before any emit, by the require
    @volatile var held: Option[Caches.Checkpointed] = None
    @volatile var lastMerged = initialBatchId
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastMerged) {
          val inc = partial(batch)
          val next = Caches.checkpoint(state.map(merge(_, inc)).getOrElse(inc))
          held.foreach(_.release())
          held = Some(next)
          state = Some(next.df)
          lastMerged = batchId
        }
        stateSink.foreach(sink => sink(lastMerged, state.get))
        outSink(emit(state.get))
      }
      .start()
  }
}
