package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming concurrency monitor — the live in-flight card kept
  * current across micro-batches: as intervals open and close, the
  * per-day ±1 delta table updates additively and the sweep-line
  * running count (q291's batch card) is derived from it on demand.
  * Intervals need NOT arrive whole: a batch may carry an interval's
  * open while its close arrives batches later — the open immediately
  * raises every subsequent day's count, and the close lowers it when
  * it lands, which is exactly the operational "still in flight" view.
  *
  * Correctness rests on additivity exactly as `StreamingWoe`: per-day
  * delta partials merge associatively-commutatively on the day key,
  * so the state equals the one-shot delta table under ANY batch split
  * (`StreamingConcurrencySpec` pins it) and the derived card equals
  * `Resample.concurrency` of the concatenated intervals — both read
  * through the shared `Resample.concurrencyFromDeltas` closing.
  * Commit protocol is the shared `MergeableState` retry discipline,
  * so a replayed batch after a failed sink cannot double-count.
  *
  * Scale shape per batch: one day-keyed hash aggregate over 2×batch
  * delta rows full-outer-merged into the state on the day. State size
  * is calendar-bounded (#distinct endpoint days), never stream-volume
  * bounded; the card read is the bucketed driver-prefix over the
  * already-reduced state.
  */
object StreamingConcurrency {

  /** Merge one batch's interval deltas into the state; returns the
    * post-merge per-day table (day, delta). Caller must materialize
    * before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, startCol: String, endCol: String,
                 statePath: String): DataFrame = {
    val iv = batch
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(endCol).cast("long") > col(startCol).cast("long"))
    val partial = iv
      .select(col(startCol).cast("long").as("day"), lit(1L).as("__d"))
      .unionAll(iv.select(col(endCol).cast("long").as("day"),
        lit(-1L).as("__d")))
      .groupBy(col("day"))
      .agg(sum(col("__d")).cast("long").as("delta"))
    MergeableState.merge(partial, Seq("day"), Seq("delta" -> Sum("long")),
      statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-day delta table.
    */
  def acceptBatch(batch: DataFrame, startCol: String, endCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, startCol, endCol, statePath),
      statePath)

  /** The in-flight card over the maintained state — q291's sweep-line
    * counts derived through the SAME `Resample.concurrencyFromDeltas`
    * closing the batch operator uses.
    */
  def concurrencyView(deltaState: DataFrame,
                      bucketWidth: Long = 256L): DataFrame =
    graft.operators.Resample.concurrencyFromDeltas(deltaState, bucketWidth)
}
