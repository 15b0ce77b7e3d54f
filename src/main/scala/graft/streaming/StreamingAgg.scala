package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance: a running keyed
  * aggregate table (here (day, event_type) -> count + exact DECIMAL
  * value sum) kept current across micro-batches, so dashboards read a
  * small MV instead of rescanning an unbounded fact stream.
  *
  * Correctness rests on additivity: COUNT and SUM(DECIMAL) are
  * associative-commutative, so merging per-batch partials into the
  * state by key gives bit-identical totals to a one-shot batch
  * aggregate over the concatenated input — ANY batch split, any
  * arrival order (`StreamingAggSpec` pins MV ≡ batch recompute; the
  * DECIMAL sum keeps the merge order out of the result, the same
  * discipline as the q42/q115 decimal-summed means).
  *
  * State discipline follows `StreamingBudget`: the MV is ONE parquet
  * row per key (bounded by key cardinality, not stream volume),
  * committed by `MergeableState` AFTER the returned frame is
  * materialized, with `readSwapState` healing interrupted swaps — a
  * replayed batch merges against the pre-commit totals, so retries
  * cannot double-count.
  */
object StreamingAgg {

  /** Merge one batch of raw events into the MV state; returns the
    * post-merge MV. Caller must materialize the result before committing
    * (`MergeableState.accept`/`sink` do).
    */
  def mergeBatch(batch: DataFrame, tsCol: String, typeCol: String,
                 valueCol: String, statePath: String): DataFrame = {
    val partial = batch
      .groupBy(date_format(col(tsCol), "yyyy-MM-dd").as("day"),
        col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("total"))
    MergeableState.merge(partial, Seq("day", "event_type"),
      Seq("n" -> Sum("long"), "total" -> Sum("decimal(18,2)")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized MV. */
  def acceptBatch(batch: DataFrame, tsCol: String, typeCol: String,
                  valueCol: String, statePath: String): DataFrame =
    MergeableState.accept(
      mergeBatch(batch, tsCol, typeCol, valueCol, statePath), statePath)
}
