package graft.streaming

import graft.operators.Relational
import graft.sources.PathIO
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming CDC state maintenance — `Relational.cdcCompact` kept
  * current across micro-batches: the state table holds the LAST
  * operation per key (tombstones INCLUDED), each batch folds in by
  * per-key max under the caller's total order, and the queryable view
  * filters deletes out.
  *
  * Correctness rests on the per-key max being associative-commutative
  * over the total (orderCols) order: merging batch-last rows into
  * state-last rows gives the same survivor as one-shot compaction of
  * the concatenated log, under ANY batch split and arrival order —
  * including a late-arriving OLD upsert meeting a newer tombstone
  * (the tombstone's higher order wins; this is exactly why deletes
  * must be persisted, not filtered, in state).
  *
  * State discipline is the shared `MergeableState` commit (accept /
  * sink): one parquet row per key (bounded by key cardinality, not
  * stream volume), swap-committed AFTER the merged frame is
  * materialized, `readSwapState` healing interrupted swaps — a
  * replayed batch re-merges idempotently (max of max is max). Only
  * the merge differs from the additive twins: a per-key keep-last,
  * not a per-column monoid.
  */
object StreamingCdc {

  /** Merge one changelog batch into the CDC state; returns the merged
    * FULL state (tombstones included). Pure: `MergeableState.accept`
    * or `MergeableState.sink` materializes and commits it.
    */
  def mergeBatch(batch: DataFrame, keyCol: String, orderCols: Seq[String],
                 statePath: String): DataFrame = {
    val spark = batch.sparkSession
    val ord = orderCols.map(col)
    val batchLast = Relational.keepLast(batch, keyCol, ord)
    val state = PathIO.readSwapState(spark, statePath, batchLast.schema)
    Relational.keepLast(state.unionByName(batchLast), keyCol, ord)
  }

  /** Merge + commit; returns the LIVE VIEW (tombstones filtered). */
  def acceptBatch(batch: DataFrame, keyCol: String, orderCols: Seq[String],
                  isDelete: Column, statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, keyCol, orderCols, statePath), statePath)
      .filter(!isDelete)
}
