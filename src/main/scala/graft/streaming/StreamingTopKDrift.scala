package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming leaderboard monitor — the live twin of `Profile
  * .topKDrift`: as valued rows arrive in micro-batches, the per-
  * (group, arm, key) value-total table updates additively and the
  * top-k drift card (intersection, exact-ppm Jaccard, new entrants)
  * is derived from it on demand. "Has the catalog's best-seller list
  * actually changed since the baseline era?" answered live, without
  * rescanning history.
  *
  * Correctness rests on additivity exactly as `StreamingWoe`:
  * per-key DECIMAL(38,2) value partials merge associatively-
  * commutatively on the (group, arm, key) key, so the state equals
  * the one-shot totals table under ANY batch split
  * (`StreamingTopKDriftSpec` pins it) and the derived card equals
  * `Profile.topKDrift` of the concatenated batches — both read
  * through the shared `Profile.topKDriftFromTotals` closing, so the
  * two cannot diverge. NULL groups/arms/keys/values are dropped (the
  * batch operator's view). Commit protocol is the shared
  * `MergeableState` retry discipline: merge → materialize →
  * commit, so a replayed batch after a failed sink cannot
  * double-count.
  *
  * Scale shape per batch: one hash aggregate on (group, arm, key)
  * (batch-sized) full-outer-merged into the state on the same key —
  * an equi-join AQE skew-splits if one key is hot. State size is
  * bounded by the key vocabulary (the topKDrift contract), never by
  * stream volume; the card read is the closing's two WindowGroupLimit
  * top-k scans over the already-reduced state.
  */
object StreamingTopKDrift {

  /** Merge one batch's per-key value totals into the state; returns
    * the post-merge totals table (`groupCol`, arm, key, tot). Caller
    * must materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, groupCol: String, armCol: String,
                 keyCol: String, valCol: String,
                 statePath: String): DataFrame = {
    val arm = when(col(armCol).cast("long") =!= 0L, 1L).otherwise(0L)
    val partial = batch
      .filter(col(groupCol).isNotNull && col(armCol).isNotNull &&
        col(keyCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), arm.as("__arm"),
        col(keyCol).as("__key"),
        col(valCol).cast("decimal(18,2)").as("__v"))
      .groupBy(col("__g").as(groupCol), col("__arm").as("arm"),
        col("__key").as("key"))
      .agg(sum(col("__v")).cast("decimal(38,2)").as("tot"))
    MergeableState.merge(partial, Seq(groupCol, "arm", "key"),
      Seq("tot" -> Sum("decimal(38,2)")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge totals table.
    */
  def acceptBatch(batch: DataFrame, groupCol: String, armCol: String,
                  keyCol: String, valCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, groupCol, armCol, keyCol, valCol,
      statePath), statePath)

  /** The drift card over the maintained state — `Profile.topKDrift`'s
    * output, derived on demand through the SAME
    * `Profile.topKDriftFromTotals` closing the batch operator uses.
    */
  def driftView(totals: DataFrame, groupCol: String,
                k: Int = 50): DataFrame =
    graft.operators.Profile.topKDriftFromTotals(totals, groupCol, k)
}
