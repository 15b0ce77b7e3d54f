package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming weight-of-evidence monitor — the live feature screen kept
  * current across micro-batches: as labeled rows arrive, the per-bin
  * (n_pos, n_neg) class-count table updates additively and the WoE/IV
  * card (q283's batch screen) is derived from it on demand. A feature
  * whose information value decays as data arrives is drifting out of
  * predictive usefulness — the monitor answers "is this feature still
  * worth its training cost NOW", the WoE twin of `StreamingDrift`'s
  * PSI view.
  *
  * Correctness rests on additivity exactly as `StreamingKAnonymity`:
  * per-bin class-count partials merge associatively-commutatively on
  * the bin key, so the state equals the one-shot count table under ANY
  * batch split (`StreamingWoeSpec` pins it) and the derived card
  * therefore equals `Metrics.woeIv` of the concatenated batches —
  * both read through the shared `Metrics.woeIvFromCounts` closing, so
  * the two cannot diverge. NULL bins and NULL labels are dropped (the
  * batch operator's view). Commit protocol is the shared
  * `MergeableState` retry discipline: merge → materialize → commit,
  * so a replayed batch after a failed sink cannot double-count.
  *
  * Scale shape per batch: one hash aggregate on the bin key
  * (batch-sized) full-outer-merged into the state on the bin — an
  * equi-join AQE skew-splits if one bin is hot. State size is bounded
  * by the bin vocabulary, never by stream volume; the card read is
  * one totals attach over the already-reduced state.
  */
object StreamingWoe {

  /** Merge one batch's class counts into the state; returns the
    * post-merge per-bin table (bin, n_pos, n_neg). Caller must
    * materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, binCol: String, labelCol: String,
                 statePath: String): DataFrame = {
    val partial = batch
      .filter(col(binCol).isNotNull && col(labelCol).isNotNull)
      .select(col(binCol).as("bin"),
        when(col(labelCol).cast("long") =!= 0L, 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(sum(col("__y")).cast("long").as("n_pos"),
        sum(lit(1L) - col("__y")).cast("long").as("n_neg"))
    MergeableState.merge(partial, Seq("bin"),
      Seq("n_pos", "n_neg").map(_ -> Sum("long")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-bin class-count table.
    */
  def acceptBatch(batch: DataFrame, binCol: String, labelCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, binCol, labelCol, statePath),
      statePath)

  /** The WoE/IV card over the maintained state — q283's screen
    * (bin, n_pos, n_neg, woe, iv_contrib), derived on demand through
    * the SAME `Metrics.woeIvFromCounts` closing the batch operator
    * uses, so the live card reflects everything merged so far.
    */
  def woeView(classCounts: DataFrame): DataFrame =
    graft.operators.Metrics.woeIvFromCounts(classCounts)
}
