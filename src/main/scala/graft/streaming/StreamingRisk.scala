package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exposure/outcome risk monitor — q326's 2×2 card kept
  * current across micro-batches: per-group cell counts (n11 =
  * exposed∧outcome … n00) update additively and the odds-ratio /
  * relative-risk / risk-difference card derives from the state on
  * demand. The live treatment screen: a curation rollout watches the
  * exposed arm's risk ratio drift batch by batch instead of waiting
  * for the nightly batch job.
  *
  * Correctness rests on additivity exactly as `StreamingWoe`: the
  * four cells are plain counts, so per-group partials merge
  * associatively-commutatively on the group key and the state equals
  * the one-shot table under ANY batch split
  * (`StreamingRiskSpec` pins it). The card reads through the SAME
  * `Hypothesis.riskCardFromCells` closing the batch operator uses —
  * live and batch cards cannot diverge (q342 shares q326's oracle
  * verbatim). Commit protocol is the shared `MergeableState` retry
  * discipline: merge → materialize → commit, so a replayed batch
  * after a failed sink cannot double-count.
  *
  * Scale shape per batch: one hash aggregate on the group key
  * (batch-sized), one full-outer equi-join into the state; state is
  * one row per group ever seen — bounded by group vocabulary, never
  * stream volume.
  */
object StreamingRisk {

  /** Merge one batch's 2×2 cells into the state; returns the
    * post-merge per-group table (grp, n11, n10, n01, n00). Caller
    * must materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, groupCol: String, exposedCol: String,
                 outcomeCol: String, statePath: String): DataFrame = {
    val e = col(exposedCol).cast("long") =!= 0L
    val o = col(outcomeCol).cast("long") =!= 0L
    val partial = batch
      .filter(col(groupCol).isNotNull && col(exposedCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(sum(when(e && o, 1L).otherwise(0L)).cast("long").as("n11"),
        sum(when(e && !o, 1L).otherwise(0L)).cast("long").as("n10"),
        sum(when(!e && o, 1L).otherwise(0L)).cast("long").as("n01"),
        sum(when(!e && !o, 1L).otherwise(0L)).cast("long").as("n00"))
    MergeableState.merge(partial, Seq("grp"),
      Seq("n11", "n10", "n01", "n00").map(_ -> Sum("long")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-group cell table.
    */
  def acceptBatch(batch: DataFrame, groupCol: String, exposedCol: String,
                  outcomeCol: String, statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, groupCol, exposedCol,
      outcomeCol, statePath), statePath)

  /** The risk card over the maintained state — q326's screen, derived
    * through the SAME `Hypothesis.riskCardFromCells` closing the
    * batch operator uses.
    */
  def riskView(state: DataFrame, groupCol: String): DataFrame =
    graft.operators.Hypothesis.riskCardFromCells(
      state.withColumnRenamed("grp", groupCol), groupCol)
}
