package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming tail monitor — q368's mean-excess/GPD card kept current
  * across micro-batches: per-(group, threshold) excess moments
  * (n, Σe, Σe²) update additively as values arrive, and the
  * method-of-moments (ξ, σ) card derives from the state on demand.
  * The live heavy-tail alarm: a ξ̂ drifting upward batch over batch
  * means the value distribution is growing a heavier tail than the
  * capacity plan assumed.
  *
  * Correctness rests on additivity exactly as `StreamingEss`: all
  * three statistics are plain sums over rows above each FIXED literal
  * threshold (batch partials come through the batch operator's own
  * `Pareto.excessMoments` fan, so the DECIMAL casts match to the
  * digit), and the card reads through the SAME
  * `Pareto.meanExcessFromMoments` closing — q379 shares q368's oracle
  * verbatim. Commit protocol is the shared `MergeableState` retry
  * discipline.
  *
  * Scale shape per batch: the thresholds×rows fan collapses in one
  * hash aggregate; state is one row per (group, threshold).
  */
object StreamingTail {

  /** Merge one batch's excess moments into the state; returns the
    * post-merge per-(group, threshold) table (grp, u, n, se, sq).
    * Caller must materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, groupCol: String, valCol: String,
                 thresholds: Seq[Double], statePath: String): DataFrame = {
    val partial = graft.operators.Pareto
      .excessMoments(batch, groupCol, valCol, thresholds)
      .select(col("__g").as("grp"), col("u"), col("n_exceed").as("n"),
        col("__se").as("se"), col("__sq").as("sq"))
    MergeableState.merge(partial, Seq("grp", "u"),
      Seq("n" -> Sum("long"), "se" -> Sum("decimal(38,2)"),
        "sq" -> Sum("decimal(38,4)")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-(group, threshold) moment table.
    */
  def acceptBatch(batch: DataFrame, groupCol: String, valCol: String,
                  thresholds: Seq[Double], statePath: String): DataFrame =
    MergeableState.accept(
      mergeBatch(batch, groupCol, valCol, thresholds, statePath), statePath)

  /** The mean-excess/GPD card over the maintained state — q368's
    * screen, derived through the SAME `Pareto.meanExcessFromMoments`
    * closing the batch operator uses.
    */
  def tailView(state: DataFrame, groupCol: String): DataFrame =
    graft.operators.Pareto.meanExcessFromMoments(
      state.select(col("grp").as("__g"), col("u"),
        col("n").as("n_exceed"), col("se").as("__se"),
        col("sq").as("__sq")),
      groupCol)
}
