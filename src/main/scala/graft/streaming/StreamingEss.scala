package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming effective-sample-size monitor — q344's mixture health
  * check kept current across micro-batches: per-group (n, Σw, Σw²)
  * update additively as weighted examples arrive, and the ESS /
  * efficiency card derives from the state on demand. The live
  * mixture-collapse alarm: a temperature schedule whose efficiency
  * decays batch over batch is concentrating the token budget on a
  * shrinking core.
  *
  * Correctness rests on additivity exactly as `StreamingWoe`: all
  * three statistics are plain sums (the weight casts to DECIMAL(28,6)
  * BEFORE summing — the batch operator's ≤6-decimal contract), so
  * partials merge associatively-commutatively on the group key and
  * the state equals the one-shot table under ANY batch split
  * (`StreamingEssSpec` pins it). The card reads through the SAME
  * `Sampling.essFromStats` closing the batch operator uses — q347
  * shares q344's oracle verbatim. Commit protocol is the shared
  * `MergeableState` retry discipline.
  *
  * Scale shape per batch: one hash aggregate on the group key, one
  * full-outer equi-join into the state; state is one row per group
  * ever seen.
  */
object StreamingEss {

  /** Merge one batch's weight statistics into the state; returns the
    * post-merge per-group table (grp, n, s, q). Caller must
    * materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, groupCol: String, weightCol: String,
                 statePath: String): DataFrame = {
    val partial = batch
      .filter(col(groupCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col(weightCol).cast("decimal(28,6)")).as("s"),
        sum((col(weightCol) * col(weightCol)).cast("decimal(38,6)"))
          .as("q"))
    MergeableState.merge(partial, Seq("grp"),
      Seq("n" -> Sum("long"), "s" -> Sum("decimal(28,6)"),
        "q" -> Sum("decimal(38,6)")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-group statistic table.
    */
  def acceptBatch(batch: DataFrame, groupCol: String, weightCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, groupCol, weightCol, statePath),
      statePath)

  /** The ESS card over the maintained state — q344's screen, derived
    * through the SAME `Sampling.essFromStats` closing the batch
    * operator uses.
    */
  def essView(state: DataFrame, groupCol: String): DataFrame =
    graft.operators.Sampling.essFromStats(
      state.select(col("grp").as(groupCol), col("n"),
        col("s").as("__s"), col("q").as("__q")),
      groupCol)
}
