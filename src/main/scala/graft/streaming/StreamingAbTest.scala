package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming A/B experiment monitor — the live significance watch kept
  * current across micro-batches: as assignment/outcome rows arrive,
  * the per-experiment arm-count table updates additively and the
  * pooled two-proportion card (q287's batch test) is derived from it
  * on demand. The operational caveat belongs to the CALLER: peeking at
  * a live z every batch and stopping on the first significant read
  * inflates the false-positive rate (use a fixed horizon or a
  * sequential correction); the monitor's job is only to keep the
  * counts exact and the derived card consistent with the batch test.
  *
  * Correctness rests on additivity exactly as `StreamingWoe`: the four
  * arm counts merge associatively-commutatively on the experiment key,
  * so the state equals the one-shot count table under ANY batch split
  * (`StreamingAbTestSpec` pins it) and the derived card equals
  * `Metrics.twoProportionZ` of the concatenated batches — both read
  * through the shared `Metrics.twoProportionZFromCounts` closing.
  * NULL keys/arms/outcomes are dropped (the batch operator's view).
  * Commit protocol is the shared `MergeableState` retry discipline,
  * so a replayed batch after a failed sink cannot double-count.
  *
  * Scale shape per batch: one conditional hash aggregate on the key
  * (batch-sized) full-outer-merged into the state on the key. State
  * size is bounded by #experiments, never by stream volume.
  */
object StreamingAbTest {

  /** Merge one batch's arm counts into the state; returns the
    * post-merge per-key table (key, n_a, k_a, n_b, k_b). Caller must
    * materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, keyCol: String, armCol: String,
                 successCol: String, statePath: String): DataFrame = {
    val arm1 = when(col(armCol).cast("long") =!= 0L, 1L).otherwise(0L)
    val succ = when(col(successCol).cast("long") =!= 0L, 1L).otherwise(0L)
    val partial = batch
      .filter(col(keyCol).isNotNull && col(armCol).isNotNull &&
        col(successCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(lit(1L) - arm1).cast("long").as("n_a"),
        sum((lit(1L) - arm1) * succ).cast("long").as("k_a"),
        sum(arm1).cast("long").as("n_b"),
        sum(arm1 * succ).cast("long").as("k_b"))
    MergeableState.merge(partial, Seq(keyCol),
      Seq("n_a", "k_a", "n_b", "k_b").map(_ -> Sum("long")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-key arm-count table.
    */
  def acceptBatch(batch: DataFrame, keyCol: String, armCol: String,
                  successCol: String, statePath: String): DataFrame =
    MergeableState.accept(
      mergeBatch(batch, keyCol, armCol, successCol, statePath), statePath)

  /** The significance card over the maintained state — q287's test
    * derived through the SAME `Metrics.twoProportionZFromCounts`
    * closing the batch operator uses. One-arm experiments (no
    * comparison yet) are absent, exactly as in the batch card.
    */
  def abView(armCounts: DataFrame, keyCol: String): DataFrame =
    graft.operators.Metrics.twoProportionZFromCounts(armCounts, keyCol)
}
