package graft.streaming

import graft.streaming.MergeableState.Min
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming first-touch funnel monitor — the live conversion card
  * kept current across micro-batches: per user the state holds ONE row
  * per funnel step ever seen, carrying the EARLIEST event time, and
  * the funnel view derives "how many users' first touches happened in
  * step order" on demand.
  *
  * SEMANTICS, deliberately: this is the FIRST-OCCURRENCE funnel
  * (min(view) < min(click) < min(purchase) strictly), not the batch
  * `Cohorts.funnel` strictly-after chain (any click after the first
  * view). First-occurrence is the semantics that STREAMS: per-(user,
  * step) minima merge associatively-commutatively, so the state — and
  * therefore the derived card — equals the one-shot computation under
  * ANY batch split, with no event retention. The strictly-after chain
  * would need every step's full event history to merge late batches
  * (an earlier-arriving step-1 time can re-anchor step 2 onto events
  * already discarded), which is exactly the state unboundedness this
  * monitor exists to avoid; where histories replay in order the two
  * semantics usually agree, and a stricter gate is the conservative
  * one (first-occurrence never over-counts a conversion the chain
  * would reject ahead of step 2). `StreamingFunnelSpec` pins
  * split-invariance, replay idempotence after a failed commit
  * (min-merge is idempotent on replayed events), and the card's
  * equivalence to the one-shot first-occurrence computation.
  *
  * Commit protocol is the shared `MergeableState` retry discipline:
  * merge → materialize → commit. Scale shape per batch: one (user,
  * step) min aggregate (batch-sized), full-outer-merged into the state
  * on the (user, step) key — an equi-join AQE skew-splits if one user
  * is hot. State is ≤ |users| · |steps| rows — key-bounded, never
  * stream-volume-bounded; the card read aggregates the already-reduced
  * state.
  */
object StreamingFunnel {

  private def checkSteps(steps: Seq[String]): Unit = {
    require(steps.size >= 2, s"a funnel needs at least two steps: $steps")
    require(steps.distinct == steps, s"duplicate funnel steps: $steps")
  }

  /** Merge one batch's per-(user, step) earliest micros into the
    * state; returns the post-merge state (user, et, tus). Caller must
    * materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, userCol: String, tsCol: String,
                 typeCol: String, steps: Seq[String],
                 statePath: String): DataFrame = {
    checkSteps(steps)
    val partial = batch
      .filter(col(typeCol).isin(steps: _*) && col(userCol).isNotNull)
      .select(col(userCol).as("user"), col(typeCol).as("et"),
        unix_micros(col(tsCol)).as("tus"))
      .groupBy(col("user"), col("et"))
      .agg(min(col("tus")).as("tus"))
    MergeableState.merge(partial, Seq("user", "et"), Seq("tus" -> Min),
      statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge state.
    */
  def acceptBatch(batch: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String],
                  statePath: String): DataFrame =
    MergeableState.accept(
      mergeBatch(batch, userCol, tsCol, typeCol, steps, statePath), statePath)

  /** The funnel card over the maintained (user, et, tus) state: one
    * row per step with the count of users whose first-occurrence chain
    * holds through it (strictly increasing minima). Derived on demand,
    * so the card reflects everything merged so far.
    */
  def funnelView(state: DataFrame, steps: Seq[String]): DataFrame = {
    checkSteps(steps)
    val ts = steps.indices.map(k => col(s"__t$k"))
    val perUser = state
      .groupBy(col("user"))
      .agg(min(when(col("et") === steps.head, col("tus"))).as("__t0"),
        steps.indices.tail.map(k =>
          min(when(col("et") === steps(k), col("tus"))).as(s"__t$k")): _*)
    val reached = steps.indices.foldLeft(lit(0L)) { (acc, k) =>
      val ok = if (k == 0) ts(0).isNotNull
               else ts(k).isNotNull && ts(k) > ts(k - 1)
      when(acc === k.toLong && ok, lit((k + 1).toLong)).otherwise(acc)
    }
    val ru = perUser.select(reached.as("__r")).localCheckpoint(true)
    steps.indices.map { k =>
      ru.agg(count(when(col("__r") >= (k + 1).toLong, lit(1)))
          .cast("long").as("n_users"))
        .select(lit((k + 1).toLong).as("step"),
          lit(steps(k)).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _)
  }
}
