package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming survival state — the live churn curve kept current
  * across micro-batches: the maintained state is the per-duration
  * (duration, n_events, n_censored) count table (bounded by DISTINCT
  * durations — days/weeks by nature — never by stream volume), and
  * the Kaplan–Meier / Nelson–Aalen curves are derived from it on
  * demand through `Survival.kaplanMeierFromCounts` /
  * `nelsonAalenFromCounts`, so the whole curve re-shapes as
  * observations accrue (at-risk counts grow everywhere, not just at
  * the tail) — the property a frozen export-time curve loses.
  *
  * Correctness rests on additivity exactly as `StreamingTopK`: event
  * and censor COUNT partials merge associatively-commutatively per
  * duration, so the state equals the one-shot observation-count table
  * under ANY batch split (`StreamingSurvivalSpec` pins it) and the
  * derived curves therefore equal the batch `Survival` answers.
  * CAVEAT the caller owns: a censored observation that later churns
  * arrives as a NEW observation — retract the censored row first
  * (emit a compensating batch) or snapshot upstream per the CDC
  * contract; the state itself is append-additive. Commit protocol is
  * the shared `MergeableState` retry discipline: merge →
  * materialize → commit, so a replayed batch after a failed sink
  * cannot double-count.
  *
  * Scale shape per batch: one hash aggregate on duration
  * (batch-sized) full-outer-merged into the duration-bounded state;
  * the curve read is `Survival`'s two bucketed prefix phases over the
  * already-reduced state.
  */
object StreamingSurvival {

  /** Merge one batch's per-duration counts into the state; returns
    * the post-merge (duration, n_events, n_censored) table. Caller
    * must materialize before committing (acceptBatch does). NULL and
    * negative durations and NULL event flags are dropped (the batch
    * `Survival` hygiene).
    */
  def mergeBatch(batch: DataFrame, durationCol: String, eventCol: String,
                 statePath: String): DataFrame = {
    val partial = batch
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(durationCol) >= 0)
      .select(col(durationCol).cast("long").as("duration"),
        when(col(eventCol).cast("long") =!= 0L, 1L).otherwise(0L).as("__e"))
      .groupBy(col("duration"))
      .agg(sum(col("__e")).cast("long").as("n_events"),
        (count(lit(1)) - sum(col("__e"))).cast("long").as("n_censored"))
    MergeableState.merge(partial, Seq("duration"),
      Seq("n_events", "n_censored").map(_ -> Sum("long")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge count table.
    */
  def acceptBatch(batch: DataFrame, durationCol: String, eventCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, durationCol, eventCol, statePath),
      statePath)

  /** The live Kaplan–Meier curve over the maintained state. */
  def kmView(counts: DataFrame, bucketWidth: Long = 4096L): DataFrame =
    graft.operators.Survival.kaplanMeierFromCounts(counts, bucketWidth)

  /** The live Nelson–Aalen cumulative hazard over the state. */
  def hazardView(counts: DataFrame, bucketWidth: Long = 4096L): DataFrame =
    graft.operators.Survival.nelsonAalenFromCounts(counts, bucketWidth)
}
