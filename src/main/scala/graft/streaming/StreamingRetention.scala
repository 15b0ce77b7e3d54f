package graft.streaming

import graft.sources.PathIO
import graft.streaming.MergeableState.{Max, Sum}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming cohort-retention monitor — the live engagement matrix
  * kept current across micro-batches: the state is one row per
  * (user, active-week) ever seen, and the retention card (cohort week
  * × week offset × surviving users) derives from it on demand.
  *
  * The whole design rides on ONE state table: a user's cohort week is
  * the MIN of their active weeks, recomputed inside the view, so there
  * is no separate first-touch state to keep consistent — presence
  * rows merge additively (count partials; presence = n > 0) and the
  * min falls out of whatever has arrived. That makes the state equal
  * to the one-shot distinct (user, week) table under ANY batch split,
  * and the card therefore equal to the batch retention computation
  * (`StreamingRetentionSpec` pins split-invariance, failed-sink
  * replay idempotence, and one-shot equivalence). A LATE batch can
  * move a user's cohort EARLIER — the card self-corrects rather than
  * freezing a wrong first week.
  *
  * Commit protocol is the shared `MergeableState` retry discipline:
  * merge → materialize → commit. Scale shape per batch: one distinct
  * (user, week) aggregate (batch-sized), full-outer-merged into the
  * state on the (user, week) key. State is ≤ |users| · |weeks| rows —
  * calendar-bounded per user, never stream-volume-bounded; the card
  * read is two aggregates over the already-reduced state.
  */
object StreamingRetention {

  /** Merge one batch's (user, period) presence counts into the state;
    * returns the post-merge state (user, week, n, grain — the period
    * column keeps its historical name whatever the grain). `grainDays`
    * sets the period width: 7 (default) = the retention monitor's
    * weeks, 1 = daily presence, the state [[activesView]] reads. Caller
    * must materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, userCol: String, tsCol: String,
                 statePath: String, grainDays: Int = 7): DataFrame = {
    require(grainDays >= 1, s"grainDays must be >= 1: $grainDays")
    val spark = batch.sparkSession
    val partial = batch
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("user"),
        call_function("div", unix_micros(col(tsCol)), lit(86400000000L))
          .as("__pd"))
      .select(col("user"),
        call_function("div", col("__pd"), lit(grainDays.toLong))
          .as("week"))
      .groupBy(col("user"), col("week"))
      .agg(count(lit(1)).as("n"))
      .withColumn("grain", lit(grainDays.toLong))
    val keys = Seq("user", "week")
    val merges = Seq("n" -> Sum("long"), "grain" -> Max)
    // the state RECORDS its grain: merging day-ids into a week-grain
    // state (or vice versa) would silently weld two period keyspaces,
    // so a mismatch fails loudly here instead
    val recorded = PathIO.readSwapState(spark, statePath,
        MergeableState.stateSchema(partial, keys, merges))
      .select(col("grain")).limit(1).collect().headOption.map(_.getLong(0))
    require(recorded.forall(_ == grainDays.toLong),
      s"state at $statePath has grain ${recorded.getOrElse("?")} days; " +
        s"this merge uses $grainDays")
    MergeableState.merge(partial, keys, merges, statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge state.
    */
  def acceptBatch(batch: DataFrame, userCol: String, tsCol: String,
                  statePath: String, grainDays: Int = 7): DataFrame =
    MergeableState.accept(
      mergeBatch(batch, userCol, tsCol, statePath, grainDays), statePath)

  /** The retention card over the maintained (user, week, n) state:
    * cohort week = the user's min active week (derived here, so late
    * data re-cohorts correctly), one row per (cohort_week,
    * offset_weeks) with surviving-user counts and exact floor-division
    * basis points against the cohort's size (its offset-0 count).
    */
  def retentionView(state: DataFrame): DataFrame = {
    val act = state.filter(col("n") > 0L)
      .select(col("user"), col("week")).distinct()
    val first = act.groupBy(col("user")).agg(min(col("week")).as("__cw"))
    val grid = act.join(first, "user")
      .groupBy(col("__cw").as("cohort_week"),
        (col("week") - col("__cw")).cast("long").as("offset_weeks"))
      .agg(count(lit(1)).cast("long").as("n_active"))
    val sizes = grid.filter(col("offset_weeks") === 0L)
      .select(col("cohort_week"), col("n_active").as("__sz"))
    grid.join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("offset_weeks"), col("n_active"),
        call_function("div", col("n_active") * 10000L, col("__sz"))
          .as("retention_bp"))
  }

  /** The live rolling-actives card over a DAY-grain state (merge with
    * `grainDays = 1`): `Cohorts.rollingActives`' coverage view read
    * from the maintained (user, day) presence instead of raw events —
    * additivity makes it equal the one-shot computation under any
    * batch split. Output: `day`, `n_active`.
    */
  def activesView(state: DataFrame, window: Int = 7): DataFrame = {
    // a rolling-DAYS card over week-ids would be silent nonsense —
    // the recorded grain must be 1
    val g = state.select(col("grain")).limit(1).collect()
    require(g.isEmpty || g(0).getLong(0) == 1L,
      s"activesView needs a day-grain state (grain 1), got " +
        s"${g.headOption.map(_.getLong(0)).getOrElse("?")}")
    graft.operators.Cohorts.coverageActives(
      state.filter(col("n") > 0L)
        .select(col("user").as("__u"), col("week").as("__d")),
      window)
  }
}
