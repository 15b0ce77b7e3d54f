package graft.streaming

import graft.sources.PathIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming burstiness monitor — the per-key cadence state kept
  * current across micro-batches: as events arrive, each key's
  * inter-event gap statistics (n, Σgap, Σgap²) update additively and
  * the burstiness card (q322's batch screen — B = (σ−μ)/(σ+μ) over
  * gaps) derives from the state on demand. The live bot/automation
  * screen: a key whose B collapses toward −1 (metronome) mid-stream
  * is scripted traffic the batch job would only catch tomorrow.
  *
  * Correctness rests on an ORDERED-BATCH contract plus additivity:
  * batches must arrive event-time ordered per key (every event in a
  * batch at-or-after the state's last seen second — the normal
  * watermarked-append situation). Under it, the gap MULTISET of the
  * concatenated stream is exactly {state gaps} ∪ {batch gaps} ∪
  * {boundary gap = batch's first second − state's last second}: gap
  * multisets depend only on sorted epoch seconds (equal-ts runs
  * contribute zero gaps in any tie order — see `Resample.gapStats`),
  * so stitching one boundary gap per key per batch reproduces the
  * one-shot statistics under ANY time-ordered split
  * (`StreamingBurstinessSpec` pins it). A batch that VIOLATES the
  * contract (first second before the state's last) RAISES rather
  * than silently mis-stitching — the guard lives in the merged sum
  * column, which every state write materializes. The card reads
  * through the shared `Resample.burstinessFromStats` closing, so
  * live and batch cards cannot diverge.
  *
  * Commit protocol is the shared `MergeableState` retry
  * discipline: merge → materialize → commit, so a replayed batch
  * after a failed sink cannot double-count. Scale shape per batch:
  * the `gapStats` window+aggregate on the batch (batch-sized), one
  * full-outer equi-join into the state on the key; state is one row
  * per key ever seen — bounded by key vocabulary, never stream
  * volume.
  */
object StreamingBurstiness {

  /** Merge one batch's gap statistics into the state; returns the
    * post-merge per-key table (key, n_events, n_gaps, s, q,
    * first_ts, last_ts). Caller must materialize before committing
    * (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, statePath: String): DataFrame = {
    val spark = batch.sparkSession
    val partial = graft.operators.Resample
      .gapStats(batch, keyCol, tsCol, tieCol)
      .toDF("__k", "__ne", "__ng", "__s", "__q", "__min_ts", "__max_ts")
    val state = PathIO.readSwapState(spark, statePath,
      partial.toDF("key", "n_events", "n_gaps", "s", "q", "first_ts", "last_ts").schema)
    // boundary gap: batch's first second minus the state's last —
    // defined only when the key exists on both sides; negative means
    // an out-of-order batch and RAISES (the ordered-batch contract)
    val both = col("last_ts").isNotNull && col("__min_ts").isNotNull
    val bRaw = col("__min_ts") - col("last_ts")
    val bGap = when(!both, lit(0L)).otherwise(
      // no apostrophe in the message: Spark SQL escapes with backslash
      // and treats adjacent 'a''b' literals as CONCATENATION, so a
      // doubled quote would silently garble the text
      when(bRaw < 0L, expr("raise_error(" +
        "'StreamingBurstiness: batch begins before the state last-seen " +
        "second for this key — batches must be event-time ordered " +
        "per key')").cast("long"))
        .otherwise(bRaw))
    state.join(partial, col("key") <=> col("__k"), "full_outer")
      .select(coalesce(col("key"), col("__k")).as("key"),
        (coalesce(col("n_events"), lit(0L)) +
          coalesce(col("__ne"), lit(0L))).cast("long"),
        (coalesce(col("n_gaps"), lit(0L)) +
          coalesce(col("__ng"), lit(0L)) +
          when(both, 1L).otherwise(0L)).cast("long"),
        (coalesce(col("s"), lit(0).cast("decimal(38,0)")) +
          coalesce(col("__s"), lit(0).cast("decimal(38,0)")) +
          bGap.cast("decimal(38,0)")).cast("decimal(38,0)"),
        (coalesce(col("q"), lit(0).cast("decimal(38,0)")) +
          coalesce(col("__q"), lit(0).cast("decimal(38,0)")) +
          bGap.cast("decimal(38,0)") * bGap).cast("decimal(38,0)"),
        coalesce(col("first_ts"), col("__min_ts")).cast("long"),
        coalesce(col("__max_ts"), col("last_ts")).cast("long"))
      .toDF("key", "n_events", "n_gaps", "s", "q", "first_ts", "last_ts")
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-key gap-statistic table.
    */
  def acceptBatch(batch: DataFrame, keyCol: String, tsCol: String,
                  tieCol: String, statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, keyCol, tsCol, tieCol, statePath),
      statePath)

  /** The burstiness card over the maintained state — q322's screen
    * (key, n_events, n_gaps, mean_gap_s, b), derived through the SAME
    * `Resample.burstinessFromStats` closing the batch operator uses.
    */
  def burstinessView(state: DataFrame, keyCol: String): DataFrame =
    graft.operators.Resample.burstinessFromStats(
      state.select(col("key").as(keyCol), col("n_events"),
        col("n_gaps"), col("s").as("__s"), col("q").as("__q")),
      keyCol)
}
