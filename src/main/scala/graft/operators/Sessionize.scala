package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization — the standard event-stream operator a
  * training-data/behavioral pipeline needs on top of the reference's
  * fixed 15-minute snapshots: a new session starts when the gap to the
  * previous event of the same key exceeds `gapSeconds`.
  *
  * Relational shape: one shuffle on the key, partition sort by time,
  * lag() to flag session starts, running sum to number them — the same
  * window partitioning serves all three steps, so the whole operator is
  * a single Exchange + sort. In Structured Streaming the equivalent is
  * `session_window(ts, gap)`, which shares the semantics.
  */
object Sessionize {

  /** Assign a session id (key-scoped, 1-based, in time order) to every
    * event.
    */
  def withSessionIds(events: DataFrame, keyCol: String, tsCol: String,
                     gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val gap = unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(w))
    events
      .withColumn("__new_session",
        when(gap.isNull || gap > gapSeconds, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("__new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_session")
  }

  /** Per-session summary: bounds, event count, duration. */
  def sessions(events: DataFrame, keyCol: String, tsCol: String,
               gapSeconds: Long): DataFrame =
    withSessionIds(events, keyCol, tsCol, gapSeconds)
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        (unix_timestamp(max(col(tsCol))) - unix_timestamp(min(col(tsCol))))
          .as("duration_s"))

  /** Behavioral-sequence n-grams: the "user behavior language model"
    * statistic — top-k most frequent within-session action trigrams.
    * Sequences never cross a session boundary (the lead window is
    * partitioned by (key, session)), and the within-session order is
    * total ((ts, tieCol)) so the gram set is engine-exact under ties.
    * Top-k is a global (count desc, trigram asc) head — collapses to
    * TakeOrderedAndProject, no single-partition window.
    */
  def behaviorTrigrams(events: DataFrame, keyCol: String, tsCol: String,
                       actionCol: String, tieCol: String,
                       gapSeconds: Long, k: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col("session_id"))
      .orderBy(col(tsCol), col(tieCol))
    withSessionIds(events, keyCol, tsCol, gapSeconds)
      .withColumn("__a2", lead(col(actionCol), 1).over(w))
      .withColumn("__a3", lead(col(actionCol), 2).over(w))
      .filter(col("__a3").isNotNull)
      .select(concat_ws(">", col(actionCol), col("__a2"), col("__a3")).as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram").asc)
      .limit(k)
  }

  /** First-order Markov transition matrix over within-session action
    * sequences: for every (from, to) action pair, the transition count
    * and probability — the "what do users do next" table behind funnel
    * design, anomaly screens, and synthetic-session generators.
    *
    * Probabilities are INTEGER BASIS POINTS via floor division
    * (n*10000 div row-total), so the matrix is engine-exact — no float
    * division to disagree on. Transitions never cross a session
    * boundary (lead is partitioned by (key, session)) and the
    * within-session order is total ((ts, tieCol)).
    *
    * Scale shape: one windowed lead partitioned by (key, session) —
    * millions of small partitions, no skew pileup — then a hash
    * aggregate on (from, to) whose cardinality is |action-vocab|^2;
    * the per-from row totals re-join as a broadcast aggregate (the
    * action vocabulary is bounded; a window over partitionBy(from)
    * would funnel every hot action's rows into one partition).
    *
    * NULL actions are DROPPED BEFORE pairing (the `Markov.transitions`
    * contract): in a sequence A, NULL, B the null row is invisible and
    * A→B counts as one transition — the "unknown event bridges" view,
    * pinned by SessionizeSpec. (Before the round-10 delegation, null
    * rows stayed in the window and blocked the bridge while emitting
    * from_type = NULL rows.)
    */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                       actionCol: String, tieCol: String,
                       gapSeconds: Long): DataFrame =
    // sessionize, then the generic sequence-transition core: the
    // session id becomes part of the sequence key so pairs never cross
    // a gap boundary
    Markov.transitions(withSessionIds(events, keyCol, tsCol, gapSeconds),
        Seq(keyCol, "session_id"), Seq(tsCol, tieCol), actionCol)
      .withColumnRenamed("prob_bp", "p_bp")

  /** [[transitionMatrix]]'s sessionized pairs folded to the per-state
    * predictability card: H(next action | current action) within
    * sessions — see `Markov.nextEntropy`.
    */
  def nextActionEntropy(events: DataFrame, keyCol: String, tsCol: String,
                        actionCol: String, tieCol: String,
                        gapSeconds: Long): DataFrame =
    Markov.nextEntropy(withSessionIds(events, keyCol, tsCol, gapSeconds),
      Seq(keyCol, "session_id"), Seq(tsCol, tieCol), actionCol)

  /** Hour-of-day entropy per key: how spread is a key's activity over
    * the 24 UTC hours? H = Σ (c_h/n)·log₁₀(n/c_h) — a human sleeps
    * (H well below log₁₀ 24 ≈ 1.38), a cron job fires in one slot
    * (H ≈ 0 with high volume), a distributed bot farm is flat
    * (H ≈ 1.38). The third behavioral-biometric lens beside
    * `Resample.burstiness` (cadence) and [[streaks]] (repetition).
    *
    * Exactness: hours are engine-neutral integer arithmetic
    * (epoch div 3600 mod 24); each term is the labelEntropy pround6
    * double over exact BIGINT counts, summed as DECIMAL(18,6). The
    * per-key total comes from a window PARTITIONED BY KEY over the
    * ≤ 24 hour rows — never a global partition.
    *
    * Scale shape: one (key, hour) hash aggregate, one ≤24-row
    * partitioned window, one per-key rollup.
    */
  def hourEntropy(events: DataFrame, keyCol: String,
                  tsCol: String): DataFrame = {
    def p6(c: org.apache.spark.sql.Column) = graft.functions.Rounding.p6(c)
    val hour = pmod(call_function("div",
      col(tsCol).cast("long"), lit(3600L)), lit(24L))
    val cnt = events.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"), hour.as("__h"))
      .groupBy(col("__k"), col("__h"))
      .agg(count(lit(1)).cast("long").as("__c"))
    val wK = Window.partitionBy(col("__k"))
    val contrib =
      (col("__c").cast("double") / col("__n").cast("double")) *
        log10(col("__n").cast("double") / col("__c").cast("double"))
    cnt.withColumn("__n", sum(col("__c")).over(wK).cast("long"))
      .groupBy(col("__k").as(keyCol))
      .agg(max(col("__n")).as("n_events"),
        count(lit(1)).cast("long").as("n_hours"),
        sum(p6(contrib).cast("decimal(18,6)")).cast("double")
          .as("h_hour"))
  }

  /** Longest same-action streak per key (gaps-and-islands): the
    * engagement/bot screen "does any user fire the same action N
    * times in a row?". Island id = overall row_number − per-action
    * row_number (both ordered by the SAME total order, so the
    * difference is constant exactly along a run); the reported
    * champion streak breaks length ties by ascending action then
    * island — engine-exact. One window pass per ranking, then a
    * (key, action, island) hash aggregate; rows per key bound every
    * partition.
    */
  def streaks(events: DataFrame, keyCol: String, tsCol: String,
              actionCol: String, tieCol: String): DataFrame = {
    val base = events.filter(col(keyCol).isNotNull &&
        col(tsCol).isNotNull && col(actionCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(tieCol).as("__tie"), col(actionCol).as("__a"))
    val wAll = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__tie"))
    val wAct = Window.partitionBy(col("__k"), col("__a"))
      .orderBy(col("__ts"), col("__tie"))
    val runs = base
      .withColumn("__isl",
        row_number().over(wAll) - row_number().over(wAct))
      .groupBy(col("__k"), col("__a"), col("__isl"))
      .agg(count(lit(1)).cast("long").as("__len"))
    val wTot = Window.partitionBy(col("__k"))
    val wBest = Window.partitionBy(col("__k"))
      .orderBy(col("__len").desc, col("__a").asc, col("__isl").asc)
    runs
      .withColumn("n_events", sum(col("__len")).over(wTot).cast("long"))
      .withColumn("__rn", row_number().over(wBest))
      .filter(col("__rn") === 1)
      .select(col("__k").as(keyCol), col("n_events"),
        col("__len").as("max_streak"), col("__a").as("streak_action"))
  }
}
