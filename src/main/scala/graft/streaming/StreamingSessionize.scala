package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gap-based sessionization as a STREAM operator — the Spark-first
  * answer is the built-in `session_window` (dynamic-gap session
  * windows merge as events arrive; state is per open session, bounded
  * by the watermark), not a hand-rolled mapGroupsWithState: the
  * native operator gets watermark-based state eviction, session MERGE
  * across batches, and whole-stage codegen on the aggregation for
  * free.
  *
  * Semantics (shared by batch and stream, pinned by the q101 oracle
  * and the exact-boundary spec): an event extends its session while
  * its gap to the previous event is AT MOST `gapSeconds` (the merge
  * test is inclusive — same boundary as `Sessionize`'s lag form); a
  * strictly larger gap starts a new session, and the reported
  * `session_end` is `last_event + gap` (the window's close — when the
  * session became immutable), NOT the last event time.
  *
  * In append mode a session emits once its window closes under the
  * watermark — exactly-once final sessions, no updates. At 100 TB the
  * state is one open window per active key, watermark-bounded.
  */
object StreamingSessionize {

  /** Session summary per (key, session window). Identical code path
    * for batch frames (no watermark) and streams (watermark required
    * for append-mode emission).
    */
  def sessions(events: DataFrame, keyCol: String, tsCol: String,
               gapSeconds: Long,
               watermarkDelay: Option[String] = None): DataFrame = {
    require(gapSeconds > 0, s"gap must be positive: $gapSeconds")
    val base = watermarkDelay.fold(events)(events.withWatermark(tsCol, _))
    base
      .groupBy(col(keyCol),
        session_window(col(tsCol), s"$gapSeconds seconds").as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("__w.start").as("session_start"),
        col("__w.end").as("session_end"),
        col("n_events"))
  }
}
