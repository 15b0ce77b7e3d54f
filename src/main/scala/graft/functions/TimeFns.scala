package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Snapshot/time-bucket expressions.
  *
  * The reference assigns every observation to a 15-minute snapshot slot by
  * *nearest* slot, not floor (reference: scripts/get_raw_data/
  * get_raw_streams_data.py:34-48, a linear argmin over the 96-row
  * time-of-day dim), with a day-rollover rule when 23:52.5+ rounds up to
  * 00:00 of the next day (reference: src/get_raw_data/
  * get_raw_category_data.py:57-83).
  *
  * Here the whole lookup collapses to O(1) arithmetic on the event time —
  * no dim scan, no join, fully codegen'd — and the rollover falls out of
  * the arithmetic for free: rounding the epoch to the nearest 900s grid
  * point naturally lands in the next day when appropriate.
  */
object TimeFns {

  /** Epoch seconds of the *nearest* 15-minute grid point.
    *
    * floor((epoch + 450) / 900) * 900 — "round half up" on a 900s grid.
    * Integer arithmetic only, so it is exact and engine-portable.
    */
  def nearestSlotEpoch(ts: Column): Column =
    floor((unix_timestamp(ts) + 450L) / 900L) * 900L

  /** Snapshot day key `yyyyMMdd` (reference `day_date_id`). */
  def snapshotDayId(ts: Column): Column =
    date_format(timestamp_seconds(nearestSlotEpoch(ts)), "yyyyMMdd")

  /** Snapshot time-of-day key `HHmm` (reference `time_of_day_id`). */
  def snapshotTimeId(ts: Column): Column =
    date_format(timestamp_seconds(nearestSlotEpoch(ts)), "HHmm")

  // ---- timezone-aware variants (reference X8) -------------------------
  //
  // The reference's real category path converts the UTC capture time to
  // US/Pacific wall clock before slot assignment (reference:
  // src/get_raw_data/get_raw_category_data.py:35,46-52,88-96), with two
  // rules the UTC arithmetic above doesn't have:
  //   * rollover — local 23:53:00 and later (`hour == 23 and minute > 52`)
  //     belongs to the NEXT day's "0000" slot;
  //   * nearest within the SAME day otherwise — the argmin scans only the
  //     current day's 96 slots, so late times clamp to "2345" and exact
  //     450 s midpoints keep the EARLIER slot (`diff < minimum_diff` is
  //     strict, so the first-scanned row wins ties — round half DOWN,
  //     unlike nearestSlotEpoch's half-up grid).
  //
  // The scan collapses to O(1) integer-microsecond arithmetic on the
  // local seconds-of-day: slot = min(ceil((sod_us - 450e6) / 900e6), 95).
  // Requires spark.sql.session.timeZone=UTC (the standard
  // from_utc_timestamp idiom: the shifted instant renders as the target
  // wall clock only under a UTC session).

  private val DayMicros = 86400000000L

  /** Local wall-clock instant (session tz must be UTC). */
  private def localWallClock(ts: Column, tz: String): Column =
    from_utc_timestamp(ts, tz)

  /** Reference rollover predicate: local 23:53+ belongs to the next day. */
  private def rollsOver(local: Column): Column =
    hour(local) === 23 && minute(local) > 52

  /** Nearest same-day slot index in [0, 95], reference tie/clamp rules. */
  private def nearestSlotIndex(local: Column): Column = {
    val sodMicros = unix_micros(local) % DayMicros
    least(ceil((sodMicros - lit(450000000L)).cast("double") / 9e8).cast("long"), lit(95L))
  }

  /** Snapshot day key `yyyyMMdd` of the tz-local wall clock, with the
    * reference's 23:53+ next-day rollover.
    */
  def snapshotDayId(ts: Column, tz: String): Column = {
    val local = localWallClock(ts, tz)
    val day = to_date(local)
    date_format(when(rollsOver(local), date_add(day, 1)).otherwise(day), "yyyyMMdd")
  }

  /** Snapshot time-of-day key `HHmm` of the tz-local wall clock: "0000"
    * past the rollover, else the nearest same-day slot (ties keep the
    * earlier slot; late-day times clamp to "2345").
    */
  def snapshotTimeId(ts: Column, tz: String): Column = {
    val local = localWallClock(ts, tz)
    val idx = nearestSlotIndex(local)
    when(rollsOver(local), lit("0000"))
      .otherwise(format_string("%02d%02d",
        (idx * 15 / 60).cast("int"), (idx * 15 % 60).cast("int")))
  }

  /** `part_of_day` bucket used by the reference time dim (reference:
    * scripts/get_raw_data/get_raw_time_of_day_data.py:78-81 — the slot
    * list is 20x night + 28x morning + 20x afternoon + 16x evening +
    * 12x night, i.e. night [21,5), morning [5,12), afternoon [12,17),
    * evening [17,21); verified against raw_time_of_day_data.csv).
    */
  def partOfDay(hour: Column): Column =
    when(hour < 5, "night")
      .when(hour < 12, "morning")
      .when(hour < 17, "afternoon")
      .when(hour < 21, "evening")
      .otherwise("night")
}
