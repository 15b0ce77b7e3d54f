package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Shape of the raw stream traffic one workload sends per 15-minute cycle.
  *
  * The rows per cycle, the 25 shards and the 6,643 categories are the
  * reference's published figures (BASELINE.md); the ~2% cross-shard copies
  * and ~0.5% invalid ids are the benchmark's specified row rules. Every
  * other value is an assumption, not calibrated against the reference's
  * raw and processed snapshots: the empty-category share, the Zipf skew,
  * the churn, the returning share, the chance of a new stream per cycle
  * and the audience distribution.
  */
final case class Traffic(
    rows: Int,                   // raw stream objects per cycle, copies and invalid rows included
    shards: Int = 25,            // shard files per cycle (one per ingest worker)
    copyShare: Double = 0.02,    // identical cross-shard copies of valid rows
    invalidShare: Double = 0.005, // rows the process stage must drop (null stream id / negative user id)
    categories: Int = 6643,      // category universe (the reference's cumulative category count)
    // assumptions:
    emptyCategoryShare: Double = 0.003, // "" categories, which the process stage fills with a sentinel
    zipfS: Double = 1.1,         // category popularity skew
    churn: Double = 0.05,        // share of the active streamers replaced every cycle
    returningShare: Double = 0.4, // share of the replacements that streamed in an earlier cycle
    newStreamShare: Double = 0.1, // share of the staying streamers who start a new stream each cycle
    audienceMu: Double = 2.5,    // log-normal viewer count: mean of the log
    audienceSigma: Double = 1.6  // log-normal viewer count: deviation of the log (capped at 200,000)
) {
  val copies: Int = math.round(rows * copyShare).toInt
  val invalid: Int = math.round(rows * invalidShare).toInt
  /** distinct valid streamers per cycle: the fact rows a cycle must produce */
  val valid: Int = rows - copies - invalid

  def describe: String =
    s"rows=$rows shards=$shards copies=$copyShare invalid=$invalidShare " +
      s"empty_category=$emptyCategoryShare categories=$categories zipf_s=$zipfS " +
      s"churn=$churn returning=$returningShare new_stream=$newStreamShare " +
      s"audience_lognormal=($audienceMu, $audienceSigma)"
}

/** What one cycle's curated fact and dimension deltas must hold, computed
  * from the generator's own bookkeeping (no Spark involved).
  */
final case class Expected(
    day: String, time: String,
    factRows: Long, sumEventId: Long, sumUserId: Long, sumValue: Long,
    sumPropK: Long, countPropK: Long,
    perCategory: Map[String, Long],
    newUsers: Long, newCategories: Long,
    rawObjects: Long)

/** Seeded generator of reference-shaped raw snapshot envelopes
  * `{day_date_id, time_of_day_id, data:[…]}`. Each element carries the
  * `events` fields: stream id -> `event_id`, broadcaster -> `user_id`,
  * category -> `event_type`, viewers -> `value`, plus the capture time
  * `ts` and a JSON `props` string.
  *
  * Row rules: at most one stream per user per slot; about 2% identical
  * copies of valid rows in another shard; about 0.5% invalid ids; a
  * share of streamers is replaced every cycle (some by returning users,
  * the rest by never-seen ones, so the users dimension grows every
  * cycle); categories are Zipf-skewed.
  */
final class Generator(t: Traffic, seed: Long) {
  private val rnd = new java.util.Random(seed)

  /** first slot: 2026-01-11 00:00 UTC, the reference's first capture day */
  private val epoch0 = 1768089600L
  private val slotSeconds = 900L

  private val catIds: Array[String] = Array.tabulate(t.categories)(k => (10000 + 13 * k).toString)
  private val catCdf: Array[Double] = {
    val w = Array.tabulate(t.categories)(k => 1.0 / math.pow(k + 1, t.zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private def drawCategory(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(catCdf, u)
    math.min(if (i >= 0) i else -i - 1, t.categories - 1)
  }

  // active streamers: user id, current stream id, category, base audience
  private val users = new Array[Long](t.valid)
  private val streams = new Array[Long](t.valid)
  private val cats = new Array[Int](t.valid)
  private val audience = new Array[Long](t.valid)
  private val departed = mutable.ArrayBuffer.empty[Long]
  private var nextUser = 40000000L
  private var nextStream = 300000000000L
  private val seenCategories = mutable.HashSet.empty[String]
  private var cycle = 0

  private def newStream(i: Int): Unit = {
    streams(i) = nextStream; nextStream += 1
    cats(i) = drawCategory()
    audience(i) = math.min(200000L, math.exp(rnd.nextGaussian() * t.audienceSigma + t.audienceMu).toLong)
  }

  private def admit(i: Int, returning: Boolean): Boolean = {
    if (returning && departed.nonEmpty) {
      val j = rnd.nextInt(departed.size)
      users(i) = departed(j)
      departed(j) = departed.last
      departed.remove(departed.size - 1)
      newStream(i)
      false
    } else {
      users(i) = nextUser; nextUser += 1
      newStream(i)
      true
    }
  }

  def slotKeys(c: Int): (String, String) = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd HHmm")
      .withZone(java.time.ZoneOffset.UTC)
    val Array(d, h) = fmt.format(java.time.Instant.ofEpochSecond(epoch0 + c * slotSeconds)).split(' ')
    (d, h)
  }

  /** Write the next cycle's shards into `dir` (created) as
    * `<prefix>_<day>_<time>_s<k>.json` and return what the pipeline must
    * produce from them. Each file's mtime is its capture time (the slot
    * plus k ms), so a file source that takes the oldest files first reads
    * cycles, and shards within a cycle, in capture order.
    */
  def nextCycle(dir: Path, prefix: String): Expected = {
    val c = cycle
    cycle += 1
    var newUsers = 0L
    if (c == 0) {
      var i = 0
      while (i < t.valid) { admit(i, returning = false); newUsers += 1; i += 1 }
    } else {
      // distinct slots, so a streamer admitted this cycle is never also
      // the one who leaves (it would count as returning without having streamed)
      val replaced = math.round(t.valid * t.churn).toInt
      val done = new java.util.BitSet(t.valid)
      var k = 0
      while (k < replaced) {
        val i = rnd.nextInt(t.valid)
        if (!done.get(i)) {
          done.set(i)
          departed += users(i)
          if (admit(i, rnd.nextDouble() < t.returningShare)) newUsers += 1
          k += 1
        }
      }
      // streamers who stay: a new broadcast or a category switch now and then
      var i = 0
      while (i < t.valid) {
        if (rnd.nextDouble() < t.newStreamShare) newStream(i)
        i += 1
      }
    }
    val (day, time) = slotKeys(c)
    val slotEpoch = epoch0 + c * slotSeconds

    val bodies = Array.fill(t.shards)(new java.lang.StringBuilder(64 + t.rows / t.shards * 160))
    // capture time within +-7 minutes of the slot: nearest slot is this one
    def captureTime(): String =
      java.time.Instant.ofEpochSecond(slotEpoch + rnd.nextInt(841) - 420).toString
    def emit(shard: Int, eventId: String, ts: String, userId: Long, category: String,
             viewers: Long, props: String): Unit = {
      val sb = bodies(shard)
      if (sb.length > 0) sb.append(',')
      sb.append("{\"event_id\":").append(eventId)
        .append(",\"ts\":\"").append(ts)
        .append("\",\"user_id\":").append(userId)
        .append(",\"event_type\":\"").append(category)
        .append("\",\"value\":").append(viewers).append(".0")
        .append(",\"props\":").append(props).append('}')
    }

    var sumEventId, sumUserId, sumValue, sumPropK, countPropK = 0L
    val perCategory = mutable.HashMap.empty[String, Long]
    val rows = new Array[(Int, String, String, Long, String, Long, String)](t.valid)
    var i = 0
    while (i < t.valid) {
      val cat = if (rnd.nextDouble() < t.emptyCategoryShare) "" else catIds(cats(i))
      val viewers = math.max(1L, audience(i) + rnd.nextInt(21) - 10)
      val propK = if (rnd.nextBoolean()) -1 else rnd.nextInt(100)
      val props = if (propK < 0) "null" else "\"{\\\"k\\\":" + propK + "}\""
      val shard = Math.floorMod(cat.hashCode, t.shards)
      val row = (shard, streams(i).toString, captureTime(), users(i), cat, viewers, props)
      rows(i) = row
      emit(row._1, row._2, row._3, row._4, row._5, row._6, row._7)
      sumEventId += streams(i); sumUserId += users(i); sumValue += viewers
      if (propK >= 0) { sumPropK += propK; countPropK += 1 }
      val key = if (cat.isEmpty) "notavailable" else cat
      perCategory(key) = perCategory.getOrElse(key, 0L) + 1
      i += 1
    }
    var k = 0
    while (k < t.copies) {
      val (shard, e, ts, u, cat, v, p) = rows(rnd.nextInt(t.valid))
      emit((shard + 1 + rnd.nextInt(t.shards - 1)) % t.shards, e, ts, u, cat, v, p)
      k += 1
    }
    k = 0
    while (k < t.invalid) {
      val shard = rnd.nextInt(t.shards)
      val cat = catIds(drawCategory())
      if (k % 2 == 0) emit(shard, "null", captureTime(), users(rnd.nextInt(t.valid)), cat, 5L, "null")
      else emit(shard, nextStream.toString, captureTime(), -1L - rnd.nextInt(1000000), cat, 5L, "null")
      nextStream += 1
      k += 1
    }

    Files.createDirectories(dir)
    var s = 0
    while (s < t.shards) {
      val json = s"""{"day_date_id":"$day","time_of_day_id":"$time","data":[""" + bodies(s) + "]}\n"
      val f = Files.write(dir.resolve(f"${prefix}_${day}_${time}_s$s%02d.json"), json.getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(slotEpoch * 1000 + s))
      s += 1
    }
    val newCategories = perCategory.keys.count(seenCategories.add).toLong
    Expected(day, time, t.valid.toLong, sumEventId, sumUserId, sumValue, sumPropK, countPropK,
      perCategory.toMap, newUsers, newCategories, (t.valid + t.copies + t.invalid).toLong)
  }
}
