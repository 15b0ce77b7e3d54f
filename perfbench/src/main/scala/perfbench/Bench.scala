package perfbench

import graft.Schemas
import graft.plans.Orchestrator
import graft.sources.Layers
import graft.streaming.SnapshotStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Snapshot-cycle benchmark of the medallion pipeline.
  *
  * Drives reference-shaped snapshot cycles through the program's public
  * entry points and times each call from outside:
  *   batch:     Layers.readEnvelopes -> Orchestrator.runSnapshot ->
  *              Orchestrator.upsertDim (users, categories) ->
  *              Layers.loadSnapshotJdbc (fact) + Layers.writeJdbc (dimension deltas)
  *   streaming: SnapshotStream.readJsonLayer -> SnapshotStream.curatedStream ->
  *              foreachBatch { the same upsert and load calls }, run by SnapshotStream.runOnce
  * into an embedded in-memory Derby database. Every cycle is checked
  * against the generator's oracle; the last stdout line is the result JSON.
  *
  * Usage: Bench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--rows <n>] [--warmup <cycles>] [--backlog <cycles>] [--oracle-out <file>]
  */
object Bench {

  /** `backlog`: cycles of the outage a streaming run drains; 0 sizes it
    * from the run length (0.8 cycles per second, whole hours).
    */
  final case class Workload(name: String, traffic: Traffic, streaming: Boolean,
                            warmup: Int, backlog: Int)

  val workloads: Map[String, Workload] = Seq(
    Workload("snapshot_7k", Traffic(7000), streaming = false, warmup = 6, backlog = 0),
    Workload("backfill_stream", Traffic(7000), streaming = true, warmup = 2, backlog = 0),
  ).map(w => w.name -> w).toMap

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_p50_s" -> "s", "cycle_tail_s" -> "s", "batch_p50_s" -> "s",
    "rows_per_s" -> "1/s", "retained_mb" -> "MB")

  val SpanNames: Seq[String] = Seq("pipeline.cycle", "plans.run_snapshot",
    "plans.upsert_dim_users", "plans.upsert_dim_categories",
    "sources.load_fact", "sources.load_dims", "streaming.batch")
  val SpanSuffixes: Seq[(String, String)] = Seq(
    "ms" -> "ms", "driver_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "planning_ms" -> "ms", "executor_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "output_bytes" -> "bytes")
  val StreamingDurations: Seq[(String, String)] = Seq(
    "latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
    "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
    "commit_offsets" -> "commitOffsets")

  val PerLayer: Seq[(String, String)] =
    SpanNames.flatMap(n => SpanSuffixes.map { case (s, u) => s"$n.$s" -> u }) ++
      StreamingDurations.map { case (n, _) => s"streaming.${n}_ms" -> "ms" } ++ Seq(
      "streaming.state_rows" -> "count", "streaming.state_memory_bytes" -> "bytes",
      "streaming.rows_dropped_by_watermark" -> "count",
      "plans.upsert_dim_users.rewrite_ratio" -> "ratio", "plans.upsert_dim_users.growth" -> "ratio",
      "state.dim_users_rows" -> "count", "state.dim_users_bytes" -> "bytes",
      "state.checkpoint_bytes" -> "bytes", "state.curated_layer_snapshots" -> "count",
      "operators.keep_ratio" -> "ratio", "setup.session_s" -> "s", "setup.warmup_s" -> "s",
      "trace.overhead_ratio" -> "ratio")

  /** The `events` element schema of a raw envelope. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try run(opts)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }

  private def run(opts: Map[String, String]): Int = {
    val base = workloads.getOrElse(opts.getOrElse("workload", ""),
      throw new IllegalArgumentException(s"--workload must be one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val w = base.copy(
      traffic = opts.get("rows").map(r => base.traffic.copy(rows = r.toInt)).getOrElse(base.traffic),
      warmup = opts.get("warmup").map(_.toInt).getOrElse(base.warmup),
      backlog = opts.get("backlog").map(_.toInt).getOrElse(base.backlog))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = Mark.now()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val p = new Pipeline(spark, w, seed, work, opts.get("oracle-out"))
      p.bootDerby()
      val (result, correct) = p.measure(seconds, trace, t0)
      println(result)
      if (correct) 0 else 1
    } finally spark.stop()
  }
}

/** One run's state: generator, oracle, layer and dimension roots, Derby. */
final class Pipeline(spark: SparkSession, w: Bench.Workload, seed: Long, work: Path,
                     oracleOut: Option[String]) {
  import Bench._

  private val gen = new Generator(w.traffic, seed)
  private val rawDir = work.resolve("raw")
  private val stagingDir = work.resolve("staging")
  private val layerRoot = work.resolve("layers").toString
  private val dimUsers = work.resolve("dims/users").toString
  private val dimCategories = work.resolve("dims/categories").toString
  private val checkpoint = work.resolve("checkpoint").toString
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val tracer = new Tracer(spark)

  private def props(varchars: String*): java.util.Properties = {
    val p = new java.util.Properties()
    // Derby's EmbeddedDriver ships in derbytools.jar next to Spark's jars.
    // Spark maps StringType to CLOB on Derby, which a WHERE clause cannot
    // compare: pin the string columns to VARCHAR.
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    if (varchars.nonEmpty) p.setProperty("createTableColumnTypes", varchars.mkString(", "))
    p.setProperty("numPartitions", "1") // one JDBC connection at a time
    p
  }
  private val factProps = props("day_date_id VARCHAR(8)", "time_of_day_id VARCHAR(4)", "event_type VARCHAR(64)")
  private val userProps = props()
  private val categoryProps = props("event_type VARCHAR(64)")

  def bootDerby(): Unit = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    java.sql.DriverManager.getConnection(url).close()
  }

  // ---- oracle ---------------------------------------------------------

  private val expected = mutable.ArrayBuffer.empty[Expected]
  private var usersTotal, categoriesTotal = 0L
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private val failedCycles = mutable.LinkedHashSet.empty[String]
  private var checkedCycles = 0

  private def slotName(e: Expected) = s"${e.day}_${e.time}"
  private def fail(cycle: String, why: String): Unit = { failedCycles += cycle; mismatches += why }

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }
  private def longs(c: java.sql.Connection, sql: String, args: String*): Seq[Long] = {
    val st = c.prepareStatement(sql)
    try {
      args.zipWithIndex.foreach { case (a, i) => st.setString(i + 1, a) }
      val rs = st.executeQuery()
      rs.next()
      (1 to rs.getMetaData.getColumnCount).map { i =>
        val v = rs.getBigDecimal(i); if (v == null) 0L else v.longValueExact()
      }
    } finally st.close()
  }

  /** Check the committed fact rows of `exps` and the dimension totals in
    * Derby, and the pack plan when given. A dimension mismatch fails the
    * last cycle of `exps`.
    */
  private def verify(exps: Seq[Expected], pack: Option[Seq[(String, Long, Int)]]): Unit = {
    try withConn { c =>
      exps.foreach { e =>
        checkedCycles += 1
        val got = longs(c,
          """SELECT COUNT(*), SUM("event_id"), SUM("user_id"), SUM("value"), SUM("hours_watched") * 4,
            |SUM("prop_k"), COUNT("prop_k") FROM fact_streams
            |WHERE "day_date_id" = ? AND "time_of_day_id" = ?""".stripMargin, e.day, e.time)
        val want = Seq(e.factRows, e.sumEventId, e.sumUserId, e.sumValue, e.sumValue, e.sumPropK, e.countPropK)
        if (got != want) fail(slotName(e), s"fact ${slotName(e)}: got $got want $want")
        usersTotal += e.newUsers
        categoriesTotal += e.newCategories
      }
      val last = slotName(exps.last)
      val users = longs(c, "SELECT COUNT(*), COUNT(DISTINCT \"user_id\") FROM dim_users")
      if (users != Seq(usersTotal, usersTotal)) fail(last, s"dim_users after $last: got $users want $usersTotal")
      val cats = longs(c, "SELECT COUNT(*), COUNT(DISTINCT \"event_type\") FROM dim_categories")
      if (cats != Seq(categoriesTotal, categoriesTotal))
        fail(last, s"dim_categories after $last: got $cats want $categoriesTotal")
    } catch { case ex: java.sql.SQLException => exps.foreach(e => fail(slotName(e), s"${slotName(e)}: $ex")) }
    pack.foreach { plan =>
      val e = exps.head
      val weights = plan.map { case (k, wt, _) => k -> wt }.toMap
      if (plan.size != weights.size || weights != e.perCategory)
        fail(slotName(e), s"pack plan ${slotName(e)}: ${plan.size} rows, weights differ from per-category counts")
      if (plan.exists { case (_, _, g) => g < 0 || g >= 25 }) fail(slotName(e), "pack plan group out of range")
    }
  }

  /** Per-category totals over every cycle, from the serving table. */
  private def verifyCategories(): Unit = {
    val want = mutable.HashMap.empty[String, Long]
    expected.foreach(_.perCategory.foreach { case (k, v) => want(k) = want.getOrElse(k, 0L) + v })
    val got = mutable.HashMap.empty[String, Long]
    withConn { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT \"event_type\", COUNT(*) FROM fact_streams GROUP BY \"event_type\"")
      while (rs.next()) got(rs.getString(1)) = rs.getLong(2)
    }
    if (got != want)
      fail(slotName(expected.last), "per-category counts differ on " +
        s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} categories")
  }

  // ---- batch cycle ----------------------------------------------------

  private var unit = 0 // cycle (batch workloads) or micro-batch (streaming) being run
  private val unitNewUsers = mutable.HashMap.empty[Int, Long]

  /** Generate, release and run one snapshot cycle; returns its latency. */
  private def batchCycle(): Lap = {
    val slotDir = stagingDir.resolve(s"cycle_$unit")
    val e = gen.nextCycle(slotDir, "raw_streams")
    expected += e
    val released = rawDir.resolve(s"${e.day}_${e.time}")
    Files.createDirectories(rawDir)
    val u = unit
    val release = Mark.now()
    Files.move(slotDir, released, StandardCopyOption.ATOMIC_MOVE)
    val root = tracer.newId()
    var pack: Seq[(String, Long, Int)] = Nil
    val commit = runRoot(root, u, release, Seq(e)) {
      val raw = Layers.readEnvelopes(spark, s"$released/*.json", eventSchema)
      val res = tracer.span("plans.run_snapshot", root, u) {
        Orchestrator.runSnapshot(spark, raw, Some(layerRoot))
      }
      pack = res.packPlan.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      // runSnapshot's curated layer is shared by all cycles: keep this cycle's keys only
      val curated = res.curated.filter(col("day_date_id") === e.day && col("time_of_day_id") === e.time)
      val users = tracer.span("plans.upsert_dim_users", root, u) {
        Orchestrator.upsertDim(spark, curated.select("user_id").distinct(), dimUsers, Seq("user_id"))
      }
      val cats = tracer.span("plans.upsert_dim_categories", root, u) {
        Orchestrator.upsertDim(spark, curated.select("event_type").distinct(), dimCategories, Seq("event_type"))
      }
      tracer.span("sources.load_fact", root, u) {
        Layers.loadSnapshotJdbc(curated, url, "fact_streams", factProps, e.day, e.time)
      }
      tracer.span("sources.load_dims", root, u) {
        Layers.writeJdbc(users, url, "dim_users", userProps)
        Layers.writeJdbc(cats, url, "dim_categories", categoryProps)
      }
    }
    unitNewUsers(u) = e.newUsers
    verify(Seq(e), Some(pack))
    unit += 1
    release.until(commit)
  }

  /** Run one cycle or micro-batch under its root span; returns its end. */
  private def runRoot(root: Long, u: Int, start: Mark, cycles: => Seq[Expected])(body: => Unit): Mark = {
    try body
    catch { case ex: Exception =>
      cycles.foreach(e => fail(slotName(e), s"${slotName(e)} threw $ex"))
    }
    val end = Mark.now()
    tracer.record(Span(root, "pipeline.cycle", 0L, u, start.ns, end.ns))
    end
  }

  // ---- streaming ------------------------------------------------------

  private lazy val streamDir = work.resolve("stream_raw")
  private lazy val writer = {
    Files.createDirectories(streamDir)
    val raw = SnapshotStream.readJsonLayer(spark, streamDir.toString, Schemas.envelope(eventSchema))
      .select(explode(col("data")).as("d")).select(col("d.*"))
    SnapshotStream.curatedStream(raw).writeStream.foreachBatch(
      (batch: DataFrame, _: Long) => streamBatch(batch))
  }
  private val loadedSlots = mutable.HashSet.empty[(String, String)]
  private val slotCommit = mutable.HashMap.empty[(String, String), Mark]
  private val batchTimes = mutable.ArrayBuffer.empty[(Int, Lap)]
  private var lastBatchEnd = Mark(0L, 0L, 0L)

  private var traceBatches = false
  private val tracedBatches = mutable.HashSet.empty[Int]
  private var inFlight: Seq[Expected] = Nil // the cycles of the running replay

  private def streamBatch(batch: DataFrame): Unit = {
    val u = unit
    if (traceBatches) {
      // traced and untraced micro-batches alternate, for the overhead estimate
      tracer.set(u % 2 == 0)
      if (tracer.enabled) tracedBatches += u
    }
    val root = tracer.newId()
    val start = lastBatchEnd
    var slots: Seq[(String, String)] = Nil
    lastBatchEnd = runRoot(root, u, start, inFlight) {
      slots = tracer.span("streaming.batch", root, u) {
        batch.persist()
        batch.select("day_date_id", "time_of_day_id").distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      }
      if (slots.nonEmpty) {
        val users = tracer.span("plans.upsert_dim_users", root, u) {
          Orchestrator.upsertDim(spark, batch.select("user_id").distinct(), dimUsers, Seq("user_id"))
        }
        val cats = tracer.span("plans.upsert_dim_categories", root, u) {
          Orchestrator.upsertDim(spark, batch.select("event_type").distinct(), dimCategories, Seq("event_type"))
        }
        tracer.span("sources.load_fact", root, u) {
          slots.foreach { case s @ (day, time) =>
            val part = batch.filter(col("day_date_id") === day && col("time_of_day_id") === time)
            // a slot split across micro-batches: its first part is loaded, the rest appended
            if (loadedSlots.add(s)) Layers.loadSnapshotJdbc(part, url, "fact_streams", factProps, day, time)
            else Layers.writeJdbc(part, url, "fact_streams", factProps)
          }
        }
        tracer.span("sources.load_dims", root, u) {
          Layers.writeJdbc(users, url, "dim_users", userProps)
          Layers.writeJdbc(cats, url, "dim_categories", categoryProps)
        }
      }
      batch.unpersist()
    }
    if (slots.nonEmpty) {
      batchTimes += u -> start.until(lastBatchEnd)
      unitNewUsers(u) = expected.filter(e => slots.contains((e.day, e.time))).map(_.newUsers).sum
      slots.foreach(slotCommit(_) = lastBatchEnd)
      unit += 1
    } else tracer.spans.removeIf(_.unit == u) // the closing no-data batch is not a unit
  }

  /** Generate `cycles` cycles, release them all at once into the watched
    * directory and drain them with one AvailableNow run. Returns the
    * per-cycle latencies (release to commit) and the drain time.
    */
  private def replay(cycles: Int): (Seq[Lap], Lap) = {
    val batchDir = stagingDir.resolve(s"replay_${expected.size}")
    val exps = (0 until cycles).map(_ => gen.nextCycle(batchDir, "raw_streams"))
    expected ++= exps
    val release = Mark.now()
    Files.list(batchDir).iterator().asScala.toVector.foreach(f =>
      Files.move(f, streamDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
    lastBatchEnd = release
    inFlight = exps
    try SnapshotStream.runOnce(writer, checkpoint)
    catch { case ex: Exception => exps.foreach(e => fail(slotName(e), s"${slotName(e)}: stream run threw $ex")) }
    val drain = release.until(Mark.now())
    val lat = exps.map(e => slotCommit.get((e.day, e.time)).map(release.until).getOrElse(drain))
    verify(exps, None)
    (lat, drain)
  }

  // ---- measurement ----------------------------------------------------

  /** Warm up, measure for `seconds`, check; returns the result line and
    * whether every cycle passed the oracle. `t0` is the session's start.
    * The end-to-end times are run times (`Mark.until`); the wall-clock
    * figures are printed beside them.
    */
  def measure(seconds: Double, trace: Boolean, t0: Mark): (String, Boolean) = {
    val tw = Mark.now()
    val warm =
      if (w.streaming) { writer; replay(w.warmup)._1 } else (0 until w.warmup).map(_ => batchCycle())
    val warmEnd = Mark.now()
    val session = t0.until(tw)
    val warmup = tw.until(warmEnd)
    val firstCycle = expected.size

    val cycleLat = mutable.ArrayBuffer.empty[Lap]
    val units = mutable.ArrayBuffer.empty[(Int, Lap, Boolean)] // unit, time, traced
    var timed = Lap(0.0, 0.0)
    if (w.streaming) {
      // one outage, all of it due at once, drained by one AvailableNow run
      val cycles = if (w.backlog > 0) w.backlog else math.max(8, 4 * math.round(seconds / 5.0).toInt)
      traceBatches = trace
      val u0 = unit
      val (lat, drain) = replay(cycles)
      cycleLat ++= lat
      timed = drain
      // traced and untraced halves alternate by micro-batch
      batchTimes.filter(_._1 >= u0).foreach { case (u, t) => units += ((u, t, tracedBatches(u))) }
    } else {
      val tm = System.nanoTime()
      var round = 0
      var last = 0.0
      // closed loop: start a cycle only if it should end within the window
      while (cycleLat.isEmpty || (System.nanoTime() - tm) / 1e9 + last <= seconds) {
        val traced = trace && round % 2 == 0
        tracer.set(traced)
        val u = unit
        val lap = batchCycle()
        last = lap.wallS
        cycleLat += lap
        timed = Lap(timed.wallS + lap.wallS, timed.runS + lap.runS)
        units += ((u, lap, traced))
        round += 1
      }
    }
    tracer.set(false)
    val measureEnd = Mark.now()
    val retainedMb = Stats.retainedMb()
    if (w.streaming) verifyCategories()

    val measured = expected.drop(firstCycle)
    val factRows = measured.map(_.factRows).sum.toDouble
    def times(run: Boolean): Map[String, Double] = {
      def pick(l: Lap) = if (run) l.runS else l.wallS
      val lat = cycleLat.toSeq.map(pick)
      Map(
        "setup_s" -> pick(t0.until(warmEnd)),
        "cycle_p50_s" -> Stats.median(lat),
        "cycle_tail_s" -> Stats.tail(lat)._1,
        "batch_p50_s" -> Stats.median(units.toSeq.map(x => pick(x._2))),
        "rows_per_s" -> factRows / pick(timed))
    }
    val e2e = times(run = true) + ("retained_mb" -> retainedMb)
    val wall = times(run = false)
    val tailP = Stats.tail(cycleLat.toSeq.map(_.runS))._2
    val steal = warmEnd.until(measureEnd)
    println(f"samples cycles=${cycleLat.size} units=${units.size} tail_percentile=$tailP%.1f " +
      s"timed_wall_s=${"%.3f".format(timed.wallS)} fact_rows=${factRows.toLong}")
    println(s"cycle latencies s (run/wall): ${cycleLat.map(x => f"${x.runS}%.3f/${x.wallS}%.3f").mkString(" ")}; " +
      s"unit s: ${units.map(x => f"${x._2.runS}%.3f/${x._2.wallS}%.3f").mkString(" ")}")
    println(f"cpu steal during measurement: ${100.0 * (1 - steal.runS / steal.wallS)}%.1f%% of busy time")
    println("wall clock: " + wall.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    println(f"setup: session ${session.runS}%.3f s (wall ${session.wallS}%.3f), " +
      f"warm-up ${warmup.runS}%.3f s (wall ${warmup.wallS}%.3f; ${warm.map(x => f"${x.wallS}%.3f").mkString(" ")})")
    println(s"workload ${w.name}: ${if (w.streaming) s"streaming backfill of ${measured.size} cycles released at once" else "closed loop, one cycle in flight"}; ${w.traffic.describe}")
    println(f"headroom cycle_tail_s=${e2e("cycle_tail_s")}%.3f s against the 900 s cycle budget: ${900.0 / e2e("cycle_tail_s")}%.0fx")
    val failedRatio = if (checkedCycles == 0) 1.0 else failedCycles.size.toDouble / checkedCycles
    println(f"failed_ratio $failedRatio%.4f (${failedCycles.size} of $checkedCycles cycles)")
    mismatches.take(20).foreach(m => println(s"oracle mismatch: $m"))
    oracleOut.foreach(p => Files.write(Paths.get(p), Stats.oracleJson(expected.toSeq).getBytes("UTF-8")))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map { case (k, unitName) => (k, e2e(k), unitName) }
      else {
        val layer = perLayer(units.toSeq.map { case (u, t, tr) => (u, t.wallS, tr) }, measured.toSeq,
          session.runS, warmup.runS)
        PerLayer.map { case (k, unitName) => (k, layer.getOrElse(k, 0.0), unitName) }
      }
    val correct = failedCycles.isEmpty && checkedCycles > 0
    (Stats.resultJson(correct, checkedCycles, failedCycles.size, metrics), correct)
  }

  private def perLayer(units: Seq[(Int, Double, Boolean)], measured: Seq[Expected],
                       sessionS: Double, warmupS: Double): Map[String, Double] = {
    val layers = tracer.layers()
    val traced = units.filter(_._3).map(_._1).sorted
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (n <- SpanNames; (s, _) <- SpanSuffixes) {
      val byUnit = layers.getOrElse(n, Map.empty)
      out(s"$n.$s") = Stats.median(traced.map(u => byUnit.get(u).map(_(s)).getOrElse(0.0)))
    }
    val prog = tracer.progress.filter(_.numInputRows > 0).toSeq
    StreamingDurations.foreach { case (n, key) =>
      out(s"streaming.${n}_ms") = Stats.median(prog.map(p =>
        Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    }
    out("streaming.state_rows") = (0.0 +: tracer.progress.toSeq.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)).max
    out("streaming.state_memory_bytes") = (0.0 +: tracer.progress.toSeq.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)).max
    out("streaming.rows_dropped_by_watermark") = tracer.progress.toSeq.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble).sum

    val upserts = layers.getOrElse("plans.upsert_dim_users", Map.empty)
    val rewritten = traced.map(u => upserts.get(u).map(_("output_records")).getOrElse(0.0)).sum
    val delta = traced.map(u => unitNewUsers.getOrElse(u, 0L)).sum.toDouble
    out("plans.upsert_dim_users.rewrite_ratio") = if (delta > 0) rewritten / delta else 0.0
    val selfMs = traced.map(u => upserts.get(u).map(_("ms")).getOrElse(0.0))
    val q = math.max(1, selfMs.size / 4)
    out("plans.upsert_dim_users.growth") =
      if (selfMs.isEmpty) 0.0 else Stats.median(selfMs.takeRight(q)) / Stats.median(selfMs.take(q))

    out("state.dim_users_rows") = spark.read.parquet(dimUsers).count().toDouble
    out("state.dim_users_bytes") = Stats.dirBytes(Paths.get(dimUsers)).toDouble
    out("state.checkpoint_bytes") = Stats.dirBytes(Paths.get(checkpoint)).toDouble
    val curatedLayer = Paths.get(layerRoot, "curated_events")
    out("state.curated_layer_snapshots") =
      if (!Files.isDirectory(curatedLayer)) 0.0
      else Files.walk(curatedLayer).iterator().asScala
        .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("time_of_day_id=")).toDouble
    val raw = measured.map(_.rawObjects).sum.toDouble
    out("operators.keep_ratio") = if (raw > 0) measured.map(_.factRows).sum / raw else 0.0
    out("setup.session_s") = sessionS
    out("setup.warmup_s") = warmupS
    val tracedS = Stats.median(units.filter(_._3).map(_._2))
    val plainS = Stats.median(units.filterNot(_._3).map(_._2))
    out("trace.overhead_ratio") = if (plainS > 0) tracedS / plainS else 0.0

    // where the traced units' time went: self times sum to the unit time
    val shares = SpanNames.map(n => n -> out(s"$n.ms")).sortBy(-_._2)
    println(f"traced units ${traced.size}, untraced ${units.count(!_._3)}: median self ms " +
      shares.map { case (n, v) => f"$n=$v%.1f" }.mkString(" "))
    println(f"accounted: sum of median self times ${shares.map(_._2).sum / 1000}%.3f s; " +
      f"untraced unit p50 $plainS%.3f s; traced unit p50 $tracedS%.3f s")
    println(s"top layer: ${shares.filter(_._1 != "pipeline.cycle").head._1}")
    out.toMap
  }
}
