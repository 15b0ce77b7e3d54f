package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skewed-key stress gate — the complement to `ShuffleBudgetSpec`,
  * which measures BYTES and is blind to their DISTRIBUTION: a shuffle
  * can stay inside its byte budget while one hot key turns a stage
  * into a single straggler task. Every fixture here plants one hot key
  * holding ~50% of all rows (the hot category / hot user / hub node of
  * a production corpus) beside a uniform control of the SAME row
  * count, and asserts the heavy shapes hold up:
  *
  *  - shuffle-byte envelope: skew must not INFLATE payload (bytes are
  *    data-deterministic, so the ≤1.5×+64 KiB envelope is tight);
  *  - wall-clock envelope: generous (≤4× + 2 s floor, min of 2 runs)
  *    so the gate trips on a 10× straggler collapse, not box noise;
  *  - the mitigation itself, pinned in the plan: map-side partial
  *    aggregation absorbing the hot group, the broadcast join having
  *    no key shuffle to skew, AQE's skew-join split (`skew=true`)
  *    firing on the big-big sort-merge join, the within-basket
  *    `collect_set` capping a hot basket's pair explode at the ITEM
  *    VOCABULARY, never its row count.
  *
  * Measured ratios and the one documented >1× degrade class (per-key
  * windows: sessionization's hot partition is irreducibly sequential;
  * mitigation = session-scoped operators bound state per session, and
  * the gap-session contract caps per-key event counts) live in
  * PERF.md "Round 12".
  */
class SkewStressSpec extends SparkSpec {

  import spark.implicits._

  private val nKeys = 1000

  /** Fixture size multiplier (SPARK_GRAFT_SKEW_SCALE, default 1): the
    * sf1.0-class stress run sets 10 so the 50%-hot fixtures are probed
    * at ten times the row count, where local ratios have room to
    * become stragglers. Envelopes are ratio-based, so they apply
    * unchanged at any scale; measured numbers live in PERF.md.
    */
  private val scale = sys.env.getOrElse("SPARK_GRAFT_SKEW_SCALE", "1").toLong

  /** ~50% of rows on hot key 0, rest hash-uniform over 1..nKeys. */
  private def skewed(n: Long): DataFrame =
    spark.range(n).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(hash(col("id")), lit(nKeys)).cast("long") + 1L)
        .as("key"),
      col("id"),
      (col("id") % 97).cast("double").as("v"))

  /** Same row count, hash-uniform over 0..nKeys — the control. */
  private def uniform(n: Long): DataFrame =
    spark.range(n).select(
      pmod(hash(col("id")), lit(nKeys + 1)).cast("long").as("key"),
      col("id"),
      (col("id") % 97).cast("double").as("v"))

  /** (seconds, shuffleBytes) for the FASTER of two runs — one repeat
    * is enough to shed a cold-cache first execution without turning
    * the spec into a benchmark.
    */
  private def measure(f: => Long): (Double, Long) =
    ShuffleTally.using(spark) { tally =>
      val runs = Seq.fill(2) {
        tally.measure("skew-stress run") {
          val t0 = System.nanoTime()
          f
          (System.nanoTime() - t0) / 1e9
        }
      }
      runs.minBy(_._1)
    }

  private def withinEnvelope(what: String, skew: (Double, Long),
                             base: (Double, Long)): Unit = {
    info(f"$what: skew ${skew._1}%.2fs/${skew._2}%,dB vs uniform " +
      f"${base._1}%.2fs/${base._2}%,dB (${skew._1 / math.max(base._1, 1e-9)}%.2fx time)")
    withClue(s"$what skew=${skew._1}%.2fs/${skew._2}B " +
      s"uniform=${base._1}%.2fs/${base._2}B\n") {
      assert(skew._2 <= (base._2 * 1.5).toLong + 65536L,
        s"$what: skew inflated shuffle bytes")
      assert(skew._1 <= math.max(base._1 * 4.0, base._1 + 2.0),
        s"$what: skew wall-clock beyond envelope")
    }
  }

  test("hot-key aggregation: partial aggregation absorbs a 50% key") {
    val n = 2000000L * scale
    val agg = (d: DataFrame) =>
      d.groupBy(col("key")).agg(sum(col("v")).as("s"),
        count(lit(1)).as("c")).count()
    val plan = skewed(n).groupBy(col("key")).agg(sum(col("v")))
      .queryExecution.executedPlan.toString
    // two HashAggregates around the exchange = map-side combine: the
    // hot key leaves each input partition as ONE partial row
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    withinEnvelope("agg", measure(agg(skewed(n))), measure(agg(uniform(n))))
  }

  test("broadcast star join: a hot FK never shuffles by the join key") {
    val dim = spark.range(nKeys + 1).select(col("id").as("key"),
      (col("id") % 7).cast("string").as("seg"))
    val q = (d: DataFrame) => d.join(broadcast(dim), "key")
      .groupBy(col("seg")).agg(sum(col("v")).as("s"))
    val plan = q(skewed(1000000L * scale)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the ONLY exchange keys on seg (7 values), never on the hot key
    assert(!plan.contains("hashpartitioning(key"), plan)
    withinEnvelope("star",
      measure(q(skewed(1000000L * scale)).count()),
      measure(q(uniform(1000000L * scale)).count()))
  }

  test("big-big join on a hot key: AQE splits the skewed partition") {
    // thresholds scaled DOWN to the fixture (defaults target 256 MB
    // partitions): with 4 shuffle partitions the hot one holds ~50%+
    // of bytes ≈ 4× the median, so factor 2 + a 100 KB floor is the
    // local-scale equivalent of the production 5×/256 MB defaults
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val right = spark.range(nKeys + 1).select(col("id").as("key"),
        (col("id") % 13).cast("string").as("attr"))
      val j = skewed(1000000L * scale).join(right, "key")
        .groupBy(col("attr")).agg(count(lit(1)).as("c"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("skew=true"),
        s"AQE skew-join split did not fire:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hot basket: pair explode is capped by the item vocabulary") {
    val vocab = 40
    // basket 0 holds 50% of 200k rows but draws from `vocab` items —
    // collect_set dedups before pairCombos, so its contribution is
    // C(40,2), not C(100k,2)
    val items = spark.range(200000L * scale).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(hash(col("id")), lit(999)).cast("long") + 1L)
        .as("basket"),
      pmod(hash(col("id") * 31), lit(vocab)).cast("long").as("item"))
    val pairs = graft.operators.Basket.pairAffinity(
      items, "basket", "item", minPairs = 1L)
    assert(pairs.count() <= vocab.toLong * (vocab - 1) / 2,
      "pair table exceeded the vocabulary bound")
  }

  test("components with a hub holding half the edges") {
    // 200k×scale edges: half star-shaped on hub 0, half a chain — one
    // component either way; the hub is just a high-degree row
    val n = 200000L * scale
    val edges = spark.range(n).select(
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(col("id")).as("id_a"),
      (col("id") + 1000000L).as("id_b"))
    val comp = graft.operators.Components.connectedComponents(
      edges.unionByName(
        spark.range(n - 1).select((col("id") + 1000000L).as("id_a"),
          (col("id") + 1000001L).as("id_b"))))
    comp.select(countDistinct(col("component"))).head().getLong(0) shouldBe 1L
  }

  test("per-key window (sessionization) on a hot user: bounded envelope") {
    val mk = (d: DataFrame) => d.select(col("key").as("user_id"),
      timestamp_seconds(lit(1700000000L) + col("id") % 100000L).as("ts"))
    val run = (d: DataFrame) => graft.operators.Sessionize
      .sessions(mk(d), "user_id", "ts", gapSeconds = 600).count()
    // the hot partition is irreducibly sequential (a window key cannot
    // split); at 50%-hot this is the documented worst class — envelope
    // still holds because a per-key sort is O(n log n) in ONE task, not
    // a quadratic blowup
    withinEnvelope("sessions",
      measure(run(skewed(400000L * scale))),
      measure(run(uniform(400000L * scale))))
  }
}
