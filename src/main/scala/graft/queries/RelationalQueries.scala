package graft
package queries

import graft.functions.{Rounding, TextFns, TimeFns}
import graft.operators.{Dedup, Relational, SnapshotPipeline}
import graft.plans.BinPacking
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — core relational: joins, aggregates, windows and dimensions. */
object RelationalQueries {

  lazy val entries: Seq[Entry] = Seq(
    Entry("q01_pricing_summary", (s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          Rounding.pround(sum(col("l_discount").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      Some(
        s"""SELECT l_returnflag, l_linestatus,
          |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
          |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_disc_price,
          |  ${pround("CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*)", 4)} AS avg_disc,
          |  count(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Entry("q02_filter_project", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },
      Some(
        """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
          |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45""".stripMargin)),

    Entry("q03_star_join", (s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("total_spend"))
    },
      Some(
        """SELECT r_name, n_name, count(o_orderkey) AS n_orders,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spend
          |FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name""".stripMargin)),

    Entry("q04_left_join_agg", (s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("num_orders"),
          round(coalesce(sum(col("o_totalprice").cast("decimal(18,2)")), lit(0))
            .cast("double"), 2).as("total_spend"))
    },
      Some(
        """SELECT c_custkey, c_name, count(o_orderkey) AS num_orders,
          |  round(CAST(COALESCE(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE), 2) AS total_spend
          |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_custkey, c_name""".stripMargin)),

    Entry("q05_anti_join", (s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    Entry("q06_semi_join", (s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    },
      Some(
        """SELECT c_custkey, c_mktsegment FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),

    Entry("q07_distinct", (s, d) =>
      t(s, d, "orders").select("o_orderstatus", "o_orderpriority").distinct(),
      Some(
        "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders")),

    Entry("q09_topk", (s, d) => {
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .orderBy(col("total_qty").desc, col("p_brand").asc)
        .limit(10)
    },
      Some(
        """SELECT p_brand,
          |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand ORDER BY total_qty DESC, p_brand ASC LIMIT 10""".stripMargin)),

    Entry("q10_running_sum", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double"), 2).as("running_spend"))
    },
      Some(
        """SELECT o_custkey, o_orderkey,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_spend
          |FROM orders""".stripMargin)),

    Entry("q11_sentinel_fill", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          Relational.sentinelFill(col("lang"), "notavailable").as("lang_id"))
    },
      Some(
        """SELECT doc_id,
          |  CASE WHEN lang IS NULL OR lang = '' THEN 'notavailable' ELSE lang END AS lang_id
          |FROM documents""".stripMargin)),

    Entry("q12_explode_tokens", (s, d) => {
      // explode the raw split and drop empties as a ROW filter — the
      // array-lambda form (explode(tokens(...))) puts an interpreted
      // filter() in the scan projection; this shape is all codegen
      t(s, d, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    },
      Some(
        s"""SELECT u.token, count(*) AS n
           |FROM documents, unnest($toksSql) AS u(token)
           |GROUP BY u.token ORDER BY n DESC, u.token ASC LIMIT 20""".stripMargin)),

    Entry("q13_snapshot_slots", (s, d) => {
      t(s, d, "events")
        .select(TimeFns.snapshotDayId(col("ts")).as("day_date_id"),
          TimeFns.snapshotTimeId(col("ts")).as("time_of_day_id"))
        .groupBy("day_date_id", "time_of_day_id")
        .agg(count(lit(1)).as("n_events"))
    },
      Some(
        s"""SELECT ${slotFmt("%Y%m%d")} AS day_date_id, ${slotFmt("%H%M")} AS time_of_day_id,
           |  count(*) AS n_events
           |FROM events GROUP BY 1, 2""".stripMargin)),

    // tz-aware snapshot slots (reference X8): UTC event time -> Pacific
    // wall clock; local 23:53+ rolls to the NEXT day's "0000", otherwise
    // nearest same-day slot with first-win ties and a "2345" clamp
    Entry("q62_pacific_slots", (s, d) => {
      t(s, d, "events")
        .select(TimeFns.snapshotDayId(col("ts"), "US/Pacific").as("day_date_id"),
          TimeFns.snapshotTimeId(col("ts"), "US/Pacific").as("time_of_day_id"))
        .groupBy("day_date_id", "time_of_day_id")
        .agg(count(lit(1)).as("n_events"))
    },
      // mirrors TimeFns.snapshotDayId/snapshotTimeId(ts, tz): integer-
      // microsecond seconds-of-day, half-down nearest (ceil of a double
      // on both engines), slot-95 clamp, 23:53+ next-day rollover
      Some(
        """WITH loc AS (
          |  SELECT timezone('US/Pacific', timezone('UTC', ts::TIMESTAMP)) AS lt FROM events),
          |s AS (
          |  SELECT lt, epoch_us(lt) % 86400000000 AS sodus,
          |    (hour(lt) = 23 AND minute(lt) > 52) AS roll
          |  FROM loc),
          |i AS (
          |  SELECT lt, roll,
          |    least(CAST(ceil((sodus - 450000000) / 900000000.0) AS BIGINT), 95) AS idx
          |  FROM s)
          |SELECT
          |  CASE WHEN roll THEN strftime(CAST(lt AS DATE) + INTERVAL 1 DAY, '%Y%m%d')
          |       ELSE strftime(CAST(lt AS DATE), '%Y%m%d') END AS day_date_id,
          |  CASE WHEN roll THEN '0000'
          |       ELSE printf('%02d%02d', (idx * 15) // 60, (idx * 15) % 60) END AS time_of_day_id,
          |  count(*) AS n_events
          |FROM i GROUP BY 1, 2""".stripMargin)),

    Entry("q14_union_na", (s, d) => {
      t(s, d, "documents").select(col("lang").as("lang_id")).distinct()
        .unionByName(s.range(1).select(lit("NA").as("lang_id")))
    },
      Some(
        "SELECT DISTINCT lang AS lang_id FROM documents UNION ALL SELECT 'NA' AS lang_id")),

    Entry("q15_positional_zip", (s, d) => {
      val c = t(s, d, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc).limit(100)
      val sup = t(s, d, "supplier")
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc).limit(100)
      Relational.positionalZip(
          c, Seq(col("c_acctbal").desc, col("c_custkey").asc),
          sup, Seq(col("s_acctbal").desc, col("s_suppkey").asc))
        .select("rn", "c_name", "s_name")
    },
      Some(
        """WITH ct AS (SELECT c_name, row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
          |            FROM (SELECT * FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 100)),
          |     st AS (SELECT s_name, row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
          |            FROM (SELECT * FROM supplier ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 100))
          |SELECT ct.rn AS rn, c_name, s_name FROM ct JOIN st ON ct.rn = st.rn""".stripMargin)),

    Entry("q16_upsert_delta", (s, d) => {
      val split = lit("2024-01-15").cast("timestamp")
      val ev = t(s, d, "events")
      Relational.upsertDelta(
        ev.filter(col("ts") >= split).select("user_id").distinct(),
        ev.filter(col("ts") < split).select("user_id").distinct(),
        Seq("user_id"))
    },
      Some(
        """SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15'
          |AND user_id NOT IN (SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15')""".stripMargin)),

    Entry("q17_tumbling_window", (s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"))
    },
      Some(
        """SELECT CAST(floor(floor(epoch(ts)) / 900) * 900 AS BIGINT) AS win_start,
          |  event_type, count(*) AS n
          |FROM events GROUP BY 1, 2""".stripMargin)),

    Entry("q18_bin_packing", (s, d) => {
      val weights = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
      BinPacking.packDF(s, weights, "p_brand", "cnt", numGroups = 5, cap = 10000L)
    },
      // Replays BinPacking.pack's greedy loop as a recursive CTE: one
      // recursion step per item in (weight desc, id asc) order, carrying
      // the 5 running group totals as a list. The choice expression
      // mirrors the scan exactly — first group whose total stays <= cap
      // OR whose total is 0 (over-cap singleton), else the LAST group at
      // the minimum total (the reference scans with <=). numGroups=5 /
      // cap=10000 must track the q18 query's arguments.
      Some({
        val choose =
          """CASE WHEN len(list_filter(range(1, 6), j -> s.totals[j] + i.w <= 10000 OR s.totals[j] = 0)) > 0
            |     THEN list_filter(range(1, 6), j -> s.totals[j] + i.w <= 10000 OR s.totals[j] = 0)[1]
            |     ELSE list_filter(range(1, 6), j -> s.totals[j] = list_min(s.totals))[-1]
            |END""".stripMargin
        s"""WITH RECURSIVE agg AS (
           |  SELECT p_brand, count(*) AS cnt
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  GROUP BY p_brand),
           |items AS (
           |  SELECT p_brand, CAST(cnt AS BIGINT) AS w,
           |         CAST(row_number() OVER (ORDER BY cnt DESC, p_brand ASC) AS BIGINT) AS rn
           |  FROM agg),
           |st AS (
           |  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS VARCHAR) AS p_brand,
           |         CAST(NULL AS BIGINT) AS weight, CAST(NULL AS INT) AS group_id,
           |         [CAST(0 AS BIGINT), 0, 0, 0, 0] AS totals
           |  UNION ALL
           |  SELECT i.rn, i.p_brand, i.w, CAST(($choose) - 1 AS INT) AS group_id,
           |         list_transform(range(1, 6), k -> CASE WHEN k = ($choose) THEN s.totals[k] + i.w ELSE s.totals[k] END) AS totals
           |  FROM st s
           |  JOIN items i ON i.rn = s.rn + 1)
           |SELECT p_brand, weight, group_id FROM st WHERE rn > 0""".stripMargin
      })),

    Entry("q19_snapshot_chain", (s, d) => {
      SnapshotPipeline.popularity(
        SnapshotPipeline.curateEvents(
          SnapshotPipeline.processEvents(t(s, d, "events"))))
    },
      Some(
        s"""WITH p AS (
           |  SELECT event_id, user_id,
           |    CASE WHEN event_type IS NULL OR event_type = '' THEN 'notavailable' ELSE event_type END AS event_type,
           |    ${slotFmt("%Y%m%d")} AS day_date_id, ${slotFmt("%H%M")} AS time_of_day_id
           |  FROM events
           |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND user_id >= 0),
           |c AS (SELECT event_id, event_type FROM p
           |      QUALIFY row_number() OVER (PARTITION BY user_id, day_date_id, time_of_day_id ORDER BY event_id ASC) = 1)
           |SELECT event_type, count(event_id) AS num_of_streamers FROM c GROUP BY event_type""".stripMargin)),

    Entry("q36_json_extract", (s, d) => {
      t(s, d, "events").select(col("event_id"),
        from_json(col("props"), SnapshotPipeline.propsSchema).getField("k").as("prop_k"))
    },
      Some(
        """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
          |FROM events""".stripMargin)),

    Entry("q38_day_dates_dim", (s, _) =>
      operators.Dimensions.dayDates(s, 2025, 2027),
      Some(
        """SELECT strftime(g, '%Y%m%d') AS day_date_id,
          |  CAST(g AS DATE) AS the_date,
          |  strftime(g, '%m/%d/%Y') AS date_MMDDYYYY,
          |  dayname(g) AS day_of_week,
          |  strftime(g, '%m') AS month,
          |  strftime(g, '%d') AS day,
          |  strftime(g, '%Y') AS year,
          |  monthname(g) AS month_name,
          |  upper(strftime(g, '%b')) AS month_abbrev,
          |  strftime(g, '%y') AS year_YY
          |FROM generate_series(DATE '2025-01-01', DATE '2027-12-31', INTERVAL 1 DAY) t(g)""".stripMargin)),

    Entry("q39_time_of_day_dim", (s, _) =>
      operators.Dimensions.timeOfDay(s),
      Some(
        """SELECT lpad(CAST(i // 4 AS VARCHAR), 2, '0') || lpad(CAST((i % 4) * 15 AS VARCHAR), 2, '0') AS time_of_day_id,
          |  lpad(CAST(i // 4 AS VARCHAR), 2, '0') || ':' || lpad(CAST((i % 4) * 15 AS VARCHAR), 2, '0') AS time_24h,
          |  lpad(CAST(((i // 4 + 11) % 12) + 1 AS VARCHAR), 2, '0') || ':' || lpad(CAST((i % 4) * 15 AS VARCHAR), 2, '0')
          |    || (CASE WHEN i // 4 < 12 THEN ' AM' ELSE ' PM' END) AS time_12h,
          |  CAST(i // 4 AS INTEGER) AS hour,
          |  CAST((i % 4) * 15 AS INTEGER) AS minute,
          |  CASE WHEN i // 4 < 12 THEN 'AM' ELSE 'PM' END AS AM_PM,
          |  CASE WHEN i // 4 < 5 THEN 'night' WHEN i // 4 < 12 THEN 'morning'
          |       WHEN i // 4 < 17 THEN 'afternoon' WHEN i // 4 < 21 THEN 'evening'
          |       ELSE 'night' END AS part_of_day
          |FROM range(0, 96) t(i)""".stripMargin)),

    Entry("q40_sessions", (s, d) => {
      operators.Sessionize.sessions(t(s, d, "events"), "user_id", "ts", gapSeconds = 3600)
        .select(col("user_id"), col("session_id"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"),
          col("n_events"))
    },
      Some(
        """WITH g AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 3600
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts,
          |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |  FROM g)
          |SELECT user_id, session_id,
          |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
          |  CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
          |  count(*) AS n_events
          |FROM s GROUP BY user_id, session_id""".stripMargin)),

    // native session_window sessions (the streaming sessionizer's
    // batch path — same code, same oracle-pinned boundary semantics:
    // gap >= 3600 splits, session_end = last event + gap)
    Entry("q101_session_window", (s, d) =>
      streaming.StreamingSessionize.sessions(
          t(s, d, "events"), "user_id", "ts", gapSeconds = 3600)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events")),
      // session_window boundary semantics match q40's lag form: only a
      // gap STRICTLY greater than 3600s starts a new session (verified
      // by the exact-boundary spec); end = last event + gap
      Some(
        """WITH g AS (
          |  SELECT user_id, epoch_us(ts) AS t,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, t,
          |    sum(ns) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM g)
          |SELECT user_id, min(t) AS start_us, max(t) + 3600000000 AS end_us,
          |  count(*) AS n_events
          |FROM s GROUP BY user_id, sid""".stripMargin)),

    // the range join SCD2 exists for: every event attributed to the
    // dimension version in effect at its timestamp (half-open
    // validity), unattributed events kept as the null bucket
    Entry("q110_point_in_time", (s, d) => {
      val versions = SparkEntry.queries("q109_scd2_dim")(s, d)
        .withColumnRenamed("event_type", "dim_type")
      val facts = t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      operators.Dimensions.pointInTime(
          facts, versions, "user_id", "ts_us", Seq("dim_type"))
        .groupBy("dim_type").agg(count(lit(1)).as("n_events"))
    },
      // q109's versions as CTEs + the half-open range attribution
      Some(
        """WITH cur AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS vf FROM events
          |  WHERE ts < TIMESTAMP '2024-01-15'
          |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1),
          |inc AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS vf FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-15'
          |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1),
          |v AS (
          |  SELECT c.user_id, c.event_type, c.vf AS valid_from,
          |    CASE WHEN i.user_id IS NOT NULL AND i.event_type IS DISTINCT FROM c.event_type
          |         THEN i.vf END AS valid_to
          |  FROM cur c LEFT JOIN inc i USING (user_id)
          |  UNION ALL
          |  SELECT i.user_id, i.event_type, i.vf, CAST(NULL AS BIGINT)
          |  FROM inc i LEFT JOIN cur c USING (user_id)
          |  WHERE c.user_id IS NULL OR i.event_type IS DISTINCT FROM c.event_type)
          |SELECT v.event_type AS dim_type, count(*) AS n_events
          |FROM events e LEFT JOIN v
          |  ON e.user_id = v.user_id AND epoch_us(e.ts) >= v.valid_from
          |     AND (v.valid_to IS NULL OR epoch_us(e.ts) < v.valid_to)
          |GROUP BY 1""".stripMargin)),

    // temperature-scaled mixture (UniMax recipe) at tau=2: sqrt is the
    // one power IEEE rounds exactly on both engines, so the shares
    // hash-match; general tau is spec-covered in SamplingSpec
    Entry("q112_temperature_mix", (s, d) =>
      operators.Sampling.temperatureMixture(
          t(s, d, "documents").select(col("source"),
            TextFns.bpeishTokenCount(col("text")).as("n")),
          "source", col("n"), temperature = 2.0)
        .select(col("source"), col("n_tokens"),
          Rounding.pround(col("p"), 4).as("p"),
          Rounding.pround(col("epochs"), 4).as("epochs")),
      // tau=2 temperature mixture: sqrt + division only (IEEE-exact on
      // both engines); epochs mirrors the Spark operand order
      // ((w/wtot)*ntot)/n
      Some(
        s"""WITH s AS (
           |  SELECT source,
           |    CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source),
           |t AS (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS wtot,
           |        CAST(sum(n_tokens) AS DOUBLE) AS ntot FROM s)
           |SELECT source, n_tokens,
           |  ${pround("sqrt(CAST(n_tokens AS DOUBLE)) / t.wtot", 4)} AS p,
           |  ${pround("CASE WHEN n_tokens > 0 THEN sqrt(CAST(n_tokens AS DOUBLE)) / t.wtot * t.ntot / n_tokens ELSE 0.0 END", 4)} AS epochs
           |FROM s, t""".stripMargin)),

    // corpus-level n-gram novelty: the fraction of a doc's distinct
    // trigrams appearing NOWHERE else — low novelty flags boilerplate
    // and templated text that per-doc repetition screens (q67/q111)
    // can't see. Document-frequency join, the q66/q77 shape (partial
    // agg on the gram key; AQE splits hot grams)
    Entry("q118_gram_novelty", (s, d) => {
      val grams = t(s, d, "documents").select(col("doc_id"),
        explode(graft.expressions.GraftFunctions
          .distinctWordShingles(col("text"), 3)).as("g"))
      val dfreq = grams.groupBy("g").agg(count(lit(1)).as("__df"))
      val perDoc = grams.join(dfreq, "g").groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when(col("__df") === 1, 1L).otherwise(0L)).cast("long").as("n_unique"))
      t(s, d, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          Rounding.pround(when(col("n_grams") > 0,
              col("n_unique").cast("double") / col("n_grams"))
            .otherwise(lit(0.0)), 4).as("novelty"))
    },
      // distinct-gram document frequencies; df = 1 means corpus-unique
      Some(
        s"""WITH g AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |df AS (SELECT s, count(*) AS df FROM g GROUP BY s),
           |a AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
           |  FROM g JOIN df USING (s) GROUP BY doc_id)
           |SELECT d.doc_id,
           |  COALESCE(a.n_grams, 0) AS n_grams,
           |  COALESCE(a.n_unique, 0) AS n_unique,
           |  ${pround("CASE WHEN a.n_grams > 0 THEN CAST(a.n_unique AS DOUBLE) / a.n_grams ELSE 0.0 END", 4)} AS novelty
           |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),

    // token-aligned sliding windows (size 32, stride 24): the LM
    // training counterpart of q72's character chunks — emission stops
    // at the first window reaching the doc's end (no suffix-repeat
    // tail windows)
    Entry("q121_token_windows", (s, d) =>
      operators.Packing.tokenWindows(
        t(s, d, "documents"), "text", "doc_id", size = 32, stride = 24),
      // last emitted start is stride*ceil((n-size)/stride): the first
      // window covering the end; list_slice caps at the list's length
      Some(
        s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
           |n AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
           |s AS (SELECT doc_id, t, n,
           |        unnest(range(0,
           |          CASE WHEN n <= 32 THEN 1
           |               ELSE ((n - 32 + 23) // 24) * 24 + 1 END, 24)) AS start_tok
           |      FROM n)
           |SELECT doc_id,
           |  CAST(start_tok / 24 AS BIGINT) AS win_idx,
           |  CAST(start_tok AS BIGINT) AS start_tok,
           |  CAST(len(list_slice(t, start_tok + 1, start_tok + 32)) AS BIGINT) AS win_tokens,
           |  md5(array_to_string(list_slice(t, start_tok + 1, start_tok + 32), ' ')) AS win_md5
           |FROM s""".stripMargin)),

    // near-dup graph authority: 5 rounds of integer-surfer PageRank
    // over the banded candidate graph — all-BIGINT floor arithmetic,
    // so the fixpoint is engine- and partitioning-exact
    Entry("q127_pagerank", (s, d) =>
      operators.PageRank.ranks(
        Dedup.minhashCandidates(t(s, d, "documents"), "text", "doc_id")),
      // the same 5 integer-surfer rounds as PageRank.ranks, unrolled
      // (aggregation inside a recursive term is not portable); `//` on
      // positive BIGINTs = Spark's `div`
      Some({
        val rounds = (1 to 5).map { k =>
          s"""r$k AS (
             |  SELECT n.node, n.deg, CAST(150000 + COALESCE(s.inflow, 0) AS BIGINT) AS rank
             |  FROM (SELECT node, deg FROM r0) n
             |  LEFT JOIN (
             |    SELECT e.dst AS node, CAST(sum((r.rank * 85) // (100 * r.deg)) AS BIGINT) AS inflow
             |    FROM edges e JOIN r${k - 1} r ON r.node = e.src
             |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |edges AS (SELECT src, dst FROM cand UNION SELECT dst, src FROM cand),
           |r0 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg, CAST(1000000 AS BIGINT) AS rank FROM edges GROUP BY src),
           |$rounds
           |SELECT node, deg, rank FROM r5""".stripMargin
      })),

    // behavioral-sequence grams: top-20 within-session action trigrams
    // (q40's session assignment, total (ts, event_id) order, no
    // cross-session sequences)
    Entry("q128_behavior_grams", (s, d) =>
      operators.Sessionize.behaviorTrigrams(t(s, d, "events"),
        "user_id", "ts", "event_type", "event_id",
        gapSeconds = 3600, k = 20),
      // q40's session CTE + a (ts, event_id)-ordered lead window per
      // session; ORDER+LIMIT ties broken by the trigram string so the
      // top-20 SET is engine-exact
      Some(
        """WITH g AS (
          |  SELECT user_id, event_id, event_type, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 3600
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, event_id, event_type, ts,
          |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |  FROM g),
          |led AS (
          |  SELECT event_type AS a1,
          |    lead(event_type, 1) OVER w AS a2,
          |    lead(event_type, 2) OVER w AS a3
          |  FROM s WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)),
          |tri AS (
          |  SELECT a1 || '>' || a2 || '>' || a3 AS trigram FROM led
          |  WHERE a3 IS NOT NULL)
          |SELECT trigram, count(*) AS n FROM tri GROUP BY trigram
          |ORDER BY n DESC, trigram ASC LIMIT 20""".stripMargin)),

    // attribution interval join: ALL clicks in the hour before each
    // purchase (vs q28's nearest-one as-of) — equi join on user with a
    // residual time-range predicate, the stream-stream join shape
    Entry("q130_attribution", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      operators.IntervalJoin.within(clicks, purchases, "user_id",
          "c_ts", "p_ts", maxLagSeconds = 3600)
        .select("user_id", "click_id", "purchase_id")
    },
      Some(
        """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECONDS""".stripMargin)),

    // deterministic epoch shuffle: 2 epochs x 8 shards of fresh
    // content-stable assignments — multi-epoch order variety without
    // RNG state, scan-resident
    Entry("q135_epoch_shuffle", (s, d) =>
      operators.Sampling.epochShards(
        t(s, d, "documents"), "doc_id", epochs = 2, shards = 8),
      // the epoch-salted saltedOrderKey derivation, mirrored
      // byte-for-byte: md5('epoch<e>' || '|' || key)
      Some(
        """WITH e AS (SELECT doc_id, unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS epoch FROM documents),
          |k AS (SELECT doc_id, epoch,
          |        md5('epoch' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)) AS order_key
          |      FROM e)
          |SELECT doc_id, epoch,
          |  CAST(('0x' || substr(order_key, 1, 15)) AS BIGINT) % 8 AS shard,
          |  order_key
          |FROM k""".stripMargin)),

    // operational SLA profile: exact daily p50/p95 value bands per
    // event type (percentile ≡ quantile_cont parity, as q41/q114)
    Entry("q136_daily_bands", (s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          Rounding.pround(expr("percentile(value, 0.5)"), 4).as("p50"),
          Rounding.pround(expr("percentile(value, 0.95)"), 4).as("p95")),
      Some(
        s"""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
           |  ${pround("quantile_cont(value, 0.5)", 4)} AS p50,
           |  ${pround("quantile_cont(value, 0.95)", 4)} AS p95
           |FROM events GROUP BY 1, 2""".stripMargin)),

    // attribution rate: share of purchases with >= 1 click in the
    // trailing hour (q130's join aggregated per day, basis points via
    // integer division)
    Entry("q137_attribution_rate", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val attributed = operators.IntervalJoin.within(
          clicks, purchases, "user_id", "c_ts", "p_ts", 3600)
        .select("purchase_id").distinct().withColumn("__attr", lit(1L))
      purchases.join(attributed, Seq("purchase_id"), "left")
        .groupBy(date_format(col("p_ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(coalesce(col("__attr"), lit(0L))).cast("long").as("n_attributed"))
        .select(col("day"), col("n_purchases"), col("n_attributed"),
          call_function("div", col("n_attributed") * 10000L,
            col("n_purchases")).as("rate_bp"))
    },
      Some(
        """WITH a AS (
          |  SELECT DISTINCT p.event_id
          |  FROM events c JOIN events p
          |    ON c.user_id = p.user_id
          |   AND c.event_type = 'click' AND p.event_type = 'purchase'
          |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECONDS),
          |d AS (
          |  SELECT strftime(p.ts, '%Y-%m-%d') AS day, count(*) AS n_purchases,
          |    CAST(sum(CASE WHEN a.event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
          |  FROM events p LEFT JOIN a ON p.event_id = a.event_id
          |  WHERE p.event_type = 'purchase' GROUP BY 1)
          |SELECT day, n_purchases, n_attributed,
          |  CAST((n_attributed * 10000) // n_purchases AS BIGINT) AS rate_bp
          |FROM d""".stripMargin)),

    // whale concentration: share of each nation's order revenue held
    // by its top-1% customers (ceil(n/100), min 1), in basis points —
    // decimal-exact spends, integer-exact rank cut
    Entry("q169_revenue_concentration", (s, d) => {
      val spend = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("__spend"))
      val byNation = spend
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_custkey"), col("__spend"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_name"))
        .orderBy(col("__spend").desc, col("o_custkey"))
      val counts = byNation.groupBy(col("n_name"))
        .agg(count(lit(1)).cast("long").as("__n"))
      byNation
        .withColumn("__rk", row_number().over(w))
        .join(broadcast(counts), "n_name")
        .withColumn("__k", greatest(ceil(col("__n") / 100.0).cast("long"), lit(1L)))
        .groupBy(col("n_name"))
        .agg(max(col("__n")).as("n_customers"), max(col("__k")).as("n_top"),
          floor(sum(when(col("__rk") <= col("__k"), col("__spend"))
              .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)")))
              .cast("double") * 10000.0 /
            sum(col("__spend")).cast("double")).cast("long").as("top_share_bp"))
    },
      // same decimal spends + (spend desc, custkey) rank cut at
      // ceil(n/100); share via floor of the exact double ratio
      Some(
        """WITH sp AS (
          |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          |  FROM orders GROUP BY 1),
          |bn AS (
          |  SELECT n_name, o_custkey, spend
          |  FROM sp JOIN customer ON o_custkey = c_custkey
          |  JOIN nation ON c_nationkey = n_nationkey),
          |r AS (
          |  SELECT n_name, o_custkey, spend,
          |    row_number() OVER (PARTITION BY n_name
          |                       ORDER BY spend DESC, o_custkey) AS rk,
          |    CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n
          |  FROM bn),
          |k AS (
          |  SELECT n_name, spend, rk, n,
          |    greatest(CAST(ceil(n / 100.0) AS BIGINT), 1) AS kk
          |  FROM r)
          |SELECT n_name, max(n) AS n_customers, max(kk) AS n_top,
          |  CAST(floor(CAST(sum(CASE WHEN rk <= kk THEN spend ELSE 0 END) AS DOUBLE)
          |    * 10000 / CAST(sum(spend) AS DOUBLE)) AS BIGINT) AS top_share_bp
          |FROM k GROUP BY n_name""".stripMargin)),

    // ops report: week-over-week volume deltas per event type in
    // integer basis points (weeks = epoch-day div 7, engine-exact)
    Entry("q167_wow_delta", (s, d) => {
      val weekly = t(s, d, "events")
        .groupBy(col("event_type"),
          call_function("div", unix_date(to_date(col("ts"))), lit(7L))
            .as("week"))
        .agg(count(lit(1)).cast("long").as("n"))
      weekly.alias("c")
        .join(weekly.alias("p"),
          col("p.event_type") === col("c.event_type") &&
            col("p.week") === col("c.week") - 1L)
        .select(col("c.event_type").as("event_type"), col("c.week").as("week"),
          col("c.n").as("n"), col("p.n").as("n_prev"),
          // deltas go NEGATIVE: integer div truncates toward zero on
          // Spark but floors on DuckDB — floor of the exact double
          // ratio is identical on both
          floor(((col("c.n") - col("p.n")) * 10000L).cast("double") /
            greatest(col("p.n"), lit(1L)).cast("double"))
            .cast("long").as("delta_bp"))
    },
      // weeks = epoch-day // 7; delta via floor of the exact double
      // ratio (negative-safe on both engines)
      Some(
        """WITH w AS (
          |  SELECT event_type,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2)
          |SELECT c.event_type, c.week, c.n, p.n AS n_prev,
          |  CAST(floor(CAST((c.n - p.n) * 10000 AS DOUBLE)
          |    / CAST(greatest(p.n, 1) AS DOUBLE)) AS BIGINT) AS delta_bp
          |FROM w c JOIN w p
          |  ON p.event_type = c.event_type AND p.week = c.week - 1""".stripMargin)),

    // which event types co-occur in the same session? distinct-type
    // pairs per session, support in basis points of all sessions
    Entry("q168_type_affinity", (s, d) => {
      val sess = operators.Sessionize.withSessionIds(t(s, d, "events"),
          "user_id", "ts", gapSeconds = 3600)
        .select(concat_ws("#", col("user_id"), col("session_id")).as("sid"),
          col("event_type"))
        .distinct()
      val total = sess.agg(countDistinct(col("sid")).cast("long").as("__tot"))
      sess.groupBy(col("sid"))
        .agg(array_sort(collect_set(col("event_type"))).as("ts2"))
        .filter(size(col("ts2")) > 1)
        .select(explode(graft.expressions.GraftFunctions.pairCombos(col("ts2"))).as("p"))
        .groupBy(col("p.id_a").as("type_a"), col("p.id_b").as("type_b"))
        .agg(count(lit(1)).cast("long").as("n_both"))
        .crossJoin(broadcast(total))
        .withColumn("support_bp",
          call_function("div", col("n_both") * 10000L, col("__tot")))
        .drop("__tot")
    },
      // q40's session assignment; distinct (session, type) pairs with
      // a < b; support over ALL sessions by integer floor division
      Some(
        """WITH g AS (
          |  SELECT user_id, ts, event_type,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 3600
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, event_type,
          |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
          |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |  FROM g),
          |d AS (
          |  SELECT DISTINCT
          |    CAST(user_id AS VARCHAR) || '#' || CAST(session_id AS VARCHAR) AS sid,
          |    event_type
          |  FROM s),
          |tot AS (SELECT CAST(count(DISTINCT sid) AS BIGINT) AS t FROM d),
          |p AS (
          |  SELECT a.event_type AS type_a, b.event_type AS type_b
          |  FROM d a JOIN d b ON b.sid = a.sid AND a.event_type < b.event_type),
          |c AS (
          |  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_both
          |  FROM p GROUP BY 1, 2)
          |SELECT type_a, type_b, n_both,
          |  CAST((n_both * 10000) // t AS BIGINT) AS support_bp
          |FROM c CROSS JOIN tot""".stripMargin)),

    // embedding norm health per label: exact mean (decimal-summed,
    // x2^20 fixed point) + p50/p95 of L2 norms
    Entry("q166_norm_bands", (s, d) => {
      val n = t(s, d, "embeddings").select(col("label"),
        functions.VectorFns.l2Norm(col("embedding")).as("nrm"))
      n.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          Rounding.pround(sum(floor(col("nrm") * 1048576.0 + 0.5).cast("long"))
              .cast("double") / (count(lit(1)) * 1048576.0).cast("double"), 4)
            .as("mean_norm"),
          Rounding.pround(expr("percentile(nrm, 0.5)"), 4).as("p50_norm"),
          Rounding.pround(expr("percentile(nrm, 0.95)"), 4).as("p95_norm"))
    },
      // in-order norm accumulation (q105's parity); mean via x2^20
      // fixed-point BIGINT sum, bands via quantile_cont parity
      Some(
        s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (
           |  SELECT label,
           |    sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
           |  FROM e)
           |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           |  ${pround("CAST(sum(CAST(floor(nrm * 1048576 + 0.5) AS BIGINT)) AS DOUBLE) / (count(*) * 1048576.0)", 4)} AS mean_norm,
           |  ${pround("quantile_cont(nrm, 0.5)", 4)} AS p50_norm,
           |  ${pround("quantile_cont(nrm, 0.95)", 4)} AS p95_norm
           |FROM n GROUP BY label""".stripMargin)),

    // is daily volume rising? OLS slope per type from exact decimal/
    // BIGINT sums — one engine-exact division
    Entry("q163_trend_slope", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          unix_date(to_date(col("ts"))).as("x"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("y"))
      operators.Resample.trendSlope(daily, "event_type", "x", "y")
        .select(col("event_type"), col("n").as("n_days"),
          Rounding.pround(col("slope"), 6).as("slope"))
    },
      // same five exact sums; x = days-since-epoch integer on both
      // engines; slope is one division of exact operands
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
          |    sum(CAST(value AS DECIMAL(18,2))) AS y
          |  FROM events GROUP BY 1, 2),
          |a AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(x) AS BIGINT) AS sx, sum(y) AS sy,
          |    sum(y * x) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
          |  FROM daily GROUP BY 1)
          |SELECT event_type, n AS n_days,
          |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0
          |    THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
          |           / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5) / 1000000
          |    ELSE 0.0 END AS slope
          |FROM a""".stripMargin)),

    // how fast do clicks convert? per-day p50/p95 of the purchase's
    // NEAREST preceding click lag (q130's join, max-reduced)
    Entry("q164_conversion_lag", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      operators.IntervalJoin.within(clicks, purchases, "user_id",
          "c_ts", "p_ts", maxLagSeconds = 3600)
        .groupBy(col("purchase_id"), col("p_ts"))
        .agg(max(col("c_ts")).as("c_ts"))
        .select(date_format(col("p_ts"), "yyyy-MM-dd").as("day"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
            .as("lag_s"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_conv"),
          Rounding.pround(expr("percentile(lag_s, 0.5)"), 4).as("p50_lag"),
          Rounding.pround(expr("percentile(lag_s, 0.95)"), 4).as("p95_lag"))
    },
      // q130's trailing-hour join reduced to the nearest click per
      // purchase, then percentile == quantile_cont lag bands
      Some(
        s"""WITH j AS (
           |  SELECT p.event_id AS purchase_id, p.ts AS p_ts, max(c.ts) AS c_ts
           |  FROM events p JOIN events c
           |    ON c.user_id = p.user_id
           |   AND p.event_type = 'purchase' AND c.event_type = 'click'
           |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECONDS
           |  GROUP BY 1, 2),
           |l AS (
           |  SELECT strftime(p_ts, '%Y-%m-%d') AS day,
           |    floor(epoch(p_ts)) - floor(epoch(c_ts)) AS lag_s
           |  FROM j)
           |SELECT day, count(*) AS n_conv,
           |  ${pround("quantile_cont(lag_s, 0.5)", 4)} AS p50_lag,
           |  ${pround("quantile_cont(lag_s, 0.95)", 4)} AS p95_lag
           |FROM l GROUP BY day""".stripMargin)),

    // q154's compaction maintained across two micro-batches; final
    // view must equal one-shot compaction under any split
    Entry("q159_streaming_cdc", (s, d) => {
      val st = invocationStateDir("q159", "cdc")
      val ev = t(s, d, "events")
      def tick(p: Int) = streaming.StreamingCdc.acceptBatch(
        ev.filter(col("event_id") % 2 === p), "user_id",
        Seq("ts", "event_id"), col("event_type") === "purchase", st)
      tick(0)
      tick(1).select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    },
      // IDENTICAL to q154's oracle — split-invariance is the property:
      // two-tick streaming state must equal one-shot compaction
      Some(
        """WITH r AS (
          |  SELECT user_id, event_id, event_type, value, ts,
          |    row_number() OVER (PARTITION BY user_id
          |                       ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
          |  CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
          |FROM r WHERE rn = 1 AND event_type <> 'purchase'""".stripMargin)),

    // TPC-H Q5 shape: six-way star join, local-supplier condition,
    // region + year filters, decimal-exact revenue
    Entry("q160_region_volume", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue")),
      // q01's per-row decimal(18,4) disc-price discipline over the
      // six-way join; date bounds as timestamp literals
      Some(
        """SELECT n_name, count(*) AS n_items,
          |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |GROUP BY n_name""".stripMargin)),

    // anomaly baseline: per-type EWMA over the daily decimal-exact
    // value sums; ordered fold, alpha = 0.5 (exact halvings)
    Entry("q156_ewma", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("dv"))
      operators.Resample.ewma(daily, "event_type", "day", "dv", alpha = 0.5)
        .select(col("event_type"), col("n_points").as("n_days"),
          Rounding.pround(col("last_val"), 2).as("last_day"),
          Rounding.pround(col("ewma"), 4).as("ewma"))
    },
      // same ordered fold: list(dv ORDER BY day) + list_reduce seeded
      // with the first element — identical IEEE ops in identical order
      Some(
        """WITH daily AS (
          |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dv
          |  FROM events GROUP BY 1, 2),
          |v AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          |    list(dv ORDER BY day) AS l
          |  FROM daily GROUP BY 1)
          |SELECT event_type, n_days,
          |  floor(l[-1] * 100 + 0.5) / 100 AS last_day,
          |  floor(list_reduce(CAST(l AS DOUBLE[]),
          |    (acc, x) -> acc * 0.5 + x * 0.5) * 10000 + 0.5) / 10000 AS ewma
          |FROM v""".stripMargin)),

    // clustering structure of the q21 candidate graph: per-node
    // triangle counts (dense boilerplate families close triangles)
    Entry("q157_triangles", (s, d) =>
      operators.Triangles.nodeTriangleCounts(
        Dedup.minhashCandidates(t(s, d, "documents"), "text", "doc_id",
          bands = 3, rowsPerBand = 2),
        "id_a", "id_b"),
      // q21's banded-candidate chain + the sorted-order wedge close:
      // (a,b)x(b,c) semi-joined against (a,c) finds each triangle once
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |e AS (
           |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           |  FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |tri AS (
           |  SELECT ab.a, ab.b, bc.b AS c
           |  FROM e ab JOIN e bc ON bc.a = ab.b
           |  WHERE EXISTS (SELECT 1 FROM e ac WHERE ac.a = ab.a AND ac.b = bc.b)),
           |n AS (
           |  SELECT unnest([a, b, c]) AS node FROM tri)
           |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
           |FROM n GROUP BY node""".stripMargin)),

    // CDC changelog compaction: last op per user wins under the total
    // (ts, event_id) order; a trailing 'purchase' is a tombstone
    Entry("q154_cdc_compact", (s, d) =>
      operators.Relational.cdcCompact(t(s, d, "events"), "user_id",
          Seq(col("ts"), col("event_id")),
          col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
      // last-writer-wins under (ts DESC, event_id DESC); a trailing
      // 'purchase' op tombstones the key out of the final state
      Some(
        """WITH r AS (
          |  SELECT user_id, event_id, event_type, value, ts,
          |    row_number() OVER (PARTITION BY user_id
          |                       ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
          |  CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
          |FROM r WHERE rn = 1 AND event_type <> 'purchase'""".stripMargin)),

    // token-weighted median doc length per source: integer-exact
    // selection (2*cumsum >= total), no interpolation
    Entry("q155_weighted_median", (s, d) =>
      operators.Profile.weightedMedian(
        t(s, d, "documents").select(col("source"), col("doc_id"),
          col("n_chars"), TextFns.wsTokenCount(col("text")).as("n_tok")),
        "n_chars", "n_tok", "source", "doc_id"),
      // integer-exact weighted-median selection: running BIGINT weight
      // under the (val, doc_id) total order, pick min val at 2*cum>=tot
      Some(
        s"""WITH b AS (
           |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS val,
           |    CAST(len($toksSql) AS BIGINT) AS wgt
           |  FROM documents),
           |t2 AS (
           |  SELECT source, CAST(sum(wgt) AS BIGINT) AS tot,
           |    CAST(count(*) AS BIGINT) AS n_rows
           |  FROM b GROUP BY 1),
           |c AS (
           |  SELECT source, val, wgt,
           |    CAST(sum(wgt) OVER (PARTITION BY source ORDER BY val, doc_id
           |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM b)
           |SELECT c.source, max(t2.n_rows) AS n_rows, max(t2.tot) AS w_total,
           |  min(CASE WHEN cum * 2 >= tot THEN val END) AS w_median
           |FROM c JOIN t2 USING (source) GROUP BY c.source""".stripMargin)),

    // do the model gate (q129) and the length heuristic agree beyond
    // chance? 2x2 confusion + kappa as ONE exact-integer division
    Entry("q149_rater_kappa", (s, d) =>
      operators.Audit.cohenKappa(
        t(s, d, "documents").select(col("source"),
          when(TextFns.linearQualityScore(col("text")) >= 1000L, 1L)
            .otherwise(0L).as("ra"),
          when(TextFns.wsTokenCount(col("text")) >= 20L, 1L)
            .otherwise(0L).as("rb")),
        "source", "ra", "rb"),
      // q129's integer linear score vs the n_tok >= 20 heuristic;
      // kappa rearranged over a common denominator = one division of
      // exact BIGINTs (den = 0 i.e. constant rater -> 0)
      Some(
        s"""WITH f AS (
           |  SELECT doc_id, source,
           |    CAST(len($toksSql) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter($toksSql, x -> list_contains($stopwordList, x))) AS BIGINT) AS stop_cnt,
           |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS punct_cnt,
           |    CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS non_ws,
           |    CAST(len(text) AS BIGINT) AS n_chars
           |  FROM documents),
           |r AS (
           |  SELECT source,
           |    CASE WHEN 80 * least(n_tok, 50)
           |      - abs((stop_cnt * 10000) // greatest(n_tok, 1) - 2500)
           |      - 2 * ((punct_cnt * 10000) // greatest(n_chars, 1))
           |      - abs((non_ws * 100) // greatest(n_tok, 1) - 500) >= 1000
           |      THEN 1 ELSE 0 END AS ra,
           |    CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END AS rb
           |  FROM f),
           |k AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(ra * rb) AS BIGINT) AS a,
           |    CAST(sum(ra * (1 - rb)) AS BIGINT) AS b,
           |    CAST(sum((1 - ra) * rb) AS BIGINT) AS c,
           |    CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS d
           |  FROM r GROUP BY source),
           |e AS (
           |  SELECT source, n, a, d,
           |    n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d)) AS num,
           |    n * n - ((a + b) * (a + c) + (c + d) * (b + d)) AS den
           |  FROM k)
           |SELECT source, n, a AS n_both_keep, d AS n_both_drop,
           |  CASE WHEN den <> 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
           |       ELSE 0.0 END AS kappa
           |FROM e""".stripMargin)),

    // day-over-day active-user stability: overlap + Jaccard in basis
    // points (a population swap shows even when volumes look flat)
    Entry("q150_dau_overlap", (s, d) =>
      operators.Cohorts.dailyOverlap(t(s, d, "events"), "user_id", "ts"),
      // same distinct (day, user) base; DATE + 1 is next-day on both
      // engines; jaccard by integer floor division
      Some(
        """WITH du AS (
          |  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
          |c AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1),
          |nx AS (
          |  SELECT a.day, CAST(count(*) AS BIGINT) AS n_both
          |  FROM du a JOIN du b ON b.user_id = a.user_id
          |    AND b.day = strftime(CAST(a.day AS DATE) + 1, '%Y-%m-%d')
          |  GROUP BY 1)
          |SELECT c.day, c.n AS n_day, c2.n AS n_next,
          |  COALESCE(nx.n_both, 0) AS n_both,
          |  (COALESCE(nx.n_both, 0) * 10000)
          |    // (c.n + c2.n - COALESCE(nx.n_both, 0)) AS jaccard_bp
          |FROM c JOIN c c2 ON c2.day = strftime(CAST(c.day AS DATE) + 1, '%Y-%m-%d')
          |LEFT JOIN nx ON nx.day = c.day""".stripMargin)),

    // per-source drift score vs the corpus baseline: PSI over
    // power-of-two token-count bins, Laplace-smoothed, decimal-summed
    Entry("q146_psi_drift", (s, d) =>
      operators.Profile.psi(
          t(s, d, "documents").select(col("source"),
            size(TextFns.tokens(col("text"))).cast("long").as("n_tok")),
          "n_tok", "source")
        .withColumnRenamed("grp", "source"),
      // same log2 binning (len(bin(v))-1 — integer on both engines),
      // +1 Laplace smoothing from exact integer counts, per-bin
      // contribution pround6 -> DECIMAL(18,6) summed exactly
      Some(
        s"""WITH v AS (SELECT source AS grp, CAST(len($toksSql) AS BIGINT) AS val FROM documents),
           |b AS (
           |  SELECT grp,
           |    CASE WHEN val > 0 THEN CAST(len(bin(val)) - 1 AS BIGINT)
           |         ELSE -1 END AS bin
           |  FROM v),
           |gb AS (SELECT grp, bin, CAST(count(*) AS BIGINT) AS ca FROM b GROUP BY 1, 2),
           |bb AS (SELECT bin, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY 1),
           |gt AS (SELECT grp, CAST(count(*) AS BIGINT) AS na FROM b GROUP BY 1),
           |bt AS (SELECT CAST(count(*) AS BIGINT) AS nb,
           |              CAST(count(DISTINCT bin) AS BIGINT) AS nbins FROM b),
           |grid AS (
           |  SELECT gt.grp, gt.na, bb.bin, bb.cb, bt.nb, bt.nbins
           |  FROM gt CROSS JOIN bb CROSS JOIN bt),
           |j AS (
           |  SELECT g.grp, g.na, g.bin, g.cb, g.nb, g.nbins,
           |    COALESCE(gb.ca, 0) AS ca
           |  FROM grid g LEFT JOIN gb ON gb.grp = g.grp AND gb.bin = g.bin),
           |c AS (
           |  SELECT grp, na,
           |    CAST(${pround(
               "(CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE) - " +
               "CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)) * " +
               "log10(CAST((ca + 1) * (nb + nbins) AS DOUBLE) / " +
               "CAST((cb + 1) * (na + nbins) AS DOUBLE))", 6)} AS DECIMAL(18,6)) AS contrib
           |  FROM j)
           |SELECT grp AS source, max(na) AS n_rows,
           |  CAST(sum(contrib) AS DOUBLE) AS psi
           |FROM c GROUP BY grp""".stripMargin)),

    // within-session Markov transition matrix; probabilities in
    // integer basis points so the table is engine-exact
    Entry("q148_transitions", (s, d) =>
      operators.Sessionize.transitionMatrix(t(s, d, "events"),
        "user_id", "ts", "event_type", "event_id", gapSeconds = 3600),
      // q40's session assignment (gap > 3600 splits, second-truncated
      // timestamps), lead within (user, session) under the (ts,
      // event_id) total order; p_bp by integer floor division
      Some(
        """WITH g AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 3600
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
          |                  ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM g),
          |t2 AS (
          |  SELECT event_type AS from_type,
          |    lead(event_type) OVER (PARTITION BY user_id, sid
          |                           ORDER BY ts, event_id) AS to_type
          |  FROM s),
          |p AS (
          |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          |  FROM t2 WHERE to_type IS NOT NULL GROUP BY 1, 2),
          |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM p GROUP BY 1)
          |SELECT p.from_type, p.to_type, p.n, (p.n * 10000) // tot.tot AS p_bp
          |FROM p JOIN tot USING (from_type)""".stripMargin)),

    // incremental materialized view: the (day, event_type) aggregate
    // maintained across two micro-batches must equal the one-shot
    // batch aggregate — additive partials, decimal-summed
    Entry("q142_streaming_daily_agg", (s, d) => {
      val st = invocationStateDir("q142", "mv")
      val ev = t(s, d, "events")
      def tick(p: Int) = streaming.StreamingAgg.acceptBatch(
        ev.filter(col("event_id") % 2 === p), "ts", "event_type", "value", st)
      tick(0)
      tick(1).select(col("day"), col("event_type"), col("n"),
        Rounding.pround(col("total").cast("double"), 2).as("total"))
    },
      // the MV maintained over two ticks must equal the one-shot
      // aggregate — q54's decimal-sum discipline
      Some(
        s"""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
           |  ${pround("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total
           |FROM events GROUP BY 1, 2""".stripMargin)),

    // Z-order clustering key (OPTIMIZE ZORDER BY shape): bit
    // interleave of (orderkey, partkey) — write-sorted by this key,
    // parquet min/max prune on BOTH columns
    Entry("q139_zorder_key", (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          plans.ZOrder.morton2(col("l_orderkey"), col("l_partkey"))
            .as("zkey")),
      // the same bit surgery, generated for 31 levels; >>, &, << are
      // BIGINT-exact on both engines
      Some({
        val terms = (0 until 31).map { i =>
          s"(((l_orderkey >> $i) & 1) << ${2 * i}) | (((l_partkey >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" | ")
        s"""SELECT l_orderkey, l_partkey, l_linenumber,
           |  CAST($terms AS BIGINT) AS zkey
           |FROM lineitem""".stripMargin
      })),

    // sliding-window aggregates (1h window, 15min slide): Spark's
    // native window() vs the oracle's 4-covering-slot restatement —
    // the streaming windowing semantics verified relationally
    Entry("q140_sliding_window", (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("n_events"), col("n_users")),
      // every event lies in exactly 4 epoch-aligned (1h, 15min)
      // windows: starts (t//900 - k) * 900 for k = 0..3 — Spark's
      // window() semantics restated with unnest
      Some(
        """WITH e AS (
          |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
          |w AS (SELECT user_id, t, unnest([0, 1, 2, 3]) AS k FROM e),
          |win AS (SELECT user_id, ((t // 900) - k) * 900 AS window_start FROM w)
          |SELECT window_start, count(*) AS n_events,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          |FROM win GROUP BY window_start""".stripMargin)),

    // reproducibility audit: per-shard order-independent content
    // checksums — re-runs, replications, and migrations must reproduce
    // these exactly; commutative sums make them partitioning-free
    Entry("q133_shard_checksums", (s, d) =>
      t(s, d, "documents")
        .select((col("doc_id") % 16).as("shard"), col("doc_id"),
          col("n_chars"),
          // first 60 bits of md5(text), folded mod a prime so the
          // per-shard SUM stays far inside BIGINT at any shard size
          (conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long") % 1000000007L).as("h"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("h")).as("content_checksum"),
          sum(col("n_chars")).as("char_checksum"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id")),
      // same md5-half prime fold; every aggregate output cast so the
      // engines agree on BIGINT
      Some(
        """SELECT doc_id % 16 AS shard, count(*) AS n_docs,
          |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1000000007) AS BIGINT) AS content_checksum,
          |  CAST(sum(n_chars) AS BIGINT) AS char_checksum,
          |  min(doc_id) AS min_id, max(doc_id) AS max_id
          |FROM documents GROUP BY doc_id % 16""".stripMargin)),

    Entry("q41_median", (s, d) => {
      t(s, d, "events").groupBy("event_type")
        .agg(Rounding.pround(expr("percentile(value, 0.5)"), 4).as("median_value"))
    },
      Some(
        s"""SELECT event_type, ${pround("quantile_cont(value, 0.5)", 4)} AS median_value
           |FROM events GROUP BY event_type""".stripMargin)),

    Entry("q42_stats_exact", (s, d) => {
      // moments from EXACT decimal sums, finished in double with one
      // fixed operation order — partial-agg ordering can't perturb them
      val n = count(lit(1)).cast("double")
      val sx = sum(col("value").cast("decimal(28,2)")).cast("double")
      val sxx = sum((col("value") * col("value")).cast("decimal(28,4)")).cast("double")
      t(s, d, "events").groupBy("event_type")
        .agg(n.cast("long").as("n"),
          Rounding.pround(sx / n, 4).as("mean_value"),
          Rounding.pround(sqrt(sxx / n - (sx / n) * (sx / n)), 4).as("stddev_pop"))
    },
      Some(
        s"""SELECT event_type, count(*) AS n,
           |  ${pround("CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(*)", 4)} AS mean_value,
           |  ${pround(
             """sqrt(CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) / count(*)
               |    - (CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(*))
               |      * (CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(*)))""".stripMargin, 4)} AS stddev_pop
           |FROM events GROUP BY event_type""".stripMargin)),

    Entry("q43_histogram", (s, d) => {
      t(s, d, "events")
        .groupBy(floor(col("value") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    },
      Some(
        """SELECT CAST(floor(value / 10) AS BIGINT) AS bucket, count(*) AS n
          |FROM events GROUP BY 1""".stripMargin)),

    Entry("q47_hash_sample", (s, d) =>
      operators.Sampling.deterministicSample(t(s, d, "documents"), "doc_id", 25)
        .select("doc_id", "lang"),
      Some(
        """SELECT doc_id, lang FROM documents
          |WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 + 100) % 100 < 25""".stripMargin)),

    Entry("q48_dataset_split", (s, d) =>
      operators.Sampling.datasetSplit(t(s, d, "documents"), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("n")),
      Some(
        """SELECT CASE
          |    WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 + 100) % 100 < 80 THEN 'train'
          |    WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 + 100) % 100 < 90 THEN 'val'
          |    ELSE 'test' END AS split,
          |  count(*) AS n
          |FROM documents GROUP BY 1""".stripMargin)),

    Entry("q49_lag_delta", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, d, "events").select(col("event_id"), col("user_id"),
        Rounding.pround(col("value") - lag(col("value"), 1).over(w), 4).as("delta"))
    },
      Some(
        s"""SELECT event_id, user_id,
           |  ${pround("value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)", 4)} AS delta
           |FROM events""".stripMargin)),

    Entry("q50_ntile", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      t(s, d, "events").select(col("event_id"), col("event_type"),
        ntile(4).over(w).as("quartile"))
    },
      Some(
        """SELECT event_id, event_type,
          |  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
          |FROM events""".stripMargin)),

    Entry("q51_first_last", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "events").select(col("event_id"), col("user_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"))
    },
      Some(
        """SELECT event_id, user_id,
          |  first_value(event_type) OVER w AS first_type,
          |  last_value(event_type) OVER w AS last_type
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    Entry("q52_collect", (s, d) => {
      t(s, d, "events").groupBy("user_id")
        .agg(array_sort(collect_set(col("event_type"))).as("types"),
          count(lit(1)).as("n"))
        .select(col("user_id"), concat_ws(",", col("types")).as("types"), col("n"))
    },
      Some(
        """SELECT user_id,
          |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
          |  count(*) AS n
          |FROM events GROUP BY user_id""".stripMargin)),

    Entry("q53_intersect", (s, d) => {
      val ev = t(s, d, "events")
      ev.filter(col("event_type") === "click").select("user_id")
        .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
    },
      Some(
        """SELECT user_id FROM events WHERE event_type = 'click'
          |INTERSECT
          |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),

    Entry("q59_except", (s, d) => {
      val ev = t(s, d, "events")
      ev.filter(col("event_type") === "view").select("user_id")
        .except(ev.filter(col("event_type") === "purchase").select("user_id"))
    },
      Some(
        """SELECT user_id FROM events WHERE event_type = 'view'
          |EXCEPT
          |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),

    Entry("q60_union_distinct", (s, d) => {
      val ev = t(s, d, "events")
      ev.filter(col("value") > 180).select("user_id")
        .union(ev.filter(col("event_type") === "signup").select("user_id"))
        .distinct()
    },
      Some(
        """SELECT user_id FROM events WHERE value > 180
          |UNION
          |SELECT user_id FROM events WHERE event_type = 'signup'""".stripMargin)),

    Entry("q61_grouping_sets", (s, d) => {
      t(s, d, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("day"))),
          col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit("ALL")).as("day"), col("n"))
    },
      Some(
        """SELECT COALESCE(event_type, 'ALL') AS event_type,
          |  COALESCE(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
          |  count(*) AS n
          |FROM events
          |GROUP BY GROUPING SETS ((event_type), (strftime(ts, '%Y-%m-%d')))""".stripMargin)),

    Entry("q54_monthly_orders", (s, d) => {
      t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
    },
      Some(
        """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
          |FROM orders GROUP BY 1""".stripMargin)),

    Entry("q55_cube", (s, d) => {
      t(s, d, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit("ALL")).as("day"), col("n"))
    },
      Some(
        """SELECT COALESCE(event_type, 'ALL') AS event_type,
          |  COALESCE(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
          |  count(*) AS n
          |FROM events GROUP BY CUBE(event_type, strftime(ts, '%Y-%m-%d'))""".stripMargin)),

    // rows-only: sketch aggregates (HLL++ distinct, approximate
    // percentile) — estimates are engine-specific by construction
    Entry("q56_sketches", (s, d) => {
      t(s, d, "events").groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("p95_value"),
          count(lit(1)).as("n"))
    },
      // rows-only: its sketch estimates are engine-specific, so no
      // other engine can reproduce them for the hash gate
      None),

    Entry("q44_pivot", (s, d) => {
      t(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "purchase", "error", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivoted count columns — a blanket fill would also
        // rewrite a null group key to 0, colliding with real user 0
        .na.fill(0L, Seq("click", "purchase", "error", "signup", "view"))
    },
      Some(
        """SELECT user_id,
          |  count(*) FILTER (WHERE event_type = 'click') AS click,
          |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |  count(*) FILTER (WHERE event_type = 'error') AS error,
          |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
          |  count(*) FILTER (WHERE event_type = 'view') AS view
          |FROM events GROUP BY user_id""".stripMargin)),

    Entry("q45_rollup", (s, d) => {
      t(s, d, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("total_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("n"), col("total_value"))
    },
      Some(
        """SELECT COALESCE(event_type, 'ALL') AS event_type, count(*) AS n,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
          |FROM events GROUP BY ROLLUP(event_type)""".stripMargin))
  )
}
