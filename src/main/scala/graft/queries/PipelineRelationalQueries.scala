package graft
package queries

import graft.functions.Rounding
import org.apache.spark.sql.Column
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — training-data pipeline: plain relational queries. */
object PipelineRelationalQueries {

  lazy val entries: Seq[Entry] = Seq(
    // robust dispersion: median absolute deviation per event type —
    // the exact interpolated percentile (q41's verified primitive)
    // applied twice, group medians broadcast back between passes
    Entry("q86_mad", (s, d) => {
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("__med"))
      ev.join(broadcast(med), Seq("event_type"))
        .groupBy("event_type")
        .agg(Rounding.pround(expr("percentile(abs(value - __med), 0.5)"), 4).as("mad"))
    },
      Some(
        s"""WITH m AS (
           |  SELECT event_type, quantile_cont(value, 0.5) AS med
           |  FROM events GROUP BY event_type)
           |SELECT e.event_type,
           |  ${pround("quantile_cont(abs(e.value - m.med), 0.5)", 4)} AS mad
           |FROM events e JOIN m USING (event_type)
           |GROUP BY e.event_type""".stripMargin)),

    // order-count distribution (TPC-H Q13 shape): how many customers
    // placed exactly k orders — the two-level aggregate whose first
    // level keeps the per-customer fan-in on the shuffle keys and whose
    // second collapses to the tiny counts-of-counts table
    Entry("q170_custdist", (s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).cast("long").as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).cast("long").as("custdist"))
    },
      // two-level aggregate: per-customer order counts, then the
      // counts-of-counts distribution
      Some(
        """WITH pc AS (
          |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |  GROUP BY 1)
          |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
          |FROM pc GROUP BY 1""".stripMargin)),

    // promo revenue share per ship month (TPC-H Q14 shape): revenue is
    // decimal-exact; share in integer basis points via floor of the
    // exact double ratio; part is the broadcast dimension
    Entry("q171_promo_share", (s, d) => {
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(
          Rounding.pround(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,4)")))
            .cast("double"), 2).as("promo_rev"),
          Rounding.pround(sum(rev).cast("double"), 2).as("total_rev"),
          floor(sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,4)")))
              .cast("double") * 10000.0 / sum(rev).cast("double"))
            .cast("long").as("promo_bp"))
    },
      // decimal-exact revenue; share = floor of the exact double ratio
      Some(
        s"""WITH r AS (
           |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
           |    p_type
           |  FROM lineitem JOIN part ON l_partkey = p_partkey)
           |SELECT ship_month,
           |  ${pround("CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)", 2)} AS promo_rev,
           |  ${pround("CAST(sum(rev) AS DOUBLE)", 2)} AS total_rev,
           |  CAST(floor(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)
           |    * 10000 / CAST(sum(rev) AS DOUBLE)) AS BIGINT) AS promo_bp
           |FROM r GROUP BY 1""".stripMargin)),

    // TPC-H Q17 shape (decorrelated): revenue from lineitems under 20%
    // of their part's average quantity — the avg threshold as a
    // cross-multiplied DECIMAL compare (qty*5*n < sum_qty), no division
    Entry("q179_small_order_parts", (s, d) => {
      val li = t(s, d, "lineitem")
      val avgq = li.groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__sq"),
          count(lit(1)).cast("long").as("__n"))
      li.join(avgq, "l_partkey")
        .filter(col("l_quantity").cast("decimal(18,2)") * 5L * col("__n")
          < col("__sq"))
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("long").as("n_small"),
          dsum(col("l_extendedprice")).as("small_revenue"))
    },
      // decorrelated avg-threshold: qty*5*n < sum_qty over DECIMALs —
      // exact, divisionless
      Some(
        """WITH a AS (
          |  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM lineitem GROUP BY 1)
          |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS small_revenue
          |FROM lineitem
          |JOIN a USING (l_partkey)
          |JOIN part ON p_partkey = l_partkey
          |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < sq
          |GROUP BY 1""".stripMargin)),

    // TPC-H Q22 shape: above-average-balance customers with no orders
    // per name suffix — the decorrelated scalar-subquery threshold as
    // a cross-multiplied DECIMAL compare, then an anti-join
    Entry("q197_idle_balances", (s, d) => {
      val cust = t(s, d, "customer")
      val thr = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("__s"),
          count(lit(1)).cast("long").as("__n"))
      cust.crossJoin(broadcast(thr))
        .filter(col("c_acctbal").cast("decimal(18,2)") * col("__n") > col("__s"))
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .groupBy(expr("substring(c_name, length(c_name), 1)").as("name_digit"))
        .agg(count(lit(1)).cast("long").as("n_cust"),
          dsum(col("c_acctbal")).as("total_bal"))
    },
      // scalar-subquery threshold decorrelated: bal*n > sum over
      // exact DECIMALs; NOT EXISTS is the anti-join
      Some(
        """WITH t AS (
          |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM customer WHERE c_acctbal > 0)
          |SELECT substr(c_name, len(c_name), 1) AS name_digit,
          |  CAST(count(*) AS BIGINT) AS n_cust,
          |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
          |FROM customer, t
          |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * t.n > t.s
          |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY 1""".stripMargin)),

    // rolling 7-day distinct users (WAU): windowed COUNT DISTINCT has
    // no decomposable aggregate — the correct distributed shape is the
    // bounded 7x day-explode of the DAILY-DISTINCT pair table
    Entry("q199_rolling_wau", (s, d) => {
      val du = t(s, d, "events")
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
          col("user_id"))
        .distinct()
      val days = du.select(col("day")).distinct()
      du.withColumn("report_day",
          explode(sequence(col("day"), col("day") + 6L)))
        .join(days.withColumnRenamed("day", "report_day"),
          Seq("report_day"), "left_semi")
        .groupBy(col("report_day"))
        .agg(countDistinct(col("user_id")).cast("long").as("wau"))
    },
      // trailing-window distinct restated as the day-grid range join
      Some(
        """WITH du AS (
          |  SELECT DISTINCT
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
          |    user_id
          |  FROM events),
          |days AS (SELECT DISTINCT day FROM du)
          |SELECT g.day AS report_day,
          |  CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
          |FROM days g JOIN du u ON u.day BETWEEN g.day - 6 AND g.day
          |GROUP BY 1""".stripMargin)),

    // TPC-H Q19 shape: disjunctive (brand, size, quantity-band)
    // predicate groups — the OR-of-ANDs pushdown workout
    Entry("q191_disjunctive_pricing", (s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(5, 25) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(10, 40) &&
            col("l_quantity").between(20, 45)))
        .agg(count(lit(1)).cast("long").as("n_items"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue")),
      // OR-of-ANDs predicate groups over the broadcast part dim
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_items,
          |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 30)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 45)""".stripMargin)),

    // trailing 7-day volume per type: a RANGE-frame window over the
    // daily aggregate — value-based framing (a missing day still
    // shortens the window), distinct from q10's rows-frame running sum
    Entry("q187_rolling_7d", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .agg(count(lit(1)).cast("long").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily.withColumn("n_7d", sum(col("n")).over(w).cast("long"))
    },
      // RANGE frame on the integer day axis — value-based framing on
      // both engines
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2)
          |SELECT event_type, day, n,
          |  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
          |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
          |FROM daily""".stripMargin)),

    // order-cadence bands: p50/p90 inter-order gap days per segment
    // under the total (date, orderkey) per-customer order
    Entry("q185_order_cadence", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"))
        .withColumn("__prev", lag(col("o_orderdate"), 1).over(w))
        .filter(col("__prev").isNotNull)
        .withColumn("__gap",
          (unix_date(to_date(col("o_orderdate"))) -
            unix_date(to_date(col("__prev")))).cast("long"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n_gaps"),
          Rounding.pround(expr("percentile(__gap, 0.5)"), 4).as("p50_days"),
          Rounding.pround(expr("percentile(__gap, 0.9)"), 4).as("p90_days"))
    },
      // same total (date, orderkey) per-customer order; quantile_cont
      // parity for the day-gap bands
      Some(
        s"""WITH o AS (
           |  SELECT c_mktsegment, o_custkey, o_orderkey,
           |    CAST(o_orderdate AS DATE) AS d,
           |    lag(CAST(o_orderdate AS DATE)) OVER (
           |      PARTITION BY o_custkey
           |      ORDER BY o_orderdate, o_orderkey) AS prev
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |g AS (
           |  SELECT c_mktsegment,
           |    CAST(date_diff('day', prev, d) AS BIGINT) AS gap
           |  FROM o WHERE prev IS NOT NULL)
           |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
           |  ${pround("quantile_cont(gap, 0.5)", 4)} AS p50_days,
           |  ${pround("quantile_cont(gap, 0.9)", 4)} AS p90_days
           |FROM g GROUP BY 1""".stripMargin)),

    // Benford leading-digit screen on order totals — the synthetic-/
    // fabricated-data tripwire; expected shares are integer constants
    // (they sum to exactly 10000 bp), observed shares integer-divided
    Entry("q186_benford", (s, d) => {
      val expBp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L, 512L, 458L)
      val digit = substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("long")
      val n = t(s, d, "orders")
        .select(digit.as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).cast("long").as("n"))
      n.crossJoin(broadcast(n.agg(sum(col("n")).cast("long").as("__N"))))
        .select(col("digit"), col("n"),
          call_function("div", col("n") * 10000L, col("__N")).as("obs_bp"),
          element_at(array(expBp.map(lit): _*), col("digit").cast("int"))
            .as("exp_bp"))
        .withColumn("dev_bp", col("obs_bp") - col("exp_bp"))
    },
      // expected shares are exact integer constants summing to 10000
      Some(
        """WITH d AS (
          |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
          |  FROM orders),
          |n AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM n),
          |e(digit, exp_bp) AS (VALUES
          |  (1, CAST(3010 AS BIGINT)), (2, 1761), (3, 1249), (4, 969),
          |  (5, 792), (6, 669), (7, 580), (8, 512), (9, 458))
          |SELECT n.digit, n.n, (n.n * 10000) // t.nn AS obs_bp,
          |  CAST(e.exp_bp AS BIGINT) AS exp_bp,
          |  (n.n * 10000) // t.nn - e.exp_bp AS dev_bp
          |FROM n, t JOIN e ON e.digit = n.digit""".stripMargin)),

    // ranking-function suite on a deterministic per-segment total
    // order (acctbal DESC, custkey): ntile quartiles, percent_rank,
    // cume_dist — tie-free by the unique-key suffix so every value is
    // rational and engine-exact; partitioned by segment, so the window
    // state is the usual per-group slice, never a global sort
    // (complements q50's plain ntile: the relative-position functions)
    Entry("q200_rank_suite", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_mktsegment").as("segment"), col("c_custkey"),
          col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"),
          Rounding.pround(percent_rank().over(w), 6).as("pct_rank"),
          Rounding.pround(cume_dist().over(w), 6).as("cume"))
    },
      Some(
        s"""SELECT c_mktsegment AS segment, c_custkey, c_acctbal,
           |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           |  ${pround("percent_rank() OVER w", 6)} AS pct_rank,
           |  ${pround("cume_dist() OVER w", 6)} AS cume
           |FROM customer
           |WINDOW w AS (PARTITION BY c_mktsegment
           |             ORDER BY c_acctbal DESC, c_custkey)""".stripMargin)),

    // TPC-H Q4 shape: per-priority count of orders with at least one
    // late lineitem — EXISTS as a LEFT SEMI join whose condition is
    // the equi-key plus the non-equi lateness predicate (the semi
    // join dedups multi-late orders without a distinct)
    Entry("q201_late_exists", (s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).cast("long").as("n_late_orders")),
      // the semi join IS the EXISTS
      Some(
        """SELECT o_orderpriority AS priority,
          |  CAST(count(*) AS BIGINT) AS n_late_orders
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey
          |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY 1""".stripMargin)),

    // TPC-H Q7 shape: cross-nation trade volume by (supplier nation,
    // customer nation, year). The two nation legs are broadcast; the
    // cross-nation inequality filters on the KEYS before either
    // dimension join runs
    Entry("q202_nation_volume", (s, d) => {
      val n1 = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("__cnk"), col("n_name").as("cust_nation")))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .join(n1, col("s_nationkey") === col("__snk"))
        .join(n2, col("c_nationkey") === col("__cnk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).cast("long").as("year"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("volume"))
    },
      Some(
        """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |  CAST(year(o_orderdate) AS BIGINT) AS year,
          |  count(*) AS n_items,
          |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS volume
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |WHERE s_nationkey <> c_nationkey
          |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H Q11 shape: parts whose revenue exceeds 1.25x the average
    // part's — the HAVING-vs-scalar-subquery pattern decorrelated to
    // a broadcast of ONE (total, count) row, compared by integer
    // cross-multiplication on exact DECIMALs (rev*4n > 5*total)
    Entry("q203_part_concentration", (s, d) => {
      val pr = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("__rev"))
      val tot = pr.agg(sum(col("__rev")).as("__tot"),
        count(lit(1)).cast("long").as("__n"))
      pr.crossJoin(broadcast(tot))
        .filter(col("__rev") * col("__n") * 4 > col("__tot") * 5)
        .select(col("l_partkey"),
          round(col("__rev").cast("double"), 4).as("part_value"))
    },
      // scalar-subquery threshold cross-multiplied on exact DECIMALs:
      // rev > 1.25 * (total/n)  ⟺  rev*n*4 > total*5
      Some(
        """WITH pr AS (
          |  SELECT l_partkey,
          |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT sum(rev) AS tot, CAST(count(*) AS BIGINT) AS n FROM pr)
          |SELECT l_partkey, round(CAST(rev AS DOUBLE), 4) AS part_value
          |FROM pr, t WHERE rev * n * 4 > tot * 5""".stripMargin)),

    // TPC-H Q15 shape: the top-revenue supplier(s) of one quarter —
    // max as a one-row broadcast, selection by exact DECIMAL equality
    // (double equality would be a cross-engine hazard; decimal is not)
    Entry("q204_top_supplier", (s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("__rev"))
      val mx = rev.agg(max(col("__rev")).as("__mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("__rev") === col("__mx"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("__rev").cast("double"), 4).as("total_revenue"))
    },
      // max as a one-row cross join; DECIMAL equality is exact
      Some(
        """WITH rev AS (
          |  SELECT l_suppkey,
          |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS r
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY 1),
          |m AS (SELECT max(r) AS mx FROM rev)
          |SELECT s_suppkey, s_name, round(CAST(r AS DOUBLE), 4) AS total_revenue
          |FROM rev, m JOIN supplier ON l_suppkey = s_suppkey
          |WHERE r = mx""".stripMargin)),

    // TPC-H Q18 shape: large-volume orders — the grouped-HAVING IN
    // subquery as an aggregate-then-join (the decorrelated plan
    // Catalyst would produce); quantity summed in DECIMAL
    Entry("q205_big_orders", (s, d) => {
      val oq = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__qty"))
        .filter(col("__qty") > 250)
      t(s, d, "orders")
        .join(oq, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"),
          round(col("__qty").cast("double"), 2).as("total_qty"))
    },
      Some(
        """WITH oq AS (
          |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
          |  FROM lineitem GROUP BY 1 HAVING qty > 250)
          |SELECT c_custkey, c_name, o_orderkey, o_totalprice,
          |  round(CAST(qty AS DOUBLE), 2) AS total_qty
          |FROM oq JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    // multi-supplier order — the EXISTS/NOT-EXISTS pair restated as
    // two hash aggregates over (order, supplier) lateness flags; no
    // correlated re-scans of lineitem
    // Round 15: the per-order qualifier (>= 2 suppliers, exactly one
    // late) is a WINDOW over the per-(order, supplier) aggregate, not
    // a second aggregate + semi-join — the old shape consumed `ps` in
    // two branches, so the lineitem⋈orders join + aggregate reduced
    // twice and the semi-join added an exchange; same rows out.
    Entry("q206_sole_late_supplier", (s, d) => {
      val ps = t(s, d, "lineitem")
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 45 DAYS"), 1L).otherwise(0L))
          .as("__late"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      ps.withColumn("__ns", count(lit(1)).over(w))
        .withColumn("__nl", sum(col("__late")).over(w))
        .filter(col("__ns") >= 2 && col("__nl") === 1 &&
          col("__late") === 1L)
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
    },
      // per-(order,supplier) lateness flags, then the sole-late filter
      Some(
        """WITH ps AS (
          |  SELECT l_orderkey, l_suppkey,
          |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
          |        THEN 1 ELSE 0 END) AS late
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2),
          |po AS (
          |  SELECT l_orderkey FROM ps
          |  GROUP BY 1 HAVING count(*) >= 2 AND sum(late) = 1)
          |SELECT s_name, CAST(count(*) AS BIGINT) AS n_orders
          |FROM ps
          |JOIN po USING (l_orderkey)
          |JOIN supplier ON l_suppkey = s_suppkey
          |WHERE late = 1
          |GROUP BY 1""".stripMargin)),

    // TPC-H Q16 shape: supplier census per (brand, size) with a NOT-IN
    // exclusion — distinct (part, supplier) pairs from the fact table
    // (the partsupp stand-in), negative-balance suppliers removed by
    // an anti-join, then COUNT DISTINCT per group
    Entry("q207_supplier_census", (s, d) => {
      val psup = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val excluded = t(s, d, "supplier")
        .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
      psup.join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count_distinct(col("l_suppkey")).cast("long").as("supplier_cnt"))
    },
      // NOT IN as the anti-join over distinct fact pairs
      Some(
        """SELECT p_brand, p_size,
          |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
          |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
          |JOIN part ON l_partkey = p_partkey
          |WHERE l_suppkey NOT IN
          |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY 1, 2""".stripMargin)),

    // TPC-H Q20 shape inverted to a per-part dominance audit: the
    // suppliers shipping MORE THAN HALF of a part's total quantity —
    // the correlated per-group threshold as one extra hash aggregate
    // joined back on the group key, compared in exact DECIMAL
    // cross-multiplication (2*sq > tot)
    Entry("q208_dominant_supplier", (s, d) => {
      val sq = t(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__sq"))
      val tot = sq.groupBy(col("l_partkey"))
        .agg(sum(col("__sq")).as("__tot"),
          count(lit(1)).cast("long").as("__nsupp"))
      sq.join(tot, "l_partkey")
        .filter(col("__nsupp") >= 2 && col("__sq") * 2 > col("__tot"))
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("__sq").cast("double"), 2).as("supp_qty"),
          round(col("__tot").cast("double"), 2).as("part_qty"))
    },
      // per-group threshold cross-multiplied on exact DECIMALs
      Some(
        """WITH sq AS (
          |  SELECT l_partkey, l_suppkey,
          |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
          |  FROM lineitem GROUP BY 1, 2),
          |tot AS (
          |  SELECT l_partkey, sum(q) AS tq, CAST(count(*) AS BIGINT) AS ns
          |  FROM sq GROUP BY 1)
          |SELECT sq.l_partkey, l_suppkey,
          |  round(CAST(q AS DOUBLE), 2) AS supp_qty,
          |  round(CAST(tq AS DOUBLE), 2) AS part_qty
          |FROM sq JOIN tot ON sq.l_partkey = tot.l_partkey
          |WHERE ns >= 2 AND q * 2 > tq""".stripMargin)),

    // TPC-H Q2 shape: the cheapest supplier per part — correlated MIN
    // decorrelated to a struct-min aggregate under the total
    // (unit price, suppkey) order; unit price is one IEEE division,
    // identical in any engine, so the argmin is deterministic
    Entry("q209_min_cost_supplier", (s, d) => {
      val unit = t(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("__mp"))
      unit.groupBy(col("l_partkey"))
        .agg(min(struct(col("__mp"), col("l_suppkey"))).as("__m"))
        .select(col("l_partkey"),
          col("__m.l_suppkey").as("best_suppkey"),
          Rounding.pround(col("__m.__mp"), 4).as("unit_price"))
    },
      // the struct-min replayed as a rank-1 cut under the identical
      // (unit price, suppkey) total order
      Some(
        s"""WITH unit AS (
           |  SELECT l_partkey, l_suppkey,
           |    min(l_extendedprice / l_quantity) AS mp
           |  FROM lineitem GROUP BY 1, 2),
           |r AS (
           |  SELECT l_partkey, l_suppkey, mp,
           |    row_number() OVER (PARTITION BY l_partkey
           |                       ORDER BY mp, l_suppkey) AS rn
           |  FROM unit)
           |SELECT l_partkey, l_suppkey AS best_suppkey,
           |  ${pround("mp", 4)} AS unit_price
           |FROM r WHERE rn = 1""".stripMargin)),

    // gaps-and-islands: longest consecutive-active-day streak per user
    // — the island key is day minus per-user row_number (constant
    // within a run, strictly dropping across a gap); two hash
    // aggregates after one per-user window, all integer arithmetic
    Entry("q212_user_streaks", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      t(s, d, "events")
        .select(col("user_id"), unix_date(to_date(col("ts"))).cast("long").as("day"))
        .distinct()
        .withColumn("__isl", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("__isl"))
        .agg(count(lit(1)).as("__len"))
        .groupBy(col("user_id"))
        .agg(sum(col("__len")).cast("long").as("n_active_days"),
          max(col("__len")).cast("long").as("longest_streak"))
    },
      // same island key: day - row_number is constant within a run
      Some(
        """WITH du AS (
          |  SELECT DISTINCT user_id,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
          |  FROM events),
          |isl AS (
          |  SELECT user_id, day,
          |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS k
          |  FROM du),
          |runs AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS len
          |  FROM isl GROUP BY user_id, k)
          |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
          |  CAST(max(len) AS BIGINT) AS longest_streak
          |FROM runs GROUP BY 1""".stripMargin)),

    // relational division (the FOR-ALL query): customers with orders
    // in EVERY priority class — per-customer distinct-class count
    // matched against the one-row global class count, broadcast; no
    // per-class EXISTS chain, one aggregate each side
    Entry("q213_all_priorities", (s, d) => {
      val np = t(s, d, "orders")
        .agg(count_distinct(col("o_orderpriority")).as("__np"))
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count_distinct(col("o_orderpriority")).as("__c"),
          count(lit(1)).cast("long").as("n_orders"))
        .crossJoin(broadcast(np))
        .filter(col("__c") === col("__np"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"))
    },
      // division via distinct-count match against the global class count
      Some(
        """WITH np AS (
          |  SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n FROM orders),
          |pc AS (
          |  SELECT o_custkey,
          |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS c,
          |    CAST(count(*) AS BIGINT) AS n_orders
          |  FROM orders GROUP BY 1)
          |SELECT c_custkey, c_name, n_orders
          |FROM pc, np
          |JOIN customer ON o_custkey = c_custkey
          |WHERE pc.c = np.n""".stripMargin)),

    // bag-semantics set ops: (user, type) occurrence MULTISETS of the
    // first vs second half-month, EXCEPT ALL (per-pair surplus kept
    // with multiplicity) and INTERSECT ALL (common multiplicity) —
    // then folded per type; the final stitch is a full outer join
    Entry("q214_bag_ops", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("__d"))
      val first = ev.filter(col("__d") < lit("2024-01-16"))
        .select(col("user_id"), col("event_type"))
      val second = ev.filter(col("__d") >= lit("2024-01-16"))
        .select(col("user_id"), col("event_type"))
      val surplus = first.exceptAll(second)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_surplus"))
      val common = first.intersectAll(second)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      surplus.join(common, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_surplus"), lit(0L)).as("n_surplus"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
    },
      // EXCEPT ALL / INTERSECT ALL carry multiplicities in both engines
      Some(
        """WITH fst AS (
          |  SELECT user_id, event_type FROM events
          |  WHERE CAST(ts AS DATE) < DATE '2024-01-16'),
          |snd AS (
          |  SELECT user_id, event_type FROM events
          |  WHERE CAST(ts AS DATE) >= DATE '2024-01-16'),
          |ex AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_surplus
          |  FROM (SELECT * FROM fst EXCEPT ALL SELECT * FROM snd)
          |  GROUP BY 1),
          |ix AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_common
          |  FROM (SELECT * FROM fst INTERSECT ALL SELECT * FROM snd)
          |  GROUP BY 1)
          |SELECT coalesce(ex.event_type, ix.event_type) AS event_type,
          |  CAST(coalesce(n_surplus, 0) AS BIGINT) AS n_surplus,
          |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common
          |FROM ex FULL JOIN ix ON ex.event_type = ix.event_type""".stripMargin)),

    // TPC-H Q3 shape: top-10 not-yet-shipped orders of one segment by
    // revenue — ranked on the EXACT decimal sum (ties broken by key)
    // so the head cut is engine-portable, rounded only for output
    Entry("q216_unshipped_topk", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("o_orderdate") < lit("1998-01-01") &&
          col("l_shipdate") > lit("1998-01-01"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("__rev"))
        .orderBy(col("__rev").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
          round(col("__rev").cast("double"), 4).as("revenue")),
      // ranked on the exact DECIMAL sum, rounded after the cut
      Some(
        """SELECT l_orderkey, o_orderdate, o_orderpriority,
          |  round(CAST(rev AS DOUBLE), 4) AS revenue
          |FROM (
          |  SELECT l_orderkey, o_orderdate, o_orderpriority,
          |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  WHERE c_mktsegment = 'BUILDING'
          |    AND o_orderdate < TIMESTAMP '1998-01-01'
          |    AND l_shipdate > TIMESTAMP '1998-01-01'
          |  GROUP BY 1, 2, 3)
          |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q6 shape: the forecast-revenue-change scalar — one
    // filter-only scan, one global aggregate, filters pushed to parquet
    Entry("q217_forecast_revenue", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(count(lit(1)).cast("long").as("n_items"),
          dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue")),
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_items,
          |  round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |  AND l_discount >= 0.05 AND l_discount <= 0.07
          |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q8 shape: one nation's share of a region's spend on one
    // part type, per year — conditional numerator over the eight-way
    // star; the share is ONE double division of two exact decimal
    // sums, identically ordered in both engines
    Entry("q218_market_share", (s, d) => {
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation"))
          .select(col("n_nationkey").as("__cnk"), col("n_regionkey")),
          col("c_nationkey") === col("__cnk"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation"))
          .select(col("n_nationkey").as("__snk"), col("n_name").as("__sn")),
          col("s_nationkey") === col("__snk"))
        .join(broadcast(t(s, d, "part")
          .filter(col("p_type") === "STANDARD").select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(year(col("o_orderdate")).cast("long").as("year"))
        .agg(sum(vol).as("__tot"),
          sum(when(col("__sn") === "NATION_5", vol)
            .otherwise(lit(0.0).cast("decimal(18,4)"))).as("__nat"))
        .select(col("year"),
          round(col("__tot").cast("double"), 4).as("total_volume"),
          round(col("__nat").cast("double"), 4).as("nation_volume"),
          Rounding.pround(col("__nat").cast("double") / col("__tot").cast("double"), 6)
            .as("share"))
    },
      // conditional numerator; the share division runs on the SAME two
      // doubles in both engines
      Some(
        s"""WITH j AS (
           |  SELECT year(o_orderdate) AS yr,
           |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol,
           |    ns.n_name AS sn
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN nation nc ON c_nationkey = nc.n_nationkey
           |  JOIN region ON nc.n_regionkey = r_regionkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ns ON s_nationkey = ns.n_nationkey
           |  JOIN part ON l_partkey = p_partkey
           |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'),
           |g AS (
           |  SELECT CAST(yr AS BIGINT) AS year, sum(vol) AS tot,
           |    sum(CASE WHEN sn = 'NATION_5' THEN vol
           |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS nat
           |  FROM j GROUP BY 1)
           |SELECT year, round(CAST(tot AS DOUBLE), 4) AS total_volume,
           |  round(CAST(nat AS DOUBLE), 4) AS nation_volume,
           |  ${pround("CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS share
           |FROM g""".stripMargin)),

    // TPC-H Q9 shape: per (supplier nation, year) profit on one part
    // family — profit proxy keeps Q9's two-term form (revenue minus a
    // cost rate) with p_retailprice standing in for ps_supplycost
    Entry("q219_product_profit", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "part").filter(col("p_name").contains("widget")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("year"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            col("l_quantity") * col("p_retailprice") * lit(0.1), 4)
            .as("profit")),
      // the two-term profit expression keeps Spark's operand order
      Some(
        """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS year,
          |  CAST(count(*) AS BIGINT) AS n_items,
          |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
          |    - l_quantity * p_retailprice * 0.1 AS DECIMAL(18,4))) AS DOUBLE), 4) AS profit
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN orders ON l_orderkey = o_orderkey
          |WHERE p_name LIKE '%widget%'
          |GROUP BY 1, 2""".stripMargin)),

    // TPC-H Q10 shape: top-20 customers by returned revenue in one
    // quarter — q216's exact-decimal rank discipline
    Entry("q220_returned_customers", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1997-04-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("__lost"))
        .orderBy(col("__lost").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          round(col("__lost").cast("double"), 4).as("lost_revenue")),
      Some(
        """SELECT c_custkey, c_name, c_mktsegment,
          |  round(CAST(lost AS DOUBLE), 4) AS lost_revenue
          |FROM (
          |  SELECT c_custkey, c_name, c_mktsegment,
          |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS lost
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  WHERE l_returnflag = 'R'
          |    AND o_orderdate >= TIMESTAMP '1997-01-01'
          |    AND o_orderdate < TIMESTAMP '1997-04-01'
          |  GROUP BY 1, 2, 3)
          |ORDER BY lost DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q12 shape: priority mix per ship-delay band — the
    // conditional two-counter aggregate over a derived band (the
    // testdata has no shipmode column; the delay band is its analog)
    Entry("q221_shipdelay_mix", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
        .withColumn("__delay", datediff(col("l_shipdate"), col("o_orderdate")))
        .groupBy(when(col("__delay") <= 30, "fast")
          .when(col("__delay") <= 60, "medium")
          .otherwise("slow").as("delay_band"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).cast("long").as("n_high"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).cast("long").as("n_low")),
      Some(
        """SELECT CASE WHEN d <= 30 THEN 'fast'
          |  WHEN d <= 60 THEN 'medium' ELSE 'slow' END AS delay_band,
          |  CAST(sum(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
          |  CAST(sum(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT) AS n_low
          |FROM (
          |  SELECT date_diff('day', CAST(o_orderdate AS DATE),
          |      CAST(l_shipdate AS DATE)) AS d,
          |    o_orderpriority IN ('1-URGENT', '2-HIGH') AS hi
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
          |GROUP BY 1""".stripMargin)),

    // rank-WITH-ties per group: the two most common order priorities
    // per nation by dense_rank over the count alone — ties all
    // survive the cut, so the result SET is deterministic without a
    // tie-break column (q09's row_number/limit family drops ties)
    Entry("q231_dense_topk", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_name")).orderBy(col("n_orders").desc)
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
        .withColumn("rnk", dense_rank().over(w).cast("long"))
        .filter(col("rnk") <= 2)
    },
      // dense_rank over the bare count keeps every tied priority
      Some(
        """WITH c AS (
          |  SELECT n_name, o_orderpriority AS priority,
          |    CAST(count(*) AS BIGINT) AS n_orders
          |  FROM orders
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation ON c_nationkey = n_nationkey
          |  GROUP BY 1, 2)
          |SELECT n_name, priority, n_orders,
          |  CAST(dense_rank() OVER (PARTITION BY n_name
          |    ORDER BY n_orders DESC) AS BIGINT) AS rnk
          |FROM c QUALIFY rnk <= 2""".stripMargin)),

    // view -> purchase conversion latency: first purchase strictly
    // after the first view, exact micros; p50/p90 via the q136
    // percentile ≡ quantile_cont parity
    Entry("q262_conversion_latency", (s, d) => {
      val ev = t(s, d, "events")
      val first = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"))
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("tp"))
        .join(first, "user_id")
        .filter(col("tp") > col("t0"))
        .groupBy(col("user_id"))
        .agg(min(col("tp") - col("t0")).as("lat_us"))
        .agg(count(lit(1)).cast("long").as("n_converted"),
          Rounding.pround(expr("percentile(lat_us, 0.5)"), 1).as("p50_us"),
          Rounding.pround(expr("percentile(lat_us, 0.9)"), 1).as("p90_us"))
    },
      // per-user min purchase-after-first-view delta in exact micros;
      // quantile_cont ≡ percentile (q136 parity), pround 1
      Some(
        s"""WITH f AS (
           |  SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
           |  WHERE event_type = 'view' GROUP BY 1),
           |l AS (
           |  SELECT p.user_id, min(epoch_us(p.ts) - f.t0) AS lat_us
           |  FROM events p JOIN f ON p.user_id = f.user_id
           |  WHERE p.event_type = 'purchase' AND epoch_us(p.ts) > f.t0
           |  GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS n_converted,
           |  ${pround("quantile_cont(lat_us, 0.5)", 1)} AS p50_us,
           |  ${pround("quantile_cont(lat_us, 0.9)", 1)} AS p90_us
           |FROM l""".stripMargin)),

    // RFM segmentation: per-user recency/frequency/monetary, quintile
    // indexes by counting strict quantile-boundary crossings (q136
    // percentile parity; idx 5 = largest values), segment-grid counts
    Entry("q264_rfm_segments", (s, d) => {
      val ev = t(s, d, "events")
      val rfm = ev.groupBy(col("user_id"))
        .agg(max(expr("unix_micros(ts) div 86400000000")).as("__ld"),
          count(lit(1)).cast("long").as("freq"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("monetary"))
        .crossJoin(broadcast(ev.agg(
          max(expr("unix_micros(ts) div 86400000000")).as("__gd"))))
        .withColumn("recency", (col("__gd") - col("__ld")).cast("long"))
      val qs = rfm.agg(
        expr("percentile(recency, array(0.2D,0.4D,0.6D,0.8D))").as("__rq"),
        expr("percentile(freq, array(0.2D,0.4D,0.6D,0.8D))").as("__fq"),
        expr("percentile(monetary, array(0.2D,0.4D,0.6D,0.8D))").as("__mq"))
      def idx(bounds: String, v: Column) =
        (size(filter(col(bounds), x => x < v)) + 1).cast("long")
      rfm.crossJoin(broadcast(qs))
        .select(idx("__rq", col("recency").cast("double")).as("r_idx"),
          idx("__fq", col("freq").cast("double")).as("f_idx"),
          idx("__mq", col("monetary")).as("m_idx"), col("monetary"))
        .groupBy(col("r_idx"), col("f_idx"), col("m_idx"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          dsum(col("monetary")).as("total_value"))
    },
      // same strict boundary-crossing quintile indexes over
      // quantile_cont boundaries; exact DECIMAL totals
      Some(
        """WITH g AS (
          |  SELECT max(epoch_us(ts) // 86400000000) AS gd FROM events),
          |u AS (
          |  SELECT user_id,
          |    CAST(gd - max(epoch_us(ts) // 86400000000) AS BIGINT)
          |      AS recency,
          |    CAST(count(*) AS BIGINT) AS freq,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
          |  FROM events, g GROUP BY user_id, gd),
          |q AS (
          |  SELECT quantile_cont(CAST(recency AS DOUBLE),
          |      [0.2, 0.4, 0.6, 0.8]) AS rq,
          |    quantile_cont(CAST(freq AS DOUBLE),
          |      [0.2, 0.4, 0.6, 0.8]) AS fq,
          |    quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mq
          |  FROM u),
          |s AS (
          |  SELECT
          |    CAST(1 + len(list_filter(rq,
          |      x -> x < CAST(recency AS DOUBLE))) AS BIGINT) AS r_idx,
          |    CAST(1 + len(list_filter(fq,
          |      x -> x < CAST(freq AS DOUBLE))) AS BIGINT) AS f_idx,
          |    CAST(1 + len(list_filter(mq, x -> x < monetary)) AS BIGINT)
          |      AS m_idx,
          |    monetary
          |  FROM u, q)
          |SELECT r_idx, f_idx, m_idx, CAST(count(*) AS BIGINT) AS n_users,
          |  round(CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE), 2)
          |    AS total_value
          |FROM s GROUP BY 1, 2, 3""".stripMargin)),

    // top user-day event paths: the first three event types of each
    // (user, day), ordered by (ts, event_id) — the sankey/funnel
    // discovery view; top-20 by (count desc, path)
    Entry("q246_top_paths", (s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("__day"))
        .agg(array_sort(collect_list(struct(
          unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          col("event_type").as("et")))).as("__evs"))
        .select(concat_ws(">",
          slice(transform(col("__evs"), x => x.getField("et")), 1, 3))
          .as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).cast("long").as("n_user_days"))
        .orderBy(col("n_user_days").desc, col("path"))
        .limit(20),
      // per-(user, day) first-three event types in (ts, event_id)
      // order; exact path counts, top-20 under a total order
      Some(
        """WITH s AS (
          |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
          |    list(event_type ORDER BY ts, event_id) AS evs
          |  FROM events GROUP BY 1, 2),
          |p AS (SELECT array_to_string(evs[1:3], '>') AS path FROM s)
          |SELECT path, CAST(count(*) AS BIGINT) AS n_user_days
          |FROM p GROUP BY 1
          |ORDER BY n_user_days DESC, path LIMIT 20""".stripMargin)),

    // day-of-week seasonality index per event type: each weekday's
    // event share against the uniform 1/7, in exact basis points by
    // integer cross-multiplication (index 10000 = no weekly pattern)
    Entry("q225_weekday_seasonality", (s, d) =>
      t(s, d, "events")
        .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).cast("long").as("n"))
        .withColumn("__tot",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type"))))
        .select(col("event_type"), col("dow"), col("n"),
          expr("CAST(n * 7 * 10000 DIV __tot AS BIGINT)").as("index_bp")),
      // DuckDB dayofweek is Sunday=0; +1 aligns with Spark's Sunday=1
      Some(
        """WITH c AS (
          |  SELECT event_type,
          |    CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) + 1 AS dow,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2),
          |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
          |      FROM c GROUP BY 1)
          |SELECT c.event_type, dow, n,
          |  n * 7 * 10000 // tot AS index_bp
          |FROM c JOIN t ON c.event_type = t.event_type""".stripMargin))
  )
}
