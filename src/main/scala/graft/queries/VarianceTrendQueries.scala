package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — variance & ordered-trend tier (round-12). */
object VarianceTrendQueries {

  lazy val entries: Seq[Entry] = Seq(
    // did price DISPERSION change across ship years? Levene's test
    // (mean-centered) per line status: one-way ANOVA F on |x − mean|,
    // deviations exact by n·x − S cross-multiplication
    Entry("q358_levene", (s, d) =>
      operators.Hypothesis.levene(
        t(s, d, "lineitem").select(col("l_linestatus"),
          year(col("l_shipdate")).cast("long").as("yr"),
          col("l_extendedprice")),
        "l_linestatus", "yr", "l_extendedprice"),
      // mean-centered deviations by exact n·x − S cross-multiplication;
      // p6 deviations, then micro-unit HUGEINT moments with floored
      // S²/n stations (p6 on squared-sum magnitudes saturates Spark's
      // long-valued floor — the q380 lesson), Spark operand order in
      // the closing F
      Some(
        s"""WITH base AS (
           |  SELECT l_linestatus AS g, CAST(year(l_shipdate) AS BIGINT) AS a,
           |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x
           |  FROM lineitem),
           |arms AS (
           |  SELECT g, a, CAST(count(*) AS BIGINT) AS na,
           |    CAST(sum(x) AS DECIMAL(38,2)) AS sa
           |  FROM base GROUP BY 1, 2),
           |dev AS (
           |  SELECT b.g, b.a,
           |    ${pround("CAST(abs(b.x * CAST(ar.na AS DECIMAL(19,0)) - ar.sa)" +
             " AS DOUBLE) / CAST(ar.na AS DOUBLE)", 6)} AS z6
           |  FROM base b JOIN arms ar ON ar.g = b.g AND ar.a = b.a),
           |pa AS (
           |  SELECT g, a, CAST(count(*) AS BIGINT) AS na,
           |    CAST(sum(CAST(CAST(z6 AS DECIMAL(18,6)) * 1000000
           |      AS HUGEINT)) AS HUGEINT) AS szu,
           |    CAST(sum(CAST(CAST(z6 AS DECIMAL(18,6)) * 1000000
           |      AS HUGEINT) * CAST(CAST(z6 AS DECIMAL(18,6)) * 1000000
           |      AS HUGEINT)) AS HUGEINT) AS szzu
           |  FROM dev GROUP BY 1, 2),
           |pb AS (SELECT g, na, szu, szzu, (szu * szu) // na AS bu FROM pa),
           |cl AS (
           |  SELECT g, CAST(sum(na) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS k_arms,
           |    CAST(sum(szu) AS HUGEINT) AS tzu,
           |    CAST(sum(szzu) AS HUGEINT) AS tzzu,
           |    CAST(sum(bu) AS HUGEINT) AS bsu
           |  FROM pb GROUP BY 1),
           |c2 AS (
           |  SELECT g, n, k_arms, tzzu, bsu, (tzu * tzu) // n AS t2n
           |  FROM cl WHERE k_arms >= 2 AND n > k_arms)
           |SELECT g AS l_linestatus, n, k_arms,
           |  (k_arms - 1) AS df1, (n - k_arms) AS df2,
           |  CASE WHEN tzzu - bsu = 0 THEN NULL ELSE
           |    ${pround("(CAST(n - k_arms AS DOUBLE) * " +
             "CAST(bsu - t2n AS DOUBLE)) / " +
             "(CAST(k_arms - 1 AS DOUBLE) * " +
             "CAST(tzzu - bsu AS DOUBLE))", 6)} END AS w_stat
           |FROM c2""".stripMargin)),

    // do priorities differ in mean order value WITHOUT assuming equal
    // variances? Welch's heteroscedastic one-way ANOVA per market
    // segment — per-arm moments exact, order-free DECIMAL reductions
    Entry("q359_welch_anova", (s, d) =>
      operators.Hypothesis.welchAnova(
        t(s, d, "orders")
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderpriority"),
            col("o_totalprice")),
        "c_mktsegment", "o_orderpriority", "o_totalprice"),
      // per-arm exact moments -> p6 means/variances/weights; every
      // cross-arm reduction is a DECIMAL sum of p6 values so
      // accumulation order cannot show; arms with n < 2 or zero
      // variance drop on both sides
      Some(
        s"""WITH base AS (
           |  SELECT c_mktsegment AS g, o_orderpriority AS a,
           |    CAST(o_totalprice AS DECIMAL(18,2)) AS x
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |arms0 AS (
           |  SELECT g, a, CAST(count(*) AS BIGINT) AS na,
           |    CAST(sum(x) AS DECIMAL(38,2)) AS sa,
           |    CAST(sum(CAST(CAST(x AS DECIMAL(19,2)) *
           |      CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,4)))
           |      AS DECIMAL(38,4)) AS qa
           |  FROM base GROUP BY 1, 2 HAVING count(*) >= 2),
           |arms1 AS (
           |  SELECT g, a, na,
           |    ${pround("CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)", 6)} AS m6,
           |    ${pround("(CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * " +
             "CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / " +
             "(CAST(na AS DOUBLE) - 1.0)", 6)} AS v6
           |  FROM arms0),
           |arms2 AS (
           |  SELECT g, a, na, m6, v6,
           |    ${pround("CAST(na AS DOUBLE) / v6", 6)} AS w6
           |  FROM arms1 WHERE v6 > 0.0),
           |win AS (
           |  SELECT g, a, na, m6, w6,
           |    CAST(sum(CAST(w6 AS DECIMAL(18,6))) OVER (PARTITION BY g)
           |      AS DECIMAL(38,6)) AS sw,
           |    CAST(sum(CAST(CAST(w6 AS DECIMAL(19,6)) *
           |      CAST(m6 AS DECIMAL(19,6)) AS DECIMAL(38,12)))
           |      OVER (PARTITION BY g) AS DECIMAL(38,12)) AS swm,
           |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS k
           |  FROM arms2),
           |terms AS (
           |  SELECT g, na, m6, w6, sw, k,
           |    ${pround("CAST(swm AS DOUBLE) / CAST(sw AS DOUBLE)", 6)}
           |      AS grand6
           |  FROM win WHERE k >= 2 AND sw > 0),
           |t2 AS (
           |  SELECT g, na, k,
           |    ${pround("w6 * (m6 - grand6) * (m6 - grand6)", 6)} AS t6,
           |    ${pround("(1.0 - w6 / CAST(sw AS DOUBLE)) * " +
             "(1.0 - w6 / CAST(sw AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)",
             6)} AS u6
           |  FROM terms),
           |agg AS (
           |  SELECT g, CAST(sum(na) AS BIGINT) AS n,
           |    CAST(max(k) AS BIGINT) AS k_arms,
           |    CAST(sum(CAST(t6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS st,
           |    CAST(sum(CAST(u6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS su
           |  FROM t2 GROUP BY 1)
           |SELECT g AS c_mktsegment, n, k_arms,
           |  ${pround("(CAST(st AS DOUBLE) / (CAST(k_arms AS DOUBLE) - 1.0))" +
             " / (1.0 + 2.0 * (CAST(k_arms AS DOUBLE) - 2.0) / " +
             "(CAST(k_arms AS DOUBLE) * CAST(k_arms AS DOUBLE) - 1.0) * " +
             "CAST(su AS DOUBLE))", 6)} AS f_stat,
           |  (k_arms - 1) AS df1,
           |  CASE WHEN CAST(su AS DOUBLE) > 0.0 THEN
           |    ${pround("(CAST(k_arms AS DOUBLE) * CAST(k_arms AS DOUBLE)" +
             " - 1.0) / (3.0 * CAST(su AS DOUBLE))", 6)}
           |    ELSE 0.0 END AS df2
           |FROM agg""".stripMargin)),

    // does quantity rise MONOTONICALLY with the discount tier?
    // Jonckheere–Terpstra ordered-trend test per return flag over six
    // 2%-wide tiers — dominance counts from one fan-out window, the
    // full Hollander–Wolfe tie-corrected variance
    Entry("q360_jonckheere", (s, d) =>
      operators.Hypothesis.jonckheere(
        t(s, d, "lineitem").select(col("l_returnflag"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT) DIV 2")
            .as("tier"),
          col("l_quantity")),
        "l_returnflag", "tier", "l_quantity", maxArm = 5),
      // the fan-out dominance-count shape mirrored: each value cell
      // joins every target arm j >= a, one cumulative window per
      // (group, j); moment ingredients and the Hollander-Wolfe
      // tie-corrected variance in HUGEINT, the Spark operand order
      Some(
        s"""WITH base AS (
           |  SELECT l_returnflag AS g,
           |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) // 2 AS a,
           |    CAST(l_quantity AS DECIMAL(18,2)) AS v
           |  FROM lineitem),
           |cells AS (
           |  SELECT g, a, v, CAST(count(*) AS BIGINT) AS c
           |  FROM base GROUP BY 1, 2, 3),
           |fan AS (
           |  SELECT c.g, j.j, c.v,
           |    CAST(sum(CASE WHEN c.a < j.j THEN c.c ELSE 0 END)
           |      AS BIGINT) AS lc,
           |    CAST(sum(CASE WHEN c.a = j.j THEN c.c ELSE 0 END)
           |      AS BIGINT) AS sc
           |  FROM cells c JOIN (SELECT unnest(range(0, 6)) AS j) j
           |    ON j.j >= c.a
           |  GROUP BY 1, 2, 3),
           |ctr AS (
           |  SELECT g, j, v, sc, lc,
           |    COALESCE(CAST(sum(lc) OVER (PARTITION BY g, j ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS tlt
           |  FROM fan),
           |jt AS (
           |  SELECT g, CAST(sum(CAST(sc AS HUGEINT) * (2 * tlt + lc))
           |    AS HUGEINT) AS jt2
           |  FROM ctr WHERE sc > 0 GROUP BY 1),
           |pa AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS k_arms,
           |    CAST(sum(ni) AS HUGEINT) AS n,
           |    CAST(sum(CAST(ni AS HUGEINT) * ni) AS HUGEINT) AS sn2,
           |    CAST(sum(CAST(ni AS HUGEINT) * (ni - 1) * (2 * ni + 5))
           |      AS HUGEINT) AS sn25,
           |    CAST(sum(CAST(ni AS HUGEINT) * (ni - 1)) AS HUGEINT) AS sn11,
           |    CAST(sum(CAST(ni AS HUGEINT) * (ni - 1) * (ni - 2))
           |      AS HUGEINT) AS sn12
           |  FROM (SELECT g, a, CAST(sum(c) AS BIGINT) AS ni
           |        FROM cells GROUP BY 1, 2)
           |  GROUP BY 1),
           |pv AS (
           |  SELECT g,
           |    CAST(sum(CAST(tv AS HUGEINT) * (tv - 1) * (2 * tv + 5))
           |      AS HUGEINT) AS st25,
           |    CAST(sum(CAST(tv AS HUGEINT) * (tv - 1)) AS HUGEINT) AS st11,
           |    CAST(sum(CAST(tv AS HUGEINT) * (tv - 1) * (tv - 2))
           |      AS HUGEINT) AS st12
           |  FROM (SELECT g, v, CAST(sum(c) AS BIGINT) AS tv
           |        FROM cells GROUP BY 1, 2)
           |  GROUP BY 1),
           |vv AS (
           |  SELECT jt.g, pa.n, pa.k_arms, jt.jt2,
           |    (pa.n * pa.n - pa.sn2) // 2 AS e2,
           |    (CAST(pa.n AS DOUBLE) * (CAST(pa.n AS DOUBLE) - 1.0) *
           |      (2.0 * CAST(pa.n AS DOUBLE) + 5.0)
           |      - CAST(pa.sn25 AS DOUBLE) - CAST(pv.st25 AS DOUBLE)) / 72.0
           |      + CAST(pa.sn12 AS DOUBLE) * CAST(pv.st12 AS DOUBLE) /
           |        (36.0 * CAST(pa.n AS DOUBLE) *
           |          (CAST(pa.n AS DOUBLE) - 1.0) *
           |          (CAST(pa.n AS DOUBLE) - 2.0))
           |      + CAST(pa.sn11 AS DOUBLE) * CAST(pv.st11 AS DOUBLE) /
           |        (8.0 * CAST(pa.n AS DOUBLE) *
           |          (CAST(pa.n AS DOUBLE) - 1.0)) AS vard
           |  FROM jt JOIN pa ON pa.g = jt.g JOIN pv ON pv.g = jt.g
           |  WHERE pa.k_arms >= 2)
           |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n, k_arms,
           |  CAST(jt2 AS BIGINT) AS jt2, CAST(e2 AS BIGINT) AS e2,
           |  CASE WHEN vard > 0.0 AND CAST(n AS DOUBLE) > 2.0 THEN
           |    ${pround("(CAST(jt2 AS DOUBLE) - CAST(e2 AS DOUBLE)) / " +
             "(2.0 * sqrt(vard))", 6)}
           |    ELSE 0.0 END AS z
           |FROM vv""".stripMargin))
  )
}
