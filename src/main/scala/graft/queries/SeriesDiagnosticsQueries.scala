package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — series diagnostics (round-12). */
object SeriesDiagnosticsQueries {

  lazy val entries: Seq[Entry] = Seq(
    // is each event type's daily volume white noise, or does it
    // remember yesterday? Ljung–Box Q over lags 1..7 of the
    // row-indexed daily-count series; exact DECIMAL autocovariances,
    // decided against the shared χ²₇ 95% literal
    Entry("q361_ljung_box", (s, d) =>
      operators.SeriesTests.ljungBox(
        t(s, d, "events")
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).cast("long").as("y")),
        "event_type", "day", "y", maxLag = 7),
      // row_number-indexed daily series; HUGEINT autocovariance
      // cross-multiplication mirrors the Spark DECIMAL(38,0) algebra;
      // rho/terms pround6; the χ²₇ literal is SeriesTests.chi2Crit95(7)
      Some(
        s"""WITH s AS (
           |  SELECT event_type AS g, strftime(ts, '%Y-%m-%d') AS day,
           |    CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |i AS (
           |  SELECT g, y, CAST(row_number() OVER (PARTITION BY g
           |    ORDER BY day) AS BIGINT) AS t
           |  FROM s),
           |tot AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(y) AS HUGEINT) AS sy,
           |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
           |  FROM i GROUP BY 1),
           |lags AS (SELECT unnest(range(1, 8)) AS k),
           |pl AS (
           |  SELECT a.g, l.k,
           |    CAST(sum(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS c,
           |    CAST(sum(a.y) AS HUGEINT) AS head,
           |    CAST(sum(b.y) AS HUGEINT) AS tail
           |  FROM i a CROSS JOIN lags l
           |  JOIN i b ON b.g = a.g AND b.t = a.t + l.k
           |  GROUP BY 1, 2),
           |rho AS (
           |  SELECT pl.g, pl.k, tot.n,
           |    CAST(tot.n AS HUGEINT) * tot.n * pl.c
           |      - CAST(tot.n AS HUGEINT) * tot.sy * (pl.head + pl.tail)
           |      + (tot.n - pl.k) * tot.sy * tot.sy AS covn2,
           |    CAST(tot.n AS HUGEINT) * tot.n * tot.syy
           |      - CAST(tot.n AS HUGEINT) * tot.sy * tot.sy AS varn2
           |  FROM pl JOIN tot ON tot.g = pl.g),
           |tm AS (
           |  SELECT g, k, n,
           |    ${pround("(CASE WHEN varn2 > 0 THEN " +
             pround("CAST(covn2 AS DOUBLE) / CAST(varn2 AS DOUBLE)", 6) +
             " ELSE 0.0 END) * (CASE WHEN varn2 > 0 THEN " +
             pround("CAST(covn2 AS DOUBLE) / CAST(varn2 AS DOUBLE)", 6) +
             " ELSE 0.0 END) / CAST(n - k AS DOUBLE)", 6)} AS term6
           |  FROM rho),
           |agg AS (
           |  SELECT g, CAST(max(n) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS m_lags,
           |    ${pround("CAST(max(n) AS DOUBLE) * " +
             "(CAST(max(n) AS DOUBLE) + 2.0) * " +
             "CAST(CAST(sum(CAST(term6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) " +
             "AS DOUBLE)", 6)} AS q_stat
           |  FROM tm GROUP BY 1)
           |SELECT g AS event_type, n, m_lags, q_stat,
           |  CAST(CASE WHEN q_stat >= 14.067140449340169 THEN 1 ELSE 0 END
           |    AS BIGINT) AS reject
           |FROM agg""".stripMargin)),

    // does daily revenue FLIP randomly around its mean, or wander in
    // regimes? Wald–Wolfowitz runs test per order priority — signs
    // from the exact n·y vs S cross-multiplication, normal-z closing
    Entry("q362_runs_test", (s, d) =>
      operators.SeriesTests.runsTest(
        t(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("rev")),
        "o_orderpriority", "day", "rev"),
      // sign against the exact n·y > S cross-multiplication (equality
      // counts below); E/Var products in HUGEINT, z pround6
      Some(
        s"""WITH s AS (
           |  SELECT o_orderpriority AS g, strftime(o_orderdate, '%Y-%m-%d') AS d,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
           |      AS DECIMAL(18,2)) AS y
           |  FROM orders GROUP BY 1, 2),
           |w AS (
           |  SELECT g, d, y,
           |    CAST(count(*) OVER (PARTITION BY g) AS DECIMAL(19,0)) AS n,
           |    CAST(sum(y) OVER (PARTITION BY g) AS DECIMAL(28,2)) AS sy
           |  FROM s),
           |sgn AS (
           |  SELECT g, d,
           |    CASE WHEN y * n > sy THEN 1 ELSE 0 END AS above
           |  FROM w),
           |fl AS (
           |  SELECT g, above,
           |    CASE WHEN lag(above) OVER (PARTITION BY g ORDER BY d)
           |      IS NULL THEN 1
           |      WHEN lag(above) OVER (PARTITION BY g ORDER BY d)
           |        <> above THEN 1
           |      ELSE 0 END AS flip
           |  FROM sgn),
           |agg AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(above) AS BIGINT) AS n_above,
           |    CAST(sum(flip) AS BIGINT) AS runs
           |  FROM fl GROUP BY 1),
           |v AS (
           |  SELECT g, n, n_above, runs,
           |    CAST(2 AS HUGEINT) * n_above * (n - n_above) AS ern,
           |    CAST(2 AS HUGEINT) * n_above * (n - n_above) *
           |      (CAST(2 AS HUGEINT) * n_above * (n - n_above) - n) AS vn,
           |    CAST(n AS HUGEINT) * n * (n - 1) AS vd
           |  FROM agg)
           |SELECT g AS o_orderpriority, n, n_above, runs,
           |  CASE WHEN vd > 0 AND vn > 0 THEN
           |    ${pround("(CAST(runs AS DOUBLE) - 1.0 - " +
             "CAST(ern AS DOUBLE) / CAST(n AS DOUBLE)) / " +
             "sqrt(CAST(vn AS DOUBLE) / CAST(vd AS DOUBLE))", 6)}
           |    ELSE 0.0 END AS z
           |FROM v""".stripMargin)),

    // if daily order volume level-shifted, WHEN? Pettitt rank
    // changepoint per priority — doubled-midrank integer U_t,
    // earliest argmax, the classic 2·exp(−6K²/(n³+n²)) significance
    Entry("q363_pettitt", (s, d) =>
      operators.SeriesTests.pettitt(
        t(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).cast("long").as("y")),
        "o_orderpriority", "day", "y"),
      // doubled-midrank integer U_t; earliest argmax; the closing
      // approximation's operand order mirrors SeriesTests.pettitt
      Some(
        s"""WITH s AS (
           |  SELECT o_orderpriority AS g, strftime(o_orderdate, '%Y-%m-%d') AS d,
           |    CAST(count(*) AS DECIMAL(18,2)) AS y
           |  FROM orders GROUP BY 1, 2),
           |r AS (
           |  SELECT g, d,
           |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n,
           |    CAST(2 * rank() OVER (PARTITION BY g ORDER BY y)
           |      + count(*) OVER (PARTITION BY g, y) - 1 AS BIGINT) AS mid2
           |  FROM s),
           |u AS (
           |  SELECT g, d, n,
           |    CAST(row_number() OVER (PARTITION BY g ORDER BY d)
           |      AS BIGINT) AS t,
           |    CAST(sum(mid2) OVER (PARTITION BY g ORDER BY d
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS w2
           |  FROM r),
           |uu AS (
           |  SELECT g, d, n, t, w2 - t * (n + 1) AS u_t
           |  FROM u WHERE t < n),
           |best AS (
           |  SELECT g, n, t, d, u_t,
           |    row_number() OVER (PARTITION BY g
           |      ORDER BY abs(u_t) DESC, t) AS rn
           |  FROM uu)
           |SELECT g AS o_orderpriority, n,
           |  CAST(abs(u_t) AS BIGINT) AS k_stat, t AS t_star,
           |  d AS ord_star,
           |  ${pround("least(1.0, 2.0 * exp(-6.0 * CAST(u_t AS DOUBLE) * " +
             "CAST(u_t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * " +
             "CAST(n AS DOUBLE) + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))", 6)}
           |    AS p_approx
           |FROM best WHERE rn = 1""".stripMargin))
  )
}
