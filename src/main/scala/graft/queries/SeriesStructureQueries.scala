package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — series structure tier (round-12). */
object SeriesStructureQueries {

  lazy val entries: Seq[Entry] = Seq(
    // what does Monday LOOK like once the trend is removed? classical
    // additive decomposition: centered 7-day MA trend, exact 7y − Σ7
    // detrending, centered day-of-week indices
    Entry("q370_seasonal_decompose", (s, d) =>
      operators.SeriesTests.seasonalDecompose(
        t(s, d, "events")
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).cast("long").as("y"))
          .withColumn("dow", dayofweek(to_date(col("day")))),
        "event_type", "day", "dow", "y"),
      // centered 7-point MA trend; detrended rows exact as 7y − Σ7;
      // dow = DuckDB dayofweek+1 (the q225 convention)
      Some(
        s"""WITH s AS (
           |  SELECT event_type AS g, strftime(ts, '%Y-%m-%d') AS day,
           |    CAST(count(*) AS BIGINT) AS yc
           |  FROM events GROUP BY 1, 2),
           |b AS (
           |  SELECT g, day,
           |    CAST(dayofweek(CAST(day AS DATE)) AS BIGINT) + 1 AS dow,
           |    CAST(yc AS DECIMAL(18,2)) AS y
           |  FROM s),
           |d7 AS (
           |  SELECT g, dow, y,
           |    count(*) OVER w AS c7,
           |    CAST(sum(y) OVER w AS DECIMAL(28,2)) AS s7
           |  FROM b WINDOW w AS (PARTITION BY g ORDER BY day
           |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
           |det AS (
           |  SELECT g, dow, CAST(y * 7 - s7 AS DECIMAL(38,2)) AS dd
           |  FROM d7 WHERE c7 = 7),
           |raw AS (
           |  SELECT g, dow, CAST(count(*) AS BIGINT) AS n_obs,
           |    ${pround("CAST(CAST(sum(dd) AS DECIMAL(38,2)) AS DOUBLE) / " +
             "(7.0 * CAST(count(*) AS DOUBLE))", 6)} AS raw6
           |  FROM det GROUP BY 1, 2),
           |cen AS (
           |  SELECT g, dow, n_obs, raw6,
           |    ${pround("CAST(sum(CAST(raw6 AS DECIMAL(18,6))) " +
             "OVER (PARTITION BY g) AS DOUBLE) / " +
             "CAST(count(*) OVER (PARTITION BY g) AS DOUBLE)", 6)} AS m6
           |  FROM raw)
           |SELECT g AS event_type, dow, n_obs,
           |  ${pround("raw6 - m6", 6)} AS seasonal
           |FROM cen""".stripMargin)),

    // the full memory profile behind q361's single verdict: the ACF
    // at lags 1..14 per event type, exact DECIMAL autocovariances
    Entry("q371_acf_table", (s, d) =>
      operators.SeriesTests.acf(
        t(s, d, "events")
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).cast("long").as("y")),
        "event_type", "day", "y", maxLag = 14),
      // the q361 autocovariance algebra, rho exposed per lag
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
           |lags AS (SELECT unnest(range(1, 15)) AS k),
           |pl AS (
           |  SELECT a.g, l.k,
           |    CAST(sum(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS c,
           |    CAST(sum(a.y) AS HUGEINT) AS head,
           |    CAST(sum(b.y) AS HUGEINT) AS tail
           |  FROM i a CROSS JOIN lags l
           |  JOIN i b ON b.g = a.g AND b.t = a.t + l.k
           |  GROUP BY 1, 2)
           |SELECT pl.g AS event_type, pl.k, tot.n,
           |  CASE WHEN CAST(tot.n AS HUGEINT) * tot.n * tot.syy
           |      - CAST(tot.n AS HUGEINT) * tot.sy * tot.sy > 0 THEN
           |    ${pround("CAST(CAST(tot.n AS HUGEINT) * tot.n * pl.c " +
             "- CAST(tot.n AS HUGEINT) * tot.sy * (pl.head + pl.tail) " +
             "+ (tot.n - pl.k) * tot.sy * tot.sy AS DOUBLE) / " +
             "CAST(CAST(tot.n AS HUGEINT) * tot.n * tot.syy " +
             "- CAST(tot.n AS HUGEINT) * tot.sy * tot.sy AS DOUBLE)", 6)}
           |    ELSE 0.0 END AS rho
           |FROM pl JOIN tot ON tot.g = pl.g""".stripMargin)),

    // random walk or long memory? Hurst exponent by rescaled-range
    // analysis over block sizes 8/16/32/64 of the daily order-count
    // series — exact in-block algebra, one closing log-log fit
    Entry("q372_hurst", (s, d) =>
      operators.SeriesTests.hurstRS(
        t(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).cast("long").as("y")),
        "o_orderpriority", "day", "y"),
      // full blocks only; in-block range and variance exact by the
      // scaled m·cum − (k+1)·S / m·Q − S² algebra (DECIMAL(19) operand
      // casts for the int128 multiply); order-free p6 reductions; one
      // closing least-squares division
      Some(
        s"""WITH s AS (
           |  SELECT o_orderpriority AS g,
           |    strftime(o_orderdate, '%Y-%m-%d') AS day,
           |    CAST(count(*) AS DECIMAL(18,2)) AS y
           |  FROM orders GROUP BY 1, 2),
           |i AS (
           |  SELECT g, y, CAST(row_number() OVER (PARTITION BY g
           |    ORDER BY day) - 1 AS BIGINT) AS t
           |  FROM s),
           |np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_points
           |  FROM i GROUP BY 1),
           |fan AS (
           |  SELECT g, y, t, m, t // m AS blk, t % m AS k
           |  FROM i CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS m)),
           |wb AS (
           |  SELECT g, m, blk, k, y,
           |    count(*) OVER b AS cnt,
           |    CAST(sum(y) OVER b AS DECIMAL(28,2)) AS sb,
           |    CAST(sum(CAST(CAST(y AS DECIMAL(19,2)) *
           |      CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4))) OVER b
           |      AS DECIMAL(38,4)) AS qb,
           |    CAST(sum(y) OVER (PARTITION BY g, m, blk ORDER BY k
           |      ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,2)) AS cum
           |  FROM fan WINDOW b AS (PARTITION BY g, m, blk)),
           |dd AS (
           |  SELECT g, m, blk, sb, qb,
           |    CAST(CAST(cum AS DECIMAL(19,2)) * m -
           |      (k + 1) * CAST(sb AS DECIMAL(19,2)) AS DECIMAL(38,2)) AS d
           |  FROM wb WHERE cnt = m),
           |pb AS (
           |  SELECT g, m, blk, max(d) AS dmax, min(d) AS dmin,
           |    max(sb) AS sb, max(qb) AS qb
           |  FROM dd GROUP BY 1, 2, 3),
           |pv AS (
           |  SELECT g, m, dmax, dmin,
           |    CAST(CAST(qb AS DECIMAL(19,4)) * m -
           |      CAST(CAST(sb AS DECIMAL(19,2)) * CAST(sb AS DECIMAL(19,2))
           |      AS DECIMAL(38,4)) AS DECIMAL(38,4)) AS vm2
           |  FROM pb),
           |rs AS (
           |  SELECT g, m,
           |    ${pround("CAST(dmax - dmin AS DOUBLE) / " +
             "sqrt(CAST(vm2 AS DOUBLE))", 6)} AS rs6
           |  FROM pv WHERE vm2 > 0),
           |ps AS (
           |  SELECT g, m, CAST(count(*) AS BIGINT) AS nb,
           |    CAST(sum(CAST(rs6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS srs
           |  FROM rs GROUP BY 1, 2),
           |mn AS (
           |  SELECT g, m,
           |    ${pround("CAST(srs AS DOUBLE) / CAST(nb AS DOUBLE)", 6)}
           |      AS mean6
           |  FROM ps),
           |xy AS (
           |  SELECT g, ${pround("ln(CAST(m AS DOUBLE))", 6)} AS x6,
           |    ${pround("ln(mean6)", 6)} AS y6
           |  FROM mn WHERE mean6 > 0.0),
           |ft AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n_sizes,
           |    CAST(sum(CAST(x6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sx,
           |    CAST(sum(CAST(y6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sy,
           |    CAST(sum(CAST(CAST(x6 AS DECIMAL(19,6)) *
           |      CAST(y6 AS DECIMAL(19,6)) AS DECIMAL(38,12)))
           |      AS DECIMAL(38,12)) AS sxy,
           |    CAST(sum(CAST(CAST(x6 AS DECIMAL(19,6)) *
           |      CAST(x6 AS DECIMAL(19,6)) AS DECIMAL(38,12)))
           |      AS DECIMAL(38,12)) AS sxx
           |  FROM xy GROUP BY 1 HAVING count(*) >= 2)
           |SELECT ft.g AS o_orderpriority, np.n_points, ft.n_sizes,
           |  ${pround("(CAST(n_sizes AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
             "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
             "(CAST(n_sizes AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
             "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)} AS hurst
           |FROM ft JOIN np ON np.g = ft.g""".stripMargin)),

    // q366's population gauge kept live: per-(type, user) capture
    // indicators max-merged across batches, card via the shared
    // chapmanFromIndicators closing. Batch 0 is a read-only
    // per-session fixture (the q223 lesson): each invocation times ONE
    // real merge against committed state, not the fixture rebuild.
    Entry("q373_streaming_capture", (s, d) => {
      def ev = t(s, d, "events").select(col("event_type"), col("user_id"),
        col("event_id"),
        (expr("unix_micros(ts) div 86400000000") % 2 === 0)
          .cast("long").as("in_a"),
        (expr("unix_micros(ts) div 86400000000") % 2 === 1)
          .cast("long").as("in_b"))
      val st = stateFixture("q373", s, d) { p =>
        streaming.StreamingCapture.acceptBatch(
          ev.filter(col("event_id") % 2 === 0), "event_type", "user_id",
          "in_a", "in_b", p)
      }
      val merged = streaming.StreamingCapture.mergeBatch(
        ev.filter(col("event_id") % 2 === 1), "event_type", "user_id",
        "in_a", "in_b", st)
      streaming.StreamingCapture.captureView(merged, "event_type")
    },
      // 0/1 capture indicators max-merge (associative, commutative,
      // idempotent) under any batch split = the one-shot indicator
      // table, and both cards read the shared chapmanFromIndicators
      // closing
      Some(RetrievalLinkageQueries.q366Oracle))
  )
}
