package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — explained-variance & index tier (round-12). */
object ExplainedVarianceQueries {

  // q382_price_index's oracle, shared verbatim by q386_streaming_price_index
  // common-basket items only; p6 unit prices; (18,6)x(19,2)
  // products keep the exact scale-8 both engines
  private[queries] lazy val q382Oracle: String =
        s"""WITH cells AS (
           |  SELECT l_returnflag AS g, l_partkey AS i,
           |    CASE WHEN year(l_shipdate) >= 1995 THEN 1 ELSE 0 END AS e,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
           |      AS DECIMAL(38,2)) AS rev,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
           |      AS DECIMAL(38,2)) AS qty
           |  FROM lineitem GROUP BY 1, 2, 3),
           |c2 AS (
           |  SELECT g, i, e, qty,
           |    ${pround("CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE)", 6)}
           |      AS p6
           |  FROM cells WHERE qty > 0),
           |b AS (SELECT g, i, p6 AS p0, qty AS q0 FROM c2 WHERE e = 0),
           |c AS (SELECT g, i, p6 AS p1, qty AS q1 FROM c2 WHERE e = 1),
           |j AS (SELECT b.g, b.i, p0, q0, p1, q1
           |  FROM b JOIN c ON c.g = b.g AND c.i = b.i),
           |ag AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n_items,
           |    CAST(sum(CAST(CAST(p1 AS DECIMAL(18,6)) *
           |      CAST(q0 AS DECIMAL(19,2)) AS DECIMAL(38,8)))
           |      AS DECIMAL(38,8)) AS lnum,
           |    CAST(sum(CAST(CAST(p0 AS DECIMAL(18,6)) *
           |      CAST(q0 AS DECIMAL(19,2)) AS DECIMAL(38,8)))
           |      AS DECIMAL(38,8)) AS lden,
           |    CAST(sum(CAST(CAST(p1 AS DECIMAL(18,6)) *
           |      CAST(q1 AS DECIMAL(19,2)) AS DECIMAL(38,8)))
           |      AS DECIMAL(38,8)) AS pnum,
           |    CAST(sum(CAST(CAST(p0 AS DECIMAL(18,6)) *
           |      CAST(q1 AS DECIMAL(19,2)) AS DECIMAL(38,8)))
           |      AS DECIMAL(38,8)) AS pden
           |  FROM j GROUP BY 1),
           |fin AS (
           |  SELECT g, n_items,
           |    ${pround("CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE)", 6)}
           |      AS laspeyres,
           |    ${pround("CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE)", 6)}
           |      AS paasche
           |  FROM ag WHERE lden > 0 AND pden > 0)
           |SELECT g AS l_returnflag, n_items, laspeyres, paasche,
           |  ${pround("sqrt(laspeyres * paasche)", 6)} AS fisher
           |FROM fin""".stripMargin

  lazy val entries: Seq[Entry] = Seq(
    // how much of the PRICE spread does the discount tier explain?
    // correlation ratio η² per line status — the cat→numeric
    // association lens beside q343 (cat↔cat) and q374 (directional)
    Entry("q380_eta_squared", (s, d) =>
      operators.Profile.etaSquared(
        t(s, d, "lineitem").select(col("l_linestatus"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT) DIV 2")
            .as("tier"),
          col("l_extendedprice")),
        "l_linestatus", "tier", "l_extendedprice"),
      // between/within sums of squares in exact INTEGER cent² units
      // with floored S²/n stations (HUGEINT // — p6 on squared-sum
      // magnitudes saturates Spark's long-valued floor)
      Some(
        s"""WITH b AS (
           |  SELECT l_linestatus AS g,
           |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) // 2 AS v,
           |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x
           |  FROM lineitem),
           |lv AS (
           |  SELECT g, v, CAST(count(*) AS BIGINT) AS ni,
           |    CAST(sum(x) AS DECIMAL(38,2)) AS si,
           |    CAST(sum(CAST(x * 100 AS HUGEINT) *
           |      CAST(x * 100 AS HUGEINT)) AS HUGEINT) AS qi
           |  FROM b GROUP BY 1, 2),
           |l2 AS (
           |  SELECT g, ni, si, qi,
           |    (CAST(si * 100 AS HUGEINT) * CAST(si * 100 AS HUGEINT))
           |      // ni AS bu
           |  FROM lv),
           |ag AS (
           |  SELECT g, CAST(sum(ni) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS k_levels,
           |    CAST(sum(si) AS DECIMAL(38,2)) AS s,
           |    CAST(sum(qi) AS HUGEINT) AS q,
           |    CAST(sum(bu) AS HUGEINT) AS bs
           |  FROM l2 GROUP BY 1),
           |a2 AS (
           |  SELECT g, n, k_levels, q, bs,
           |    (CAST(s * 100 AS HUGEINT) * CAST(s * 100 AS HUGEINT)) // n
           |      AS s2n
           |  FROM ag)
           |SELECT g AS l_linestatus, n, k_levels,
           |  CASE WHEN (q - s2n) > 0 THEN
           |    ${pround("CAST(bs - s2n AS DOUBLE) / CAST(q - s2n AS DOUBLE)",
             6)}
           |    END AS eta_sq
           |FROM a2""".stripMargin)),

    // which feature PREDICTS order status? decision-stump information
    // gain + Quinlan gain ratio over priority / segment / order year —
    // the first-pass feature audit before any model sees the table
    Entry("q381_info_gain", (s, d) =>
      operators.Profile.infoGain(
        t(s, d, "orders")
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderstatus"), col("o_orderpriority"),
            col("c_mktsegment"),
            year(col("o_orderdate")).cast("string").as("yr")),
        Seq("o_orderpriority", "c_mktsegment", "yr"), "o_orderstatus"),
      // features unpivot by UNION ALL (the Spark stack's mirror);
      // IG = H(T) + H(F) − H(F,T) from the q374 entropy stations
      Some({
        def ent(src: String, out: String) =
          s"""$out AS (
             |  SELECT c.f, ${pround("CAST(CAST(sum(CAST(" +
               pround("CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE) * " +
                 "ln(CAST(n.n AS DOUBLE) / CAST(c AS DOUBLE))", 6) +
               " AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)", 6)} AS h
             |  FROM $src c JOIN n ON n.f = c.f GROUP BY 1)""".stripMargin
        s"""WITH j AS (
           |  SELECT o_orderstatus AS t, o_orderpriority AS pri,
           |    c_mktsegment AS seg,
           |    CAST(year(o_orderdate) AS VARCHAR) AS yr
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |stacked AS (
           |  SELECT t, 'o_orderpriority' AS f, pri AS v FROM j
           |  UNION ALL SELECT t, 'c_mktsegment', seg FROM j
           |  UNION ALL SELECT t, 'yr', yr FROM j),
           |cells AS (SELECT f, v, t, CAST(count(*) AS BIGINT) AS c
           |  FROM stacked GROUP BY 1, 2, 3),
           |n AS (SELECT f, CAST(sum(c) AS BIGINT) AS n
           |  FROM cells GROUP BY 1),
           |mt AS (SELECT f, t, CAST(sum(c) AS BIGINT) AS c
           |  FROM cells GROUP BY 1, 2),
           |mv AS (SELECT f, v, CAST(sum(c) AS BIGINT) AS c
           |  FROM cells GROUP BY 1, 2),
           |${ent("mt", "ht")},
           |${ent("mv", "hf")},
           |${ent("cells", "hj")},
           |ig AS (
           |  SELECT n.f, n.n, ht.h AS h_target,
           |    ${pround("ht.h + hf.h - hj.h", 6)} AS info_gain, hf.h
           |  FROM n JOIN ht ON ht.f = n.f JOIN hf ON hf.f = n.f
           |  JOIN hj ON hj.f = n.f)
           |SELECT f AS feature, n, h_target, info_gain,
           |  CASE WHEN h > 0.0 THEN ${pround("info_gain / h", 6)}
           |    END AS gain_ratio
           |FROM ig""".stripMargin
      })),

    // did PRICES move, or did the basket? Laspeyres/Paasche/Fisher
    // indices per return flag between the pre-/post-1995 eras over
    // parts sold in both — p6 unit prices, exact DECIMAL baskets
    Entry("q382_price_index", (s, d) =>
      operators.Pareto.priceIndices(
        t(s, d, "lineitem").select(col("l_returnflag"),
          col("l_partkey"),
          when(year(col("l_shipdate")) >= 1995, 1L).otherwise(0L)
            .as("era"),
          col("l_extendedprice"), col("l_quantity")),
        "l_returnflag", "l_partkey", "era", "l_extendedprice",
        "l_quantity"),
      Some(q382Oracle))
  )
}
