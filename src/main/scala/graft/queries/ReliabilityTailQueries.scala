package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — reliability & tail tier (round-12). */
object ReliabilityTailQueries {

  // q368_mean_excess's oracle, shared verbatim by q379_streaming_tail
  // thresholds fanned before the aggregate; exact DECIMAL excess
  // moments, p6 closings; NULL fit under 2 exceedances / zero s²
  private[queries] lazy val q368Oracle: String =
        s"""WITH fan AS (
           |  SELECT l_returnflag AS g, u,
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) -
           |      CAST(u AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS e
           |  FROM lineitem CROSS JOIN
           |    (SELECT unnest([20000.0, 40000.0, 60000.0, 80000.0]) AS u)
           |  WHERE CAST(l_extendedprice AS DECIMAL(18,2)) > u),
           |ag AS (
           |  SELECT g, u, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(e) AS DECIMAL(38,2)) AS se,
           |    CAST(sum(CAST(CAST(e AS DECIMAL(19,2)) *
           |      CAST(e AS DECIMAL(19,2)) AS DECIMAL(38,4)))
           |      AS DECIMAL(38,4)) AS sq
           |  FROM fan GROUP BY 1, 2),
           |m AS (
           |  SELECT g, u, n,
           |    ${pround("CAST(se AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS me,
           |    CASE WHEN n >= 2 THEN
           |      ${pround("(CAST(sq AS DOUBLE) - CAST(se AS DOUBLE) * " +
             "CAST(se AS DOUBLE) / CAST(n AS DOUBLE)) / " +
             "(CAST(n AS DOUBLE) - 1.0)", 6)} END AS s2
           |  FROM ag)
           |SELECT g AS l_returnflag, u, n AS n_exceed, me AS mean_excess,
           |  CASE WHEN s2 > 0.0 THEN
           |    ${pround("0.5 * (1.0 - me * me / s2)", 6)} END AS xi,
           |  CASE WHEN s2 > 0.0 THEN
           |    ${pround("0.5 * me * (me * me / s2 + 1.0)", 6)} END AS sigma
           |FROM m""".stripMargin

  lazy val entries: Seq[Entry] = Seq(
    // is "1995 order cadence" ONE trait, or four unrelated quarters?
    // Cronbach's alpha per segment over per-customer quarterly order
    // counts (missing quarters = 0) — two hash aggregates, no pivot
    Entry("q367_cronbach_alpha", (s, d) =>
      operators.Metrics.cronbachAlpha(
        t(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1995)
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("o_custkey"),
            concat(lit("q"), quarter(col("o_orderdate"))).as("item"))
          .agg(count(lit(1)).cast("long").as("x")),
        "c_mktsegment", "o_custkey", "item", "x"),
      // zero-filled cells never materialize: item/person moments sum
      // only present cells over the shared person universe N; p6
      // variances, the Spark operand order in the closing alpha
      Some(
        s"""WITH base AS (
           |  SELECT c_mktsegment AS g, o_custkey AS p,
           |    'q' || CAST(quarter(o_orderdate) AS VARCHAR) AS i,
           |    CAST(count(*) AS DECIMAL(18,2)) AS x
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  WHERE year(o_orderdate) = 1995
           |  GROUP BY 1, 2, 3),
           |pp AS (SELECT g, p, CAST(sum(x) AS DECIMAL(38,2)) AS t
           |  FROM base GROUP BY 1, 2),
           |gt AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(t) AS DECIMAL(38,2)) AS st,
           |    CAST(sum(CAST(CAST(t AS DECIMAL(19,2)) *
           |      CAST(t AS DECIMAL(19,2)) AS DECIMAL(38,4)))
           |      AS DECIMAL(38,4)) AS qt
           |  FROM pp GROUP BY 1),
           |pi AS (
           |  SELECT g, i, CAST(sum(x) AS DECIMAL(38,2)) AS si,
           |    CAST(sum(CAST(CAST(x AS DECIMAL(19,2)) *
           |      CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,4)))
           |      AS DECIMAL(38,4)) AS qi
           |  FROM base GROUP BY 1, 2),
           |iv AS (
           |  SELECT pi.g, gt.n, gt.st, gt.qt,
           |    ${pround("(CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * " +
             "CAST(si AS DOUBLE) / CAST(n AS DOUBLE)) / " +
             "(CAST(n AS DOUBLE) - 1.0)", 6)} AS vi6
           |  FROM pi JOIN gt USING (g)),
           |ag AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS k_items,
           |    CAST(max(n) AS BIGINT) AS n_persons,
           |    max(st) AS st, max(qt) AS qt,
           |    CAST(sum(CAST(vi6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sv
           |  FROM iv GROUP BY 1),
           |fin AS (
           |  SELECT g, n_persons, k_items, sv,
           |    ${pround("(CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * " +
             "CAST(st AS DOUBLE) / CAST(n_persons AS DOUBLE)) / " +
             "(CAST(n_persons AS DOUBLE) - 1.0)", 6)} AS vt6
           |  FROM ag WHERE k_items >= 2 AND n_persons >= 2)
           |SELECT g AS c_mktsegment, n_persons, k_items,
           |  CASE WHEN vt6 > 0.0 THEN
           |    ${pround("CAST(k_items AS DOUBLE) / " +
             "(CAST(k_items AS DOUBLE) - 1.0) * " +
             "(1.0 - CAST(sv AS DOUBLE) / vt6)", 6)}
           |    END AS alpha
           |FROM fin""".stripMargin)),

    // HOW heavy is the price tail above each threshold? mean-excess
    // plot plus the GPD method-of-moments (ξ, σ) per return flag —
    // the measured companion to q335's assumed-Pareto Hill fit
    Entry("q368_mean_excess", (s, d) =>
      operators.Pareto.meanExcess(
        t(s, d, "lineitem").select(col("l_returnflag"),
          col("l_extendedprice")),
        "l_returnflag", "l_extendedprice",
        Seq(20000.0, 40000.0, 60000.0, 80000.0)),
      Some(q368Oracle)),

    // rich vocabulary, or one token worn out? Simpson λ, effective
    // vocabulary 1/λ, and Berger–Parker dominance per source — the
    // evenness companion to q324's richness card
    Entry("q369_simpson_diversity", (s, d) =>
      operators.TfIdf.simpsonDiversity(t(s, d, "documents"),
        "text", "source"),
      // exact HUGEINT pair counts; both ratios divide once, p6;
      // Berger-Parker dominance by integer basis points
      Some(
        s"""WITH c AS (
           |  SELECT g, w, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT source AS g, unnest($toksSql) AS w
           |        FROM documents WHERE source IS NOT NULL)
           |  GROUP BY 1, 2),
           |ag AS (
           |  SELECT g, CAST(sum(c) AS HUGEINT) AS n,
           |    CAST(count(*) AS BIGINT) AS n_distinct,
           |    CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS num,
           |    CAST(max(c) AS HUGEINT) AS top
           |  FROM c GROUP BY 1)
           |SELECT g AS source, CAST(n AS BIGINT) AS n_tokens, n_distinct,
           |  CASE WHEN n > 1 THEN
           |    ${pround("CAST(num AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)",
             6)} END AS simpson,
           |  CASE WHEN num > 0 THEN
           |    ${pround("CAST(n * (n - 1) AS DOUBLE) / CAST(num AS DOUBLE)",
             6)} END AS inv_simpson,
           |  CAST(top * 10000 // n AS BIGINT) AS top_share_bp
           |FROM ag""".stripMargin))
  )
}
