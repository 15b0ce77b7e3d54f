package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — association & concordance tier (round-12). */
object AssociationQueries {

  lazy val entries: Seq[Entry] = Seq(
    // does priority PREDICT status, or the reverse? Theil's
    // uncertainty coefficient per segment — the asymmetric
    // information-flow companion to q343's Cramér's V
    Entry("q374_theil_u", (s, d) =>
      operators.Profile.theilU(
        t(s, d, "orders")
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderpriority"),
            col("o_orderstatus")),
        "c_mktsegment", "o_orderpriority", "o_orderstatus"),
      // three entropies from one cell table; p6 per-level terms in
      // order-free DECIMAL sums, ln the one transcendental per term
      Some({
        def ent(src: String, out: String) =
          s"""$out AS (
             |  SELECT c.g, ${pround("CAST(CAST(sum(CAST(" +
               pround("CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE) * " +
                 "ln(CAST(n.n AS DOUBLE) / CAST(c AS DOUBLE))", 6) +
               " AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)", 6)} AS h
             |  FROM $src c JOIN n ON n.g = c.g GROUP BY 1)""".stripMargin
        s"""WITH cells AS (
           |  SELECT c_mktsegment AS g, o_orderpriority AS x,
           |    o_orderstatus AS y, CAST(count(*) AS BIGINT) AS c
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  GROUP BY 1, 2, 3),
           |n AS (SELECT g, CAST(sum(c) AS BIGINT) AS n
           |  FROM cells GROUP BY 1),
           |mx AS (SELECT g, x, CAST(sum(c) AS BIGINT) AS c
           |  FROM cells GROUP BY 1, 2),
           |my AS (SELECT g, y, CAST(sum(c) AS BIGINT) AS c
           |  FROM cells GROUP BY 1, 2),
           |${ent("mx", "hx")},
           |${ent("my", "hy")},
           |${ent("cells", "hxy")}
           |SELECT n.g AS c_mktsegment, n.n, hx.h AS h_x, hy.h AS h_y,
           |  CASE WHEN hx.h > 0.0 THEN
           |    ${pround("(hx.h + hy.h - hxy.h) / hx.h", 6)}
           |    END AS u_x_given_y,
           |  CASE WHEN hy.h > 0.0 THEN
           |    ${pround("(hx.h + hy.h - hxy.h) / hy.h", 6)}
           |    END AS u_y_given_x,
           |  CASE WHEN hx.h + hy.h > 0.0 THEN
           |    ${pround("2.0 * (hx.h + hy.h - hxy.h) / (hx.h + hy.h)", 6)}
           |    END AS u_sym
           |FROM n JOIN hx ON hx.g = n.g JOIN hy ON hy.g = n.g
           |JOIN hxy ON hxy.g = n.g""".stripMargin
      })),

    // do discount and tax tiers agree BEYOND chance, counting how far
    // apart they land? linear-weighted Cohen's kappa per return flag
    // over the six 2%-wide tiers — one exact DECIMAL division
    Entry("q375_weighted_kappa", (s, d) =>
      operators.Metrics.weightedKappa(
        t(s, d, "lineitem").select(col("l_returnflag"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT) DIV 2")
            .as("a"),
          expr("CAST(floor(l_tax * 100 + 0.5) AS BIGINT) DIV 2")
            .as("b")),
        "l_returnflag", "a", "b", maxLevel = 5),
      // weight denominators cancel: kappa_w = 1 − N·Σ|i−j|n_ij /
      // Σ|i−j|r_i·c_j, both operands exact HUGEINT
      Some(
        s"""WITH b AS (
           |  SELECT l_returnflag AS g,
           |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) // 2 AS a,
           |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) // 2 AS b2
           |  FROM lineitem),
           |cells AS (SELECT g, a, b2, CAST(count(*) AS BIGINT) AS c
           |  FROM b GROUP BY 1, 2, 3),
           |obs AS (
           |  SELECT g, CAST(sum(c) AS HUGEINT) AS n,
           |    CAST(sum(CASE WHEN a = b2 THEN c ELSE 0 END) AS BIGINT)
           |      AS n_agree,
           |    CAST(sum(CAST(abs(a - b2) AS HUGEINT) * c) AS HUGEINT) AS od
           |  FROM cells GROUP BY 1),
           |ra AS (SELECT g, a, CAST(sum(c) AS HUGEINT) AS ri
           |  FROM cells GROUP BY 1, 2),
           |cb AS (SELECT g, b2, CAST(sum(c) AS HUGEINT) AS cj
           |  FROM cells GROUP BY 1, 2),
           |ex AS (
           |  SELECT ra.g,
           |    CAST(sum(CAST(abs(ra.a - cb.b2) AS HUGEINT) * ra.ri * cb.cj)
           |      AS HUGEINT) AS ed
           |  FROM ra JOIN cb ON cb.g = ra.g GROUP BY 1)
           |SELECT obs.g AS l_returnflag, CAST(obs.n AS BIGINT) AS n,
           |  n_agree,
           |  CASE WHEN ed > 0 THEN
           |    ${pround("1.0 - CAST(obs.n AS DOUBLE) * " +
             "CAST(od AS DOUBLE) / CAST(ed AS DOUBLE)", 6)}
           |    END AS kappa_w
           |FROM obs JOIN ex ON ex.g = obs.g""".stripMargin)),

    // do all event types share one hourly rhythm? Kendall's W per
    // weekday: each type ranks the 24 hours by volume, doubled
    // midranks, the tie-corrected Legendre closing
    Entry("q376_kendalls_w", (s, d) =>
      operators.Metrics.kendallsW(
        t(s, d, "events").select(
          dayofweek(col("ts")).cast("long").as("dow"),
          col("event_type"), hour(col("ts")).cast("long").as("hr"),
          lit(1L).as("one")),
        "dow", "event_type", "hr", "one"),
      // common items only (every rater scored them); doubled midranks
      // per rater; the tie-corrected Legendre form in exact HUGEINT
      Some(
        s"""WITH base AS (
           |  SELECT CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) + 1 AS g,
           |    event_type AS r, CAST(hour(ts) AS BIGINT) AS i,
           |    CAST(count(*) AS DECIMAL(38,2)) AS sc
           |  FROM events GROUP BY 1, 2, 3),
           |m AS (SELECT g, CAST(count(DISTINCT r) AS BIGINT) AS m
           |  FROM base GROUP BY 1),
           |common AS (
           |  SELECT c.g, c.i FROM
           |    (SELECT g, i, CAST(count(*) AS BIGINT) AS nr
           |     FROM base GROUP BY 1, 2) c
           |  JOIN m ON m.g = c.g WHERE c.nr = m.m),
           |kept AS (SELECT base.* FROM base JOIN common
           |  ON common.g = base.g AND common.i = base.i),
           |rk AS (
           |  SELECT g, r, i, sc,
           |    CAST(2 * rank() OVER (PARTITION BY g, r ORDER BY sc)
           |      + count(*) OVER (PARTITION BY g, r, sc) - 1 AS BIGINT)
           |      AS mid2
           |  FROM kept),
           |r2 AS (
           |  SELECT g, CAST(count(*) AS HUGEINT) AS n_items,
           |    CAST(sum(CAST(r2i AS HUGEINT) * r2i) AS HUGEINT) AS sr2
           |  FROM (SELECT g, i, CAST(sum(mid2) AS BIGINT) AS r2i
           |        FROM rk GROUP BY 1, 2)
           |  GROUP BY 1),
           |tt AS (
           |  SELECT g, CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
           |    AS tt
           |  FROM (SELECT g, r, sc, CAST(count(*) AS BIGINT) AS t
           |        FROM rk GROUP BY 1, 2, 3)
           |  GROUP BY 1),
           |fin AS (
           |  SELECT r2.g, m.m, r2.n_items,
           |    3 * r2.sr2 - 3 * CAST(m.m AS HUGEINT) * m.m * r2.n_items *
           |      (r2.n_items + 1) * (r2.n_items + 1) AS num,
           |    CAST(m.m AS HUGEINT) * m.m * r2.n_items *
           |      (r2.n_items * r2.n_items - 1) - m.m * tt.tt AS den
           |  FROM r2 JOIN m ON m.g = r2.g JOIN tt ON tt.g = r2.g)
           |SELECT g AS dow, CAST(m AS BIGINT) AS m_raters,
           |  CAST(n_items AS BIGINT) AS n_items,
           |  CASE WHEN den > 0 THEN
           |    ${pround("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)", 6)}
           |    END AS w
           |FROM fin""".stripMargin))
  )
}
