package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — multiple testing & collocation tier (round-12). */
object MultipleTestingQueries {

  lazy val entries: Seq[Entry] = Seq(
    // 42 segment tests, how many SURVIVE correction? BH / Holm /
    // q-values over per-(type, weekday) randomization p's — exact
    // micro-unit cross-multiplied decisions, never the rounded double
    Entry("q383_multiple_testing", (s, d) => {
      val tests = operators.Bootstrap.randomizationTest(
        t(s, d, "events").select(
          concat_ws("|", col("event_type"),
            dayofweek(col("ts")).cast("long")).as("g"),
          col("event_id").cast("string").as("k"),
          (col("user_id") % 2).cast("long").as("arm"), col("value")),
        "g", "k", "arm", "value")
      operators.Hypothesis.multipleTesting(
        tests.select(split(col("g"), "\\|").getItem(0).as("family"),
          split(col("g"), "\\|").getItem(1).as("dow"), col("p_value")),
        "family", "dow", "p_value")
    },
      // the q357 randomization machinery on (type|dow) families, then
      // BH/Holm/q-values by exact HUGEINT micro-unit comparisons
      Some({
        s"""WITH base AS (
           |  SELECT event_type || '|' ||
           |      CAST(CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) + 1
           |        AS VARCHAR) AS g,
           |    CAST(event_id AS VARCHAR) AS k,
           |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS arm,
           |    CAST(value AS DECIMAL(18,2)) AS x
           |  FROM events),
           |obs AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(arm) AS BIGINT) AS n1,
           |    CAST(sum(x) AS DECIMAL(38,2)) AS sx,
           |    CAST(sum(arm * x) AS DECIMAL(38,2)) AS sx1
           |  FROM base GROUP BY 1),
           |hh AS MATERIALIZED (
           |  SELECT g, x,
           |    CAST(('0x' || substr(md5('rt' || '|' || '0' || '|' || k),
           |      1, 12)) AS BIGINT) AS h
           |  FROM base),
           |lab AS (
           |  SELECT g, b, x,
           |    (h >> CAST(b AS INTEGER)) & 1 AS lb
           |  FROM hh CROSS JOIN (SELECT unnest(range(32)) AS b)),
           |rep AS (
           |  SELECT g, b, CAST(sum(lb) AS BIGINT) AS nb,
           |    CAST(sum(lb * x) AS DECIMAL(38,2)) AS sb
           |  FROM lab GROUP BY 1, 2),
           |dd AS (
           |  SELECT r.g, o.n, o.n1,
           |    ${pround("CAST(o.sx1 AS DOUBLE) / CAST(o.n1 AS DOUBLE) - " +
             "CAST(o.sx - o.sx1 AS DOUBLE) / CAST(o.n - o.n1 AS DOUBLE)", 6)}
           |      AS d_obs,
           |    ${pround("CAST(r.sb AS DOUBLE) / CAST(r.nb AS DOUBLE) - " +
             "CAST(o.sx - r.sb AS DOUBLE) / CAST(o.n - r.nb AS DOUBLE)", 6)}
           |      AS d_b
           |  FROM rep r JOIN obs o ON o.g = r.g
           |  WHERE r.nb > 0 AND r.nb < o.n),
           |pv AS (
           |  SELECT g,
           |    ${pround("(CAST(sum(CASE WHEN abs(d_b) >= abs(d_obs) " +
             "THEN 1 ELSE 0 END) AS DOUBLE) + 1.0) / " +
             "(CAST(count(*) AS DOUBLE) + 1.0)", 6)} AS p_value
           |  FROM dd GROUP BY 1),
           |split_g AS (
           |  SELECT string_split(g, '|')[1] AS family,
           |    string_split(g, '|')[2] AS dow, p_value
           |  FROM pv),
           |rk AS (
           |  SELECT family, dow, p_value,
           |    CAST(p_value * 1000000 AS HUGEINT) AS pu,
           |    CAST(row_number() OVER (PARTITION BY family
           |      ORDER BY CAST(p_value * 1000000 AS HUGEINT), dow)
           |      AS BIGINT) AS r,
           |    CAST(count(*) OVER (PARTITION BY family) AS BIGINT) AS m
           |  FROM split_g),
           |st AS (
           |  SELECT family, dow, p_value, pu, r, m,
           |    CASE WHEN pu * m <= r * 50000 THEN r ELSE 0 END AS bhok,
           |    CASE WHEN pu * (m - r + 1) <= 50000 THEN 1 ELSE 0 END
           |      AS hok,
           |    least((pu * m) // r, 1000000) AS qu
           |  FROM rk),
           |fin AS (
           |  SELECT family, dow, p_value, r, m,
           |    max(bhok) OVER (PARTITION BY family) AS cut,
           |    min(hok) OVER (PARTITION BY family ORDER BY pu, dow
           |      ROWS UNBOUNDED PRECEDING) AS holmall,
           |    min(qu) OVER (PARTITION BY family ORDER BY pu, dow
           |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS qmin
           |  FROM st)
           |SELECT family, dow, p_value, r AS rank, m,
           |  CAST(CASE WHEN r <= cut THEN 1 ELSE 0 END AS BIGINT)
           |    AS bh_reject,
           |  CAST(CASE WHEN holmall = 1 THEN 1 ELSE 0 END AS BIGINT)
           |    AS holm_reject,
           |  CAST(qmin AS DOUBLE) / 1000000.0 AS q_value
           |FROM fin""".stripMargin
      })),

    // which word pairs are GLUED together? adjacency-collocation
    // t-score + Dice over corpus bigrams — the fixed-distance
    // companion to q145's document-cooccurrence PMI
    Entry("q384_collocations", (s, d) =>
      operators.TfIdf.collocations(t(s, d, "documents"), "text",
        k = 30, minCount = 5),
      // adjacency bigrams (the 2-gram shingle form); exact counts,
      // one t-score division + sqrt, Dice an exact ratio p6'd
      Some(
        s"""WITH d AS (SELECT $toksSql AS t FROM documents),
           |uni AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS f
           |  FROM (SELECT unnest(t) AS w FROM d) GROUP BY 1),
           |n AS (SELECT CAST(sum(len(t)) AS BIGINT) AS n FROM d),
           |bi AS (
           |  SELECT b AS bigram, CAST(count(*) AS BIGINT) AS f_xy
           |  FROM (SELECT unnest(list_transform(range(1, len(t)),
           |    i -> t[i] || ' ' || t[i+1])) AS b FROM d)
           |  GROUP BY 1 HAVING count(*) >= 5),
           |j AS (
           |  SELECT bigram, f_xy, u1.f AS f_x, u2.f AS f_y
           |  FROM bi
           |  JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
           |  JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2])
           |SELECT bigram, f_xy, f_x, f_y,
           |  ${pround("(CAST(f_xy AS DOUBLE) - CAST(f_x AS DOUBLE) * " +
             "CAST(f_y AS DOUBLE) / CAST(n.n AS DOUBLE)) / " +
             "sqrt(CAST(f_xy AS DOUBLE))", 6)} AS t_score,
           |  ${pround("2.0 * CAST(f_xy AS DOUBLE) / " +
             "CAST(f_x + f_y AS DOUBLE)", 6)} AS dice
           |FROM j CROSS JOIN n
           |ORDER BY t_score DESC, bigram LIMIT 30""".stripMargin)),

    // which words mark each source, with rare words SHRUNK instead of
    // exploding? Monroe weighted log-odds with the corpus-frequency
    // Dirichlet prior — the regularized keyness beside q350's G²
    Entry("q385_log_odds", (s, d) =>
      operators.TfIdf.logOddsDirichlet(t(s, d, "documents"),
        "text", "source", k = 10),
      // the corpus-frequency prior divides once; ln per term, z p6;
      // top-10 per source by (z desc, word)
      Some(
        s"""WITH cells AS (
           |  SELECT g, w, CAST(count(*) AS BIGINT) AS y
           |  FROM (SELECT source AS g, unnest($toksSql) AS w
           |        FROM documents WHERE source IS NOT NULL)
           |  GROUP BY 1, 2),
           |pw AS (SELECT w, CAST(sum(y) AS BIGINT) AS yw
           |  FROM cells GROUP BY 1),
           |pg AS (SELECT g, CAST(sum(y) AS BIGINT) AS na
           |  FROM cells GROUP BY 1),
           |n AS (SELECT CAST(sum(y) AS BIGINT) AS n FROM cells),
           |sc AS (
           |  SELECT c.g, c.w, c.y, pw.yw - c.y AS yb, pg.na,
           |    n.n - pg.na AS nb,
           |    500.0 * (CAST(pw.yw AS DOUBLE) / CAST(n.n AS DOUBLE)) AS aw
           |  FROM cells c JOIN pw USING (w) JOIN pg ON pg.g = c.g
           |  CROSS JOIN n),
           |z AS (
           |  SELECT g, w, y, yb,
           |    ${pround("(ln((CAST(y AS DOUBLE) + aw) / " +
             "(CAST(na AS DOUBLE) + 500.0 - CAST(y AS DOUBLE) - aw)) - " +
             "ln((CAST(yb AS DOUBLE) + aw) / " +
             "(CAST(nb AS DOUBLE) + 500.0 - CAST(yb AS DOUBLE) - aw))) / " +
             "sqrt(1.0 / (CAST(y AS DOUBLE) + aw) + " +
             "1.0 / (CAST(yb AS DOUBLE) + aw))", 6)} AS z_logodds
           |  FROM sc)
           |SELECT g AS source, w AS word, y AS y_source, yb AS y_rest,
           |  z_logodds
           |FROM (SELECT *, row_number() OVER (PARTITION BY g
           |    ORDER BY z_logodds DESC, w) AS rr FROM z)
           |WHERE rr <= 10""".stripMargin))
  )
}
