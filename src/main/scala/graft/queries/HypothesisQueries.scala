package graft
package queries

import graft.operators.Dedup
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — hypothesis testing: rank, survival, resampling and graph tests. */
object HypothesisQueries {

  // q322_burstiness's oracle, shared verbatim by q331_streaming_burstiness
  // epoch-second gaps along one per-user order; B from one sqrt
  // over the exact nQ−S²
  private[queries] lazy val q322Oracle: String =
        s"""WITH e AS (
           |  SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS tus,
           |    event_id
           |  FROM events),
           |gp AS (
           |  SELECT k,
           |    lead(tus) OVER (PARTITION BY k ORDER BY tus, event_id)
           |      - tus AS gap
           |  FROM e),
           |agg AS (
           |  SELECT k, CAST(count(*) AS BIGINT) AS n_events,
           |    CAST(sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_gaps,
           |    CAST(sum(COALESCE(gap, 0)) AS HUGEINT) AS s,
           |    CAST(sum(CAST(COALESCE(gap, 0) AS HUGEINT)
           |      * COALESCE(gap, 0)) AS HUGEINT) AS q
           |  FROM gp GROUP BY 1)
           |SELECT k AS user_id, n_events, n_gaps,
           |  CASE WHEN n_gaps = 0 THEN NULL
           |    ELSE CAST(s // n_gaps AS BIGINT) END AS mean_gap_s,
           |  CASE WHEN n_gaps = 0 OR s = 0 THEN NULL
           |    ELSE ${pround("(sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) - CAST(s AS DOUBLE)) / (sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) + CAST(s AS DOUBLE))", 6)} END AS b
           |FROM agg""".stripMargin

  // q326_risk_card's oracle, shared verbatim by q342_streaming_risk
  // every ratio an exact floored micro-unit quotient over HUGEINT
  // cross-products; zero denominators report NULL per ratio
  private[queries] lazy val q326Oracle: String =
        """WITH g AS (
          |  SELECT l_linestatus,
          |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS e,
          |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o
          |  FROM lineitem),
          |agg AS (
          |  SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n11,
          |    CAST(sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n10,
          |    CAST(sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n01,
          |    CAST(sum(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n00
          |  FROM g GROUP BY 1)
          |SELECT l_linestatus, n, n11, n10, n01, n00,
          |  CASE WHEN n10 = 0 OR n01 = 0 THEN NULL
          |    ELSE CAST(1000000 * CAST(n11 AS HUGEINT) * n00
          |      // (CAST(n10 AS HUGEINT) * n01) AS BIGINT) END AS or_ppm,
          |  CASE WHEN n11 + n10 = 0 OR n01 = 0 THEN NULL
          |    ELSE CAST(1000000 * CAST(n11 AS HUGEINT) * (n01 + n00)
          |      // (CAST(n11 + n10 AS HUGEINT) * n01) AS BIGINT) END AS rr_ppm,
          |  CASE WHEN n11 + n10 = 0 OR n01 + n00 = 0 THEN NULL
          |    ELSE CAST(1000000 * CAST(n11 AS HUGEINT) // (n11 + n10)
          |        AS BIGINT)
          |      - CAST(1000000 * CAST(n01 AS HUGEINT) // (n01 + n00)
          |        AS BIGINT) END AS risk_diff_ppm
          |FROM agg""".stripMargin

  // q344_ess's oracle, shared verbatim by q347_streaming_ess
  // q42 moment discipline on the weights; ESS one fixed-order
  // double, efficiency a half-up ppm of exact operands
  private[queries] lazy val q344Oracle: String = {
        val essX = "(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)" +
          " / CAST(q AS DOUBLE))"
        s"""WITH g AS (
           |  SELECT source, n_chars FROM documents
           |  WHERE source IS NOT NULL AND n_chars > 0),
           |agg AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(n_chars AS DECIMAL(28,6))) AS s,
           |    sum(CAST(n_chars * n_chars AS DECIMAL(38,6))) AS q
           |  FROM g GROUP BY 1)
           |SELECT source, n, ${pround(essX, 6)} AS ess,
           |  CAST(floor($essX / CAST(n AS DOUBLE) * 1000000 + 0.5)
           |    AS BIGINT) AS efficiency_ppm
           |FROM agg""".stripMargin
      }

  lazy val entries: Seq[Entry] = Seq(
    // distribution-free A/B on a continuous metric: Mann–Whitney
    // rank-sum of event value per event type, arms = user-id parity (a
    // null experiment, so significance should be rare); midrank ties
    // from the per-value count table, significance decided by exact
    // cross-multiplied DECIMAL(38,0) — never the rounded z
    Entry("q298_mann_whitney", (s, d) =>
      operators.Hypothesis.mannWhitneyU(
        t(s, d, "events").select(col("event_type"),
          (col("user_id") % 2).cast("long").as("arm"), col("value")),
        "event_type", "arm", "value"),
      // midrank ties via the per-value count table; z text mirrors the
      // operator's fixed double order; significance via HUGEINT
      // cross-multiplication (the engine uses DECIMAL(38,0) — same
      // exact integers)
      Some(
        s"""WITH cells AS (
           |  SELECT event_type AS g, value AS v,
           |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS na,
           |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nb
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |r AS (
           |  SELECT g, na, nb, na + nb AS f,
           |    COALESCE(CAST(sum(na + nb) OVER (PARTITION BY g ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS cum
           |  FROM cells),
           |a AS (
           |  SELECT g, CAST(sum(na) AS BIGINT) AS n_a,
           |    CAST(sum(nb) AS BIGINT) AS n_b,
           |    CAST(sum(CAST(nb AS HUGEINT) * (2 * cum + f + 1))
           |      AS HUGEINT) AS r2b,
           |    CAST(sum(CAST(f AS HUGEINT) * f * f - f) AS HUGEINT) AS t
           |  FROM r GROUP BY 1),
           |b AS (
           |  SELECT g, n_a, n_b,
           |    r2b - CAST(n_b AS HUGEINT) * (n_b + 1)
           |      - CAST(n_a AS HUGEINT) * n_b AS a2,
           |    CAST(n_a + n_b AS HUGEINT) * (n_a + n_b - 1)
           |      * (n_a + n_b + 1) - t AS v
           |  FROM a WHERE n_a > 0 AND n_b > 0)
           |SELECT g AS event_type, n_a, n_b,
           |  CAST(a2 + CAST(n_a AS HUGEINT) * n_b AS BIGINT) AS u_x2,
           |  ${pround("CASE WHEN v = 0 THEN 0.0 ELSE CAST(a2 AS DOUBLE) / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(v AS DOUBLE) / (12.0 * CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE)))) END", 6)} AS z,
           |  CASE WHEN v = 0 THEN false
           |    ELSE 1875 * a2 * a2 * (n_a + n_b) * (n_a + n_b - 1)
           |      > 2401 * CAST(n_a AS HUGEINT) * n_b * v END AS significant
           |FROM b""".stripMargin)),

    // monotone association of two ordinal columns per return flag:
    // Kendall tau-b from the (quantity, discount-pct) contingency —
    // C−D exact via the bounded cells self-join, ties kept doubled so
    // no division ever happens before the final double
    Entry("q299_kendall_tau", (s, d) =>
      operators.Hypothesis.kendallTau(
        t(s, d, "lineitem").select(col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"),
          (col("l_discount").cast("decimal(4,2)") * 100).cast("long")
            .as("disc_pct")),
        "l_returnflag", "qty", "disc_pct"),
      // the cells self-join computes C−D exactly; tie terms stay
      // doubled (D2x = n(n−1) − Σ t(t−1)) so no division precedes the
      // one double expression
      Some(
        s"""WITH cells AS (
           |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
           |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS y,
           |    CAST(count(*) AS BIGINT) AS f
           |  FROM lineitem GROUP BY 1, 2, 3),
           |meta AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS m,
           |    CAST(sum(f) AS BIGINT) AS n
           |  FROM cells GROUP BY 1),
           |sx AS (
           |  SELECT g, CAST(sum(CAST(tx AS HUGEINT) * (tx - 1)) AS HUGEINT)
           |    AS sxv
           |  FROM (SELECT g, x, CAST(sum(f) AS BIGINT) AS tx
           |        FROM cells GROUP BY 1, 2) GROUP BY 1),
           |sy AS (
           |  SELECT g, CAST(sum(CAST(ty AS HUGEINT) * (ty - 1)) AS HUGEINT)
           |    AS syv
           |  FROM (SELECT g, y, CAST(sum(f) AS BIGINT) AS ty
           |        FROM cells GROUP BY 1, 2) GROUP BY 1),
           |s AS (
           |  SELECT a.g,
           |    CAST(sum((CASE WHEN a.y < b.y THEN 1 ELSE -1 END)
           |      * CAST(a.f AS HUGEINT) * b.f) AS HUGEINT) AS sv
           |  FROM cells a JOIN cells b
           |    ON a.g = b.g AND a.x < b.x AND a.y <> b.y
           |  GROUP BY 1),
           |j AS (
           |  SELECT meta.g, n, m, COALESCE(sv, 0) AS sv,
           |    CAST(n AS HUGEINT) * (n - 1) - sxv AS d2x,
           |    CAST(n AS HUGEINT) * (n - 1) - syv AS d2y
           |  FROM meta JOIN sx ON meta.g = sx.g JOIN sy ON meta.g = sy.g
           |  LEFT JOIN s ON meta.g = s.g)
           |SELECT g AS l_returnflag, n, m AS n_cells,
           |  CAST(sv AS BIGINT) AS s,
           |  ${pround("CASE WHEN d2x = 0 OR d2y = 0 THEN 0.0 ELSE 2.0 * CAST(sv AS DOUBLE) / sqrt(CAST(d2x AS DOUBLE) * CAST(d2y AS DOUBLE)) END", 6)} AS tau_b
           |FROM j""".stripMargin)),

    // effect size behind a rank test: does a deep discount move the
    // quantity DISTRIBUTION, and by how much? Cliff's delta per
    // return flag (arms = discount >= 5%), delta from the exact
    // midrank A = 2U−n_a·n_b, magnitude via integer
    // cross-multiplication against the Romano thresholds
    Entry("q300_cliffs_delta", (s, d) =>
      operators.Hypothesis.cliffsDelta(
        t(s, d, "lineitem").select(col("l_returnflag"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("arm"),
          col("l_quantity").cast("long").as("qty")),
        "l_returnflag", "arm", "qty"),
      // the q298 midrank shape minus the variance: A = 2U−n_a·n_b
      // exact, delta one double, magnitude via HUGEINT
      // cross-multiplication against the ×1000 Romano thresholds
      Some(
        s"""WITH cells AS (
           |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
           |    CAST(sum(CASE WHEN l_discount >= 0.05 THEN 0 ELSE 1 END)
           |      AS BIGINT) AS na,
           |    CAST(sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nb
           |  FROM lineitem GROUP BY 1, 2),
           |r AS (
           |  SELECT g, na, nb, na + nb AS f,
           |    COALESCE(CAST(sum(na + nb) OVER (PARTITION BY g ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS cum
           |  FROM cells),
           |a AS (
           |  SELECT g, CAST(sum(na) AS BIGINT) AS n_a,
           |    CAST(sum(nb) AS BIGINT) AS n_b,
           |    CAST(sum(CAST(nb AS HUGEINT) * (2 * cum + f + 1))
           |      AS HUGEINT) AS r2b
           |  FROM r GROUP BY 1),
           |b AS (
           |  SELECT g, n_a, n_b,
           |    r2b - CAST(n_b AS HUGEINT) * (n_b + 1)
           |      - CAST(n_a AS HUGEINT) * n_b AS a2
           |  FROM a WHERE n_a > 0 AND n_b > 0)
           |SELECT g AS l_returnflag, n_a, n_b,
           |  ${pround("CAST(a2 AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))", 6)} AS delta,
           |  CASE
           |    WHEN 1000 * abs(a2) < 147 * CAST(n_a AS HUGEINT) * n_b
           |      THEN 'negligible'
           |    WHEN 1000 * abs(a2) < 330 * CAST(n_a AS HUGEINT) * n_b
           |      THEN 'small'
           |    WHEN 1000 * abs(a2) < 474 * CAST(n_a AS HUGEINT) * n_b
           |      THEN 'medium'
           |    ELSE 'large' END AS magnitude
           |FROM b""".stripMargin)),

    // k-arm rank ANOVA: does event value differ across three user-id
    // cohorts per event type? (a null experiment — significance
    // should be rare.) Midranks from the per-value table; the exact
    // micro-unit quotient split keeps Σ R²/n integral, so the χ²
    // comparison runs in DECIMAL(38,0) with a raise-on-borderline
    // band instead of a rounded double
    Entry("q301_kruskal_wallis", (s, d) =>
      operators.Hypothesis.kruskalWallis(
        t(s, d, "events").select(col("event_type"),
          (col("user_id") % 3).cast("long").as("arm"), col("value")),
        "event_type", "arm", "value"),
      // the exact micro-unit quotient split mirrored in HUGEINT //:
      // S6u is bit-identical to the engine's DECIMAL(38,0), the h
      // text shares the one fixed double order, and the three-way
      // significance CASE (low bound / high bound / error on the
      // borderline band) is the same decision procedure
      Some(
        s"""WITH cells AS (
           |  SELECT event_type AS g, user_id % 3 AS arm, value AS v,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
           |perv AS (
           |  SELECT g, v, CAST(sum(c) AS BIGINT) AS f
           |  FROM cells GROUP BY 1, 2),
           |ranked AS (
           |  SELECT g, v, f,
           |    COALESCE(CAST(sum(f) OVER (PARTITION BY g ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS cum
           |  FROM perv),
           |ties AS (
           |  SELECT g, CAST(sum(CAST(f AS HUGEINT) * f * f - f)
           |    AS HUGEINT) AS t
           |  FROM ranked GROUP BY 1),
           |perarm AS (
           |  SELECT c.g, c.arm, CAST(sum(c.c) AS BIGINT) AS ng,
           |    CAST(sum(CAST(c.c AS HUGEINT) * (2 * r.cum + r.f + 1))
           |      AS HUGEINT) AS r2g
           |  FROM cells c JOIN ranked r ON c.g = r.g AND c.v = r.v
           |  GROUP BY 1, 2),
           |qsplit AS (
           |  SELECT g, arm, ng,
           |    (r2g * r2g) % ng AS rem,
           |    (r2g * r2g) // ng AS q
           |  FROM perarm),
           |s6 AS (
           |  SELECT g,
           |    CAST(sum(q * 1000000 + (rem * 1000000) // ng) AS HUGEINT)
           |      AS s6u,
           |    CAST(sum(ng) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS k_arms
           |  FROM qsplit GROUP BY 1),
           |j AS (
           |  SELECT s6.g, s6u, n, k_arms, t,
           |    CAST(n AS HUGEINT) * (n - 1) * (n + 1) - t AS w,
           |    3 * CAST(n - 1 AS HUGEINT) * s6u
           |      - 3000000 * CAST(n AS HUGEINT) * (n - 1) * (n + 1)
           |        * (n + 1) AS lhslow,
           |    CASE k_arms WHEN 2 THEN 3841459 WHEN 3 THEN 5991465
           |      WHEN 4 THEN 7814728 WHEN 5 THEN 9487729
           |      WHEN 6 THEN 11070498 WHEN 7 THEN 12591587
           |      WHEN 8 THEN 14067140 WHEN 9 THEN 15507313
           |      ELSE error('more than 9 arms') END AS c6
           |  FROM s6 JOIN ties ON s6.g = ties.g WHERE k_arms >= 2)
           |SELECT g AS event_type, n, k_arms,
           |  ${pround("CASE WHEN w = 0 THEN 0.0 ELSE (3.0 * CAST(n - 1 AS DOUBLE) * (CAST(s6u AS DOUBLE) / 1000000.0) - 3.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * CAST(n + 1 AS DOUBLE) * CAST(n + 1 AS DOUBLE)) / CAST(w AS DOUBLE) END", 6)} AS h,
           |  CASE WHEN w = 0 THEN false
           |    WHEN lhslow > CAST(c6 AS HUGEINT) * w THEN true
           |    WHEN lhslow + 3 * CAST(n - 1 AS HUGEINT) * k_arms
           |      <= CAST(c6 AS HUGEINT) * w THEN false
           |    ELSE error('borderline beyond exact resolution')
           |  END AS significant
           |FROM j""".stripMargin)),

    // graph proximity to a known batch: personalized PageRank over
    // the q127 near-dup candidate graph, restart mass confined to
    // the doc_id % 7 seed set — same BIGINT fixpoint, unrolled-CTE
    // oracle, 4 rounds
    Entry("q305_personalized_pagerank", (s, d) => {
      val docs = t(s, d, "documents")
      operators.PageRank.personalizedRanks(
        Dedup.minhashCandidates(docs, "text", "doc_id"),
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
        iterations = 4)
    },
      // q127's candidate-graph CTEs with restart mass confined to the
      // doc_id % 7 seeds, 4 unrolled rounds
      Some({
        val rounds = (1 to 4).map { k =>
          s"""r$k AS (
             |  SELECT n.node, n.deg, n.is_seed,
             |    CAST((CASE WHEN n.is_seed THEN 150000 ELSE 0 END)
             |      + COALESCE(s.inflow, 0) AS BIGINT) AS rank
             |  FROM (SELECT node, deg, is_seed FROM r0) n
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
           |seeds AS (SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id % 7 = 0),
           |r0 AS (
           |  SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg,
           |    s.node IS NOT NULL AS is_seed,
           |    CAST(CASE WHEN s.node IS NOT NULL THEN 1000000 ELSE 0 END AS BIGINT) AS rank
           |  FROM edges e LEFT JOIN seeds s ON e.src = s.node
           |  GROUP BY e.src, s.node),
           |$rounds
           |SELECT node, deg, is_seed, rank FROM r4""".stripMargin
      })),

    // weekly-cycle screen: eta² of daily event counts across the 7
    // epoch-day-mod-7 groups per event type — the kruskalWallis
    // micro-unit split keeps the seasonal flag an exact DECIMAL
    // comparison against the 0.2 threshold
    Entry("q309_weekday_seasonality", (s, d) =>
      operators.Resample.weekdaySeasonality(
        t(s, d, "events"), "event_type", "ts"),
      // the kruskalWallis micro-unit split over 7 weekday groups;
      // HUGEINT // mirrors the engine's DECIMAL floor division
      Some(
        s"""WITH daily AS (
           |  SELECT event_type AS k,
           |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |perw AS (
           |  SELECT k, ((day % 7) + 7) % 7 AS w,
           |    CAST(count(*) AS BIGINT) AS mw,
           |    CAST(sum(c) AS HUGEINT) AS sw
           |  FROM daily GROUP BY 1, 2),
           |qs AS (
           |  SELECT k, mw, (sw * sw) % mw AS rem, (sw * sw) // mw AS qq
           |  FROM perw),
           |t6 AS (
           |  SELECT k,
           |    CAST(sum(qq * 1000000 + (rem * 1000000) // mw) AS HUGEINT)
           |      AS t6u,
           |    CAST(count(*) AS BIGINT) AS nw
           |  FROM qs GROUP BY 1),
           |tot AS (
           |  SELECT k, CAST(count(*) AS BIGINT) AS n_days,
           |    CAST(sum(c) AS HUGEINT) AS s,
           |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q2
           |  FROM daily GROUP BY 1),
           |j AS (
           |  SELECT tot.k, n_days, s, t6u, nw,
           |    CAST(n_days AS HUGEINT) * q2 - s * s AS d,
           |    CAST(n_days AS HUGEINT) * t6u - s * s * 1000000 AS numlow
           |  FROM tot JOIN t6 ON tot.k = t6.k)
           |SELECT k AS event_type, n_days,
           |  ${pround("CASE WHEN d = 0 THEN 0.0 ELSE (CAST(n_days AS DOUBLE) * (CAST(t6u AS DOUBLE) / 1000000.0) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(d AS DOUBLE) END", 6)} AS eta2,
           |  CASE WHEN d = 0 THEN false
           |    WHEN 5 * numlow >= d * 1000000 THEN true
           |    WHEN 5 * (numlow + CAST(nw AS HUGEINT) * n_days)
           |      < d * 1000000 THEN false
           |    ELSE error('borderline beyond exact resolution')
           |  END AS seasonal
           |FROM j""".stripMargin)),

    // is a seasonal model worth it? sum |x_d − x_{d−7}| vs
    // |x_d − x_{d−1}| over each type's daily counts — all-BIGINT
    // error sums, one closing double ratio
    Entry("q310_seasonal_naive", (s, d) =>
      operators.Resample.seasonalNaiveError(
        t(s, d, "events"), "event_type", "ts"),
      // day±lag self equi-joins — missing days form no pair; both
      // error sums BIGINT, one closing double
      Some(
        s"""WITH daily AS (
           |  SELECT event_type AS k,
           |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |l1 AS (
           |  SELECT a.k, CAST(count(*) AS BIGINT) AS n_pairs1,
           |    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae1
           |  FROM daily a JOIN daily b ON a.k = b.k AND a.day = b.day + 1
           |  GROUP BY 1),
           |l7 AS (
           |  SELECT a.k, CAST(count(*) AS BIGINT) AS n_pairs7,
           |    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae7
           |  FROM daily a JOIN daily b ON a.k = b.k AND a.day = b.day + 7
           |  GROUP BY 1),
           |n AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days
           |  FROM daily GROUP BY 1),
           |j AS (
           |  SELECT n.k, n_days,
           |    COALESCE(n_pairs1, 0) AS n_pairs1, COALESCE(sae1, 0) AS sae1,
           |    COALESCE(n_pairs7, 0) AS n_pairs7, COALESCE(sae7, 0) AS sae7
           |  FROM n LEFT JOIN l1 ON n.k = l1.k LEFT JOIN l7 ON n.k = l7.k)
           |SELECT k AS event_type, n_days, n_pairs1, sae1, n_pairs7, sae7,
           |  ${pround("CASE WHEN n_pairs1 = 0 OR n_pairs7 = 0 OR sae1 = 0 THEN NULL ELSE (CAST(sae7 AS DOUBLE) / CAST(n_pairs7 AS DOUBLE)) / (CAST(sae1 AS DOUBLE) / CAST(n_pairs1 AS DOUBLE)) END", 6)} AS ratio
           |FROM j""".stripMargin)),

    // paired filter-flip audit: deep-discount vs high-tax 'keep'
    // decisions on the same line items — McNemar over the discordant
    // cells only, significance by exact DECIMAL cross-multiplication
    Entry("q312_mcnemar", (s, d) =>
      operators.Hypothesis.mcnemar(
        t(s, d, "lineitem").select(col("l_returnflag"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("a"),
          when(col("l_tax") >= 0.05, 1L).otherwise(0L).as("b")),
        "l_returnflag", "a", "b"),
      // discordant cells only; 10^6-scaled HUGEINT cross-mult
      Some(
        s"""WITH g AS (
           |  SELECT l_returnflag,
           |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS a,
           |    CASE WHEN l_tax >= 0.05 THEN 1 ELSE 0 END AS b
           |  FROM lineitem),
           |agg AS (
           |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS b01,
           |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS b10
           |  FROM g GROUP BY 1)
           |SELECT l_returnflag, n, b01, b10,
           |  ${pround("CASE WHEN b01 + b10 = 0 THEN 0.0 ELSE CAST(b01 - b10 AS DOUBLE) * CAST(b01 - b10 AS DOUBLE) / CAST(b01 + b10 AS DOUBLE) END", 6)} AS chi2,
           |  CASE WHEN b01 + b10 = 0 THEN false
           |    ELSE 1000000 * CAST(b01 - b10 AS HUGEINT) * (b01 - b10)
           |      > 3841459 * CAST(b01 + b10 AS HUGEINT) END AS significant
           |FROM agg""".stripMargin)),

    // three paired screens per document (length, English, token
    // budget): Cochran's Q per source — binary data keeps every term
    // integral, so significance is fully exact against chi2_2
    Entry("q313_cochran_q", (s, d) =>
      operators.Hypothesis.cochranQ(
        t(s, d, "documents").select(col("source"),
          when(col("n_chars") > 200, 1L).otherwise(0L).as("t1"),
          when(col("lang") === "en", 1L).otherwise(0L).as("t2"),
          when(functions.TextFns.bpeishTokenCount(col("text")) > 40, 1L)
            .otherwise(0L).as("t3")),
        "source", Seq("t1", "t2", "t3")),
      // binary data keeps Q's terms integral: T_c sums and row-sum
      // squares in HUGEINT, chi2_2 critical value x10^6
      Some(
        s"""WITH g AS (
           |  SELECT source,
           |    CASE WHEN n_chars > 200 THEN 1 ELSE 0 END AS t1,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t2,
           |    CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) > 40 THEN 1 ELSE 0 END AS t3
           |  FROM documents WHERE source IS NOT NULL),
           |agg AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_items,
           |    CAST(sum(t1) AS HUGEINT) AS ta,
           |    CAST(sum(t2) AS HUGEINT) AS tb,
           |    CAST(sum(t3) AS HUGEINT) AS tc,
           |    CAST(sum(t1 + t2 + t3) AS HUGEINT) AS sr,
           |    CAST(sum(CAST(t1 + t2 + t3 AS HUGEINT) * (t1 + t2 + t3))
           |      AS HUGEINT) AS sr2
           |  FROM g GROUP BY 1),
           |f AS (
           |  SELECT source, n_items,
           |    3 * (ta * ta + tb * tb + tc * tc)
           |      - (ta + tb + tc) * (ta + tb + tc) AS num,
           |    3 * sr - sr2 AS den
           |  FROM agg)
           |SELECT source, n_items, CAST(3 AS BIGINT) AS k_treatments,
           |  ${pround("CASE WHEN den = 0 THEN 0.0 ELSE 2.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END", 6)} AS q,
           |  CASE WHEN den = 0 THEN false
           |    ELSE 1000000 * CAST(2 AS HUGEINT) * num
           |      > 5991465 * CAST(den AS HUGEINT) END AS significant
           |FROM f""".stripMargin)),

    // does the return rate TREND with the discount band? Cochran-
    // Armitage over cent buckets per line status — one-degree
    // monotone alternative, exact cross-multiplied significance
    Entry("q314_cochran_armitage", (s, d) =>
      operators.Hypothesis.cochranArmitage(
        t(s, d, "lineitem").select(col("l_linestatus"),
          (col("l_discount").cast("decimal(4,2)") * 100).cast("long")
            .as("bucket"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret")),
        "l_linestatus", "bucket", "ret"),
      // bucket weights = the cent value itself; N*A^2 vs K(N-K)B in
      // HUGEINT, 3.841459 x10^6
      Some(
        s"""WITH per AS (
           |  SELECT l_linestatus AS g,
           |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS w,
           |    CAST(count(*) AS BIGINT) AS nb,
           |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS kb
           |  FROM lineitem GROUP BY 1, 2),
           |agg AS (
           |  SELECT g, CAST(sum(nb) AS BIGINT) AS n,
           |    CAST(sum(kb) AS BIGINT) AS k_succ,
           |    CAST(sum(CAST(w AS HUGEINT) * kb) AS HUGEINT) AS swk,
           |    CAST(sum(CAST(w AS HUGEINT) * nb) AS HUGEINT) AS swn,
           |    CAST(sum(CAST(w AS HUGEINT) * w * nb) AS HUGEINT) AS sw2n
           |  FROM per GROUP BY 1),
           |f AS (
           |  SELECT g, n, k_succ,
           |    CAST(n AS HUGEINT) * swk - CAST(k_succ AS HUGEINT) * swn AS a2,
           |    CAST(n AS HUGEINT) * sw2n - swn * swn AS b2,
           |    CAST(k_succ AS HUGEINT) * (n - k_succ) AS kk
           |  FROM agg)
           |SELECT g AS l_linestatus, n, k_succ,
           |  ${pround("CASE WHEN kk = 0 OR b2 = 0 THEN 0.0 ELSE CAST(n AS DOUBLE) * CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) / (CAST(kk AS DOUBLE) * CAST(b2 AS DOUBLE)) END", 6)} AS chi2,
           |  CASE WHEN kk = 0 OR b2 = 0 THEN false
           |    ELSE 1000000 * CAST(n AS HUGEINT) * a2 * a2
           |      > 3841459 * kk * b2 END AS significant
           |FROM f""".stripMargin)),

    // q311's leaderboard card maintained LIVE: two order-parity ticks
    // fold per-key DECIMAL totals into swap-managed state; the view
    // reads through the SHARED topKDriftFromTotals closing, so the
    // streamed card provably equals the one-shot card (same oracle)
    Entry("q315_streaming_topk_drift", (s, d) => {
      val st = invocationStateDir("q315", "totals")
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        when(year(col("l_shipdate")) >= 1995, 1L).otherwise(0L)
          .as("arm"),
        col("l_partkey"), col("l_extendedprice"), col("l_orderkey"))
      def tick(p: Int) = streaming.StreamingTopKDrift.acceptBatch(
        li.filter(col("l_orderkey") % 2 === p), "l_returnflag", "arm",
        "l_partkey", "l_extendedprice", st)
      tick(0)
      val merged = tick(1)
      streaming.StreamingTopKDrift.driftView(merged, "l_returnflag",
        k = 50)
    },
      // additive per-key totals under any batch split = the one-shot
      // totals, and both cards read the shared FromTotals closing —
      // so the live drift card shares q311's oracle verbatim
      Some(HypothesisMetricsQueries.q311Oracle)),

    // can the doc-shard layout grow 16 -> 20 without a full rewrite?
    // churn under modulo vs rendezvous placement, both on the md5
    // house hash — rendezvous should move ~ 4/20 of keys, modulo
    // nearly everything; exact ppm integers, one row
    Entry("q317_reshard_churn", (s, d) =>
      operators.Packing.reshardChurn(
        t(s, d, "documents"), "doc_id", 16, 20),
      // same md5 house hash, same (weight, shard) lexicographic
      // winner; churn as exact ppm floor divisions
      Some(
        """WITH keys AS (
          |  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS key
          |  FROM documents WHERE doc_id IS NOT NULL),
          |kh AS (
          |  SELECT key,
          |    CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) AS h
          |  FROM keys),
          |w AS (
          |  SELECT key, r.s,
          |    CAST(('0x' || substr(md5(key || ':' || CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) AS wt
          |  FROM kh, unnest(range(0, 20)) AS r(s)),
          |fa AS (
          |  SELECT key, CAST(s AS BIGINT) AS ha FROM w WHERE s < 16
          |  QUALIFY row_number() OVER (PARTITION BY key
          |    ORDER BY wt DESC, s DESC) = 1),
          |fb AS (
          |  SELECT key, CAST(s AS BIGINT) AS hb FROM w WHERE s < 20
          |  QUALIFY row_number() OVER (PARTITION BY key
          |    ORDER BY wt DESC, s DESC) = 1),
          |j AS (
          |  SELECT kh.key, kh.h % 16 AS ma, kh.h % 20 AS mb, ha, hb
          |  FROM kh JOIN fa ON kh.key = fa.key JOIN fb ON kh.key = fb.key),
          |agg AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |    CAST(sum(CASE WHEN ma <> mb THEN 1 ELSE 0 END) AS BIGINT)
          |      AS moved_mod,
          |    CAST(sum(CASE WHEN ha <> hb THEN 1 ELSE 0 END) AS BIGINT)
          |      AS moved_hrw
          |  FROM j)
          |SELECT n_keys, moved_mod,
          |  CASE WHEN n_keys = 0 THEN NULL
          |    ELSE CAST(moved_mod * 1000000 // n_keys AS BIGINT) END
          |    AS churn_mod_ppm,
          |  moved_hrw,
          |  CASE WHEN n_keys = 0 THEN NULL
          |    ELSE CAST(moved_hrw * 1000000 // n_keys AS BIGINT) END
          |    AS churn_hrw_ppm
          |FROM agg""".stripMargin)),

    // how predictable is the NEXT action given the current one?
    // per-state conditional entropy over q148's sessionized pairs —
    // labelEntropy's per-term pround6 discipline
    Entry("q321_next_entropy", (s, d) =>
      operators.Sessionize.nextActionEntropy(t(s, d, "events"),
        "user_id", "ts", "event_type", "event_id", gapSeconds = 3600),
      // q148's session CTE chain, folded to per-state entropy with
      // the labelEntropy per-term pround6 discipline
      Some(
        s"""WITH g AS (
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
           |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS ft,
           |    CAST(count(*) AS BIGINT) AS nt
           |  FROM p GROUP BY 1)
           |SELECT p.from_type, max(ft) AS n_out, max(nt) AS n_to_types,
           |  CAST(CAST(sum(CAST(${pround("(CAST(n AS DOUBLE) / CAST(ft AS DOUBLE)) * log10(CAST(ft AS DOUBLE) / CAST(n AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS h_next
           |FROM p JOIN tot USING (from_type) GROUP BY 1""".stripMargin)),

    // metronome or bursts? B = (sigma−mu)/(sigma+mu) over per-user
    // inter-event gaps — ONE sqrt over an exact integer, everything
    // else BIGINT/DECIMAL
    Entry("q322_burstiness", (s, d) =>
      operators.Resample.burstiness(t(s, d, "events"),
        "user_id", "ts", "event_id"),
      Some(q322Oracle)),

    // longest same-action run per user (gaps-and-islands): the
    // automation screen; champion streak tie-broken by (action,
    // island) so the row is engine-exact
    Entry("q323_streaks", (s, d) =>
      operators.Sessionize.streaks(t(s, d, "events"),
        "user_id", "ts", "event_type", "event_id"),
      // gaps-and-islands with the SAME total order on both rankings;
      // champion tie-break (len desc, action asc, island asc)
      Some(
        """WITH e AS (
          |  SELECT user_id AS k, ts, event_id, event_type AS a
          |  FROM events),
          |r AS (
          |  SELECT k, a,
          |    row_number() OVER (PARTITION BY k ORDER BY ts, event_id)
          |      - row_number() OVER (PARTITION BY k, a ORDER BY ts, event_id)
          |      AS isl
          |  FROM e),
          |runs AS (SELECT k, a, isl, CAST(count(*) AS BIGINT) AS len
          |  FROM r GROUP BY 1, 2, 3),
          |tot AS (SELECT k, CAST(sum(len) AS BIGINT) AS n_events
          |  FROM runs GROUP BY 1),
          |best AS (
          |  SELECT k, a, len FROM runs
          |  QUALIFY row_number() OVER (PARTITION BY k
          |    ORDER BY len DESC, a ASC, isl ASC) = 1)
          |SELECT best.k AS user_id, n_events, len AS max_streak,
          |  a AS streak_action
          |FROM best JOIN tot ON best.k = tot.k""".stripMargin)),

    // is the even/odd-user value shift big enough to CARE about?
    // Cohen's d + Hedges g per event type over exact DECIMAL moment
    // sums — the magnitude companion to q298's significance
    Entry("q325_effect_size", (s, d) =>
      operators.Hypothesis.effectSize(
        t(s, d, "events").select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("arm"), col("value")),
        "event_type", "arm", "value"),
      // q42's exact decimal moment sums per arm, finished by ONE
      // fixed-order double chain for d and the Hedges J correction
      Some({
        val mt = "(CAST(st AS DOUBLE) / CAST(n_t AS DOUBLE))"
        val mc = "(CAST(sc AS DOUBLE) / CAST(n_c AS DOUBLE))"
        val ssT = "(CAST(qt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n_t AS DOUBLE))"
        val ssC = "(CAST(qc AS DOUBLE)" +
          " - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n_c AS DOUBLE))"
        val s2p = s"(($ssT + $ssC) / CAST(n_t + n_c - 2 AS DOUBLE))"
        val dRaw = s"(($mt - $mc) / sqrt($s2p))"
        val jFac = "(1.0 - 3.0 / CAST(4 * (n_t + n_c) - 9 AS DOUBLE))"
        s"""WITH g AS (
           |  SELECT event_type, ((user_id % 2) + 2) % 2 AS arm, value
           |  FROM events WHERE value IS NOT NULL),
           |agg AS (
           |  SELECT event_type,
           |    CAST(sum(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           |    sum(CASE WHEN arm <> 0 THEN CAST(value AS DECIMAL(28,2))
           |      ELSE CAST(0 AS DECIMAL(28,2)) END) AS st,
           |    sum(CASE WHEN arm = 0 THEN CAST(value AS DECIMAL(28,2))
           |      ELSE CAST(0 AS DECIMAL(28,2)) END) AS sc,
           |    sum(CASE WHEN arm <> 0 THEN CAST(value * value AS DECIMAL(28,4))
           |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS qt,
           |    sum(CASE WHEN arm = 0 THEN CAST(value * value AS DECIMAL(28,4))
           |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS qc
           |  FROM g GROUP BY 1)
           |SELECT event_type, n_t, n_c,
           |  CASE WHEN n_t = 0 THEN NULL ELSE ${pround(mt, 6)} END AS mean_t,
           |  CASE WHEN n_c = 0 THEN NULL ELSE ${pround(mc, 6)} END AS mean_c,
           |  CASE WHEN n_t < 2 OR n_c < 2 OR $s2p <= 0.0 THEN NULL
           |    ELSE ${pround(dRaw, 6)} END AS cohens_d,
           |  CASE WHEN n_t < 2 OR n_c < 2 OR $s2p <= 0.0 THEN NULL
           |    ELSE ${pround(s"$jFac * $dRaw", 6)} END AS hedges_g
           |FROM agg""".stripMargin
      })),

    // does a deep discount change the RETURN risk? 2x2 odds-ratio /
    // relative-risk / risk-difference card per line status — every
    // ratio an exact floored micro-unit quotient, no doubles at all
    Entry("q326_risk_card", (s, d) =>
      operators.Hypothesis.riskCard(
        t(s, d, "lineitem").select(col("l_linestatus"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("exposed"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("outcome")),
        "l_linestatus", "exposed", "outcome"),
      Some(q326Oracle)),

    // average retained days inside the first 1000 — the one-number
    // summary of q232's churn curve via the jump decomposition
    // tau − Σ J_i(tau − t_i): no curve-ordering window, plain sums
    // over the same log-space prefix chain
    Entry("q327_rmst", (s, d) =>
      operators.Survival.rmst(
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("__first"),
            max(col("o_orderdate")).as("__last"))
          .select(
            datediff(col("__last"), col("__first")).cast("long").as("dur"),
            when(col("__last") < lit("1998-03-01").cast("date"), 1L)
              .otherwise(0L).as("churned")),
        "dur", "churned", tau = 1000L, bucketWidth = 256L),
      // q232's CTE chain kept one step further: S_prev = exp(csum −
      // contrib), jump terms pround6'd into a DECIMAL(28,6) sum,
      // rmst = tau − that sum (exact decimal subtraction)
      Some(
        s"""WITH per AS (
           |  SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) AS dur,
           |    CASE WHEN max(o_orderdate) < DATE '1998-03-01' THEN 1 ELSE 0 END AS e
           |  FROM orders GROUP BY o_custkey),
           |g AS (
           |  SELECT CAST(dur AS BIGINT) AS duration,
           |    CAST(sum(e) AS BIGINT) AS n_events,
           |    CAST(count(*) - sum(e) AS BIGINT) AS n_censored
           |  FROM per GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n FROM g),
           |r AS (
           |  SELECT g.*, t.n - CAST(COALESCE(sum(n_events + n_censored) OVER (
           |    ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |    0) AS BIGINT) AS n_risk
           |  FROM g, tot t),
           |c AS (
           |  SELECT *,
           |    CASE WHEN n_risk = n_events THEN CAST(0 AS DECIMAL(18,6))
           |      ELSE CAST(floor(ln(CAST(n_risk - n_events AS DOUBLE) /
           |        CAST(n_risk AS DOUBLE)) * 1000000 + 0.5) / 1000000
           |        AS DECIMAL(18,6)) END AS contrib,
           |    CASE WHEN n_risk = n_events THEN 1 ELSE 0 END AS z
           |  FROM r),
           |f AS (
           |  SELECT duration, n_events, n_censored, contrib, z,
           |    sum(contrib) OVER (ORDER BY duration) AS csum,
           |    max(z) OVER (ORDER BY duration) AS zany
           |  FROM c),
           |s AS (
           |  SELECT duration, n_events, n_censored,
           |    CASE WHEN zany = 1 AND z = 0 THEN 0.0
           |      ELSE floor(exp(CAST(csum - contrib AS DOUBLE)) * 1000000 + 0.5)
           |        / 1000000 END AS s_prev,
           |    CASE WHEN zany = 1 THEN 0.0
           |      ELSE floor(exp(CAST(csum AS DOUBLE)) * 1000000 + 0.5)
           |        / 1000000 END AS s_cur
           |  FROM f)
           |SELECT CAST(1000 AS BIGINT) AS tau,
           |  CAST(sum(n_events + n_censored) AS BIGINT) AS n_obs,
           |  CAST(sum(n_events) AS BIGINT) AS n_events,
           |  CAST(CAST(1000 AS DECIMAL(28,6)) - sum(CASE WHEN duration < 1000
           |    THEN CAST(floor((s_prev - s_cur)
           |      * CAST(1000 - duration AS DOUBLE) * 1000000 + 0.5) / 1000000
           |      AS DECIMAL(28,6))
           |    ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE) AS rmst
           |FROM s""".stripMargin)),

    // do the first three line positions of an order get systematically
    // different quantities? Friedman over per-order doubled midranks,
    // sliced 4 ways by order-key hash — the slices should agree
    Entry("q328_friedman", (s, d) =>
      operators.Hypothesis.friedman(
        t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(
            max(when(col("l_linenumber") === 1, col("l_quantity"))).as("t1"),
            max(when(col("l_linenumber") === 2, col("l_quantity"))).as("t2"),
            max(when(col("l_linenumber") === 3, col("l_quantity"))).as("t3"))
          .filter(col("t1").isNotNull && col("t2").isNotNull &&
            col("t3").isNotNull)
          .select(pmod(col("l_orderkey"), lit(4L)).as("slice"),
            col("t1"), col("t2"), col("t3")),
        "slice", Seq("t1", "t2", "t3")),
      // doubled midranks keep every Friedman term integral; the /4
      // cancels in the tie-corrected ratio, significance vs chi2_2 x10^6
      Some(
        s"""WITH piv AS (
           |  SELECT l_orderkey,
           |    max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS t1,
           |    max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS t2,
           |    max(CASE WHEN l_linenumber = 3 THEN l_quantity END) AS t3
           |  FROM lineitem GROUP BY 1),
           |b AS (
           |  SELECT ((l_orderkey % 4) + 4) % 4 AS slice,
           |    (CASE WHEN t1 < t1 THEN 2 ELSE 0 END + CASE WHEN t1 = t1 THEN 1 ELSE 0 END
           |     + CASE WHEN t2 < t1 THEN 2 ELSE 0 END + CASE WHEN t2 = t1 THEN 1 ELSE 0 END
           |     + CASE WHEN t3 < t1 THEN 2 ELSE 0 END + CASE WHEN t3 = t1 THEN 1 ELSE 0 END
           |     + 1) AS r0,
           |    (CASE WHEN t1 < t2 THEN 2 ELSE 0 END + CASE WHEN t1 = t2 THEN 1 ELSE 0 END
           |     + CASE WHEN t2 < t2 THEN 2 ELSE 0 END + CASE WHEN t2 = t2 THEN 1 ELSE 0 END
           |     + CASE WHEN t3 < t2 THEN 2 ELSE 0 END + CASE WHEN t3 = t2 THEN 1 ELSE 0 END
           |     + 1) AS r1,
           |    (CASE WHEN t1 < t3 THEN 2 ELSE 0 END + CASE WHEN t1 = t3 THEN 1 ELSE 0 END
           |     + CASE WHEN t2 < t3 THEN 2 ELSE 0 END + CASE WHEN t2 = t3 THEN 1 ELSE 0 END
           |     + CASE WHEN t3 < t3 THEN 2 ELSE 0 END + CASE WHEN t3 = t3 THEN 1 ELSE 0 END
           |     + 1) AS r2
           |  FROM piv
           |  WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL),
           |agg AS (
           |  SELECT slice, CAST(count(*) AS BIGINT) AS n_blocks,
           |    CAST(sum(CAST(r0 AS HUGEINT) * r0 + CAST(r1 AS HUGEINT) * r1
           |      + CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS sr2,
           |    CAST(sum(r0) AS HUGEINT) AS s0,
           |    CAST(sum(r1) AS HUGEINT) AS s1,
           |    CAST(sum(r2) AS HUGEINT) AS s2
           |  FROM b GROUP BY 1),
           |fin AS (
           |  SELECT slice, n_blocks,
           |    (s0 * s0 + s1 * s1 + s2 * s2
           |      - CAST(n_blocks AS HUGEINT) * n_blocks * 48) AS num,
           |    (sr2 - CAST(n_blocks AS HUGEINT) * 48) AS den
           |  FROM agg)
           |SELECT slice, n_blocks, CAST(3 AS BIGINT) AS k_treatments,
           |  ${pround("CASE WHEN den = 0 THEN 0.0 ELSE 2.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END", 6)} AS chi2,
           |  CASE WHEN den = 0 THEN false
           |    ELSE 1000000 * 2 * num > 5991465 * den END AS significant
           |FROM fin""".stripMargin)),

    // which near-dup pairs did the q21 banding MISS? common-neighbor
    // and Adamic-Adar completion over the candidate graph, hub-capped
    // middles, wedge bound pre-estimated and refused past 10M
    Entry("q329_link_prediction", (s, d) =>
      operators.Triangles.linkPrediction(
        Dedup.minhashCandidates(t(s, d, "documents"), "text", "doc_id",
          bands = 3, rowsPerBand = 2),
        "id_a", "id_b"),
      // q157's candidate-edge chain; hub-capped middles, wedge pairs
      // anti-joined against existing edges, per-middle 1/log10(deg)
      // pround6 into a DECIMAL sum
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
           |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
           |deg AS (SELECT a AS z, CAST(count(*) AS BIGINT) AS deg_z
           |  FROM sym GROUP BY 1),
           |kept AS (SELECT z, deg_z FROM deg WHERE deg_z <= 64),
           |adj AS (SELECT sym.a AS z, sym.b AS u, deg_z
           |  FROM sym JOIN kept ON sym.a = kept.z),
           |wd AS (
           |  SELECT x.z, x.deg_z, x.u, y.u AS w
           |  FROM adj x JOIN adj y ON x.z = y.z WHERE x.u < y.u),
           |nc AS (
           |  SELECT u, w, deg_z FROM wd
           |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = wd.u AND e.b = wd.w))
           |SELECT u AS id_a, w AS id_b,
           |  CAST(count(*) AS BIGINT) AS common_neighbors,
           |  CAST(CAST(sum(CAST(${pround("1.0 / log10(CAST(deg_z AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS aa_score
           |FROM nc GROUP BY 1, 2""".stripMargin)),

    // the q322 cadence screen kept live: per-key gap statistics merge
    // additively across time-ordered batches (one stitched boundary
    // gap per key), card via the shared burstinessFromStats closing
    Entry("q331_streaming_burstiness", (s, d) => {
      val st = invocationStateDir("q331", "gapstats")
      val ev = t(s, d, "events")
      val cut = lit("2024-01-15").cast("timestamp")
      streaming.StreamingBurstiness.acceptBatch(
        ev.filter(col("ts") < cut), "user_id", "ts", "event_id", st)
      val merged = streaming.StreamingBurstiness.acceptBatch(
        ev.filter(col("ts") >= cut), "user_id", "ts", "event_id", st)
      streaming.StreamingBurstiness.burstinessView(merged, "user_id")
    },
      // time-ordered batch split + one stitched boundary gap per key
      // reproduces the one-shot gap statistics, and both cards read
      // the shared burstinessFromStats closing — q322's oracle verbatim
      Some(q322Oracle)),

    // how heavy is the order-revenue tail? Hill estimator over the
    // top-500 order statistics — ties excluded by VALUE, so the
    // estimate is order-deterministic
    Entry("q335_hill_tail", (s, d) =>
      operators.Pareto.hillTail(t(s, d, "orders"),
        "o_totalprice", "o_orderkey", k = 500),
      // top-(k+1) under (value desc, tie asc); the threshold ROW drops
      // (min value, max tie), terms read values only
      Some(
        s"""WITH top AS (
           |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
           |    o_orderkey AS tie
           |  FROM orders WHERE o_totalprice > 0
           |  ORDER BY x DESC, tie ASC LIMIT 501),
           |mn AS (SELECT min(x) AS xmin FROM top),
           |dt AS (SELECT max(tie) AS dropt FROM top, mn WHERE x = xmin),
           |kept AS (
           |  SELECT x, xmin FROM top, mn, dt
           |  WHERE NOT (x = xmin AND tie = dropt))
           |SELECT CAST(500 AS BIGINT) AS k,
           |  CAST(count(*) AS BIGINT) AS n_top,
           |  max(CAST(xmin AS DOUBLE)) AS x_min,
           |  CASE WHEN count(*) > 0 AND CAST(CAST(sum(CAST(${pround("ln(CAST(x AS DOUBLE) / CAST(xmin AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) > 0.0
           |    THEN ${pround("CAST(count(*) AS DOUBLE) / CAST(CAST(sum(CAST(" + pround("ln(CAST(x AS DOUBLE) / CAST(xmin AS DOUBLE))", 6) + " AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)", 6)}
           |    END AS alpha
           |FROM kept""".stripMargin)),

    // where does the evidence stand NOW? Wald SPRT per event type on
    // the high-value rate — boundaries and LLR coefficients computed
    // once as shortest-roundtrip doubles, shared with the oracle
    Entry("q336_sprt", (s, d) =>
      operators.Hypothesis.sprt(
        t(s, d, "events").select(col("event_type"),
          when(col("value") > 100.0, 1L).otherwise(0L).as("hi")),
        "event_type", "hi", p0 = 0.25, p1 = 0.35),
      // SAME shortest-roundtrip constants as the engine (computed once
      // in Scala); decision compares the raw LLR double
      Some({
        val c1 = math.log(0.35 / 0.25)
        val c0 = math.log((1.0 - 0.35) / (1.0 - 0.25))
        val up = math.log((1.0 - 0.2) / 0.05)
        val lo = math.log(0.2 / (1.0 - 0.05))
        val llr = s"(CAST(k AS DOUBLE) * ($c1) + CAST(n - k AS DOUBLE) * ($c0))"
        s"""WITH g AS (
           |  SELECT event_type,
           |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS hi
           |  FROM events),
           |agg AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(hi) AS BIGINT) AS k
           |  FROM g GROUP BY 1)
           |SELECT event_type, n, k, ${pround(llr, 6)} AS llr,
           |  CASE WHEN $llr >= ($up) THEN 'accept_h1'
           |    WHEN $llr <= ($lo) THEN 'accept_h0'
           |    ELSE 'continue' END AS decision
           |FROM agg""".stripMargin
      })),

    // does deep discount associate with high tax AFTER controlling
    // for line status? CMH pooled 2x2 evidence per return flag —
    // micro-unit E/V floors, bracketed exact significance
    Entry("q337_cmh", (s, d) =>
      operators.Hypothesis.cmh(
        t(s, d, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("exposed"),
          when(col("l_tax") >= 0.05, 1L).otherwise(0L).as("outcome")),
        "l_returnflag", "l_linestatus", "exposed", "outcome"),
      // micro-unit E/V floors in HUGEINT; bracketed significance with
      // the K-strata slack band (raises borderline — none at these SFs)
      Some({
        val eMu = "(CAST(a + b AS HUGEINT) * (a + c) * 1000000 // n)"
        val vMu = "(CAST(a + b AS HUGEINT) * (n - a - b) * (a + c)" +
          " * (n - a - c) * 1000000 // (CAST(n AS HUGEINT) * n * (n - 1)))"
        s"""WITH g AS (
           |  SELECT l_returnflag AS grp, l_linestatus AS st,
           |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS e,
           |    CASE WHEN l_tax >= 0.05 THEN 1 ELSE 0 END AS o
           |  FROM lineitem),
           |cells AS (
           |  SELECT grp, st, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS a,
           |    CAST(sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS b,
           |    CAST(sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c
           |  FROM g GROUP BY 1, 2 HAVING count(*) >= 2),
           |agg AS (
           |  SELECT grp, CAST(sum(n) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS k_strata,
           |    CAST(sum(CAST(a AS HUGEINT) * 1000000 - $eMu) AS HUGEINT)
           |      AS dd,
           |    CAST(sum($vMu) AS HUGEINT) AS vv
           |  FROM cells GROUP BY 1)
           |SELECT grp AS l_returnflag, n, k_strata,
           |  CASE WHEN vv = 0 THEN 0.0
           |    ELSE ${pround("CAST(dd AS DOUBLE) * CAST(dd AS DOUBLE) / (CAST(vv AS DOUBLE) * 1.0e6)", 6)} END AS chi2,
           |  CASE WHEN vv = 0 THEN false
           |    WHEN abs(dd) > k_strata AND (abs(dd) - k_strata)
           |        * (abs(dd) - k_strata) > 3841459 * (vv + k_strata)
           |      THEN true
           |    WHEN (abs(dd) + k_strata) * (abs(dd) + k_strata)
           |        <= 3841459 * vv THEN false
           |    ELSE error('cmh oracle borderline') END AS significant
           |FROM agg""".stripMargin
      })),

    // is daily activity trending per event type? Mann-Kendall over
    // the daily-count series — S from the kendall pair machinery,
    // tie-corrected 18V fully integral, continuity-corrected z
    Entry("q338_mann_kendall", (s, d) =>
      operators.Hypothesis.mannKendall(
        t(s, d, "events")
          .groupBy(col("event_type"),
            call_function("div", col("ts").cast("long"), lit(86400L))
              .as("day"))
          .agg(count(lit(1)).cast("long").as("cnt")),
        "event_type", "day", "cnt"),
      // daily series is <= 31 points/group: the pairwise S re-derives
      // by a plain self-join; 18V stays integral, z continuity-corrected
      Some(
        s"""WITH d AS (
           |  SELECT event_type AS g,
           |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS x,
           |    CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |meta AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
           |ties AS (
           |  SELECT g, CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
           |    AS HUGEINT) AS ty
           |  FROM (SELECT g, y, CAST(count(*) AS BIGINT) AS t
           |        FROM d GROUP BY 1, 2) GROUP BY 1),
           |s AS (
           |  SELECT a.g, CAST(sum(CASE WHEN a.y < b.y THEN 1 ELSE -1 END)
           |    AS HUGEINT) AS s
           |  FROM d a JOIN d b ON a.g = b.g AND a.x < b.x AND a.y <> b.y
           |  GROUP BY 1),
           |f AS (
           |  SELECT meta.g, n, COALESCE(s.s, 0) AS s,
           |    CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - ty AS v18
           |  FROM meta JOIN ties USING (g) LEFT JOIN s ON meta.g = s.g)
           |SELECT g AS event_type, n, CAST(s AS BIGINT) AS s_stat,
           |  CASE WHEN v18 = 0 OR s = 0 THEN 0.0
           |    ELSE ${pround("(CAST(s AS DOUBLE) - CAST(sign(CAST(s AS DOUBLE)) AS DOUBLE)) / sqrt(CAST(v18 AS DOUBLE) / 18.0)", 6)} END AS z,
           |  CASE WHEN v18 = 0 OR s = 0 THEN false
           |    ELSE 18000000 * (abs(s) - 1) * (abs(s) - 1)
           |      > 3841459 * v18 END AS significant
           |FROM f""".stripMargin)),

    // did the event RATE change between the month's first 14 days and
    // the rest? two-window Poisson score test per event type, exact
    // integral significance over caller-supplied exposures
    Entry("q339_rate_test", (s, d) =>
      operators.Hypothesis.poissonRateTest(
        t(s, d, "events").select(col("event_type"),
          when(col("ts") >= lit("2024-01-15").cast("timestamp"), 1L)
            .otherwise(0L).as("arm")),
        "event_type", "arm",
        exposure0 = 14L * 86400L, exposure1 = 17L * 86400L),
      // fully integral score test; rates/ratio exact floored
      // micro-units over the fixed design exposures
      Some({
        val e0 = 14L * 86400L; val e1 = 17L * 86400L
        val dX = s"(CAST(k1 AS HUGEINT) * $e0 - CAST(k0 AS HUGEINT) * $e1)"
        val vX = s"(CAST($e0 AS HUGEINT) * $e1 * (k0 + k1))"
        s"""WITH g AS (
           |  SELECT event_type,
           |    CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
           |      THEN 1 ELSE 0 END AS arm
           |  FROM events),
           |agg AS (
           |  SELECT event_type,
           |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS k0,
           |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS k1
           |  FROM g GROUP BY 1)
           |SELECT event_type, k0, k1,
           |  CAST(CAST(k0 AS HUGEINT) * 1000000 // $e0 AS BIGINT)
           |    AS rate0_upm,
           |  CAST(CAST(k1 AS HUGEINT) * 1000000 // $e1 AS BIGINT)
           |    AS rate1_upm,
           |  CASE WHEN k0 = 0 THEN NULL
           |    ELSE CAST(CAST(k1 AS HUGEINT) * $e0 * 1000000
           |      // (CAST(k0 AS HUGEINT) * $e1) AS BIGINT) END AS ratio_ppm,
           |  CASE WHEN k0 + k1 = 0 THEN 0.0
           |    ELSE ${pround(s"CAST($dX AS DOUBLE) * CAST($dX AS DOUBLE) / CAST($vX AS DOUBLE)", 6)} END AS chi2,
           |  CASE WHEN k0 + k1 = 0 THEN false
           |    ELSE 1000000 * $dX * $dX > 3841459 * $vX END AS significant
           |FROM agg""".stripMargin
      })),

    // where should a fixed audit budget land? Neyman allocation of
    // 1000 samples per order status across priority strata — big AND
    // volatile strata earn samples
    Entry("q340_neyman_allocation", (s, d) =>
      operators.Sampling.neymanAllocation(t(s, d, "orders"),
        "o_orderstatus", "o_orderpriority", "o_totalprice",
        totalN = 1000L),
      // q42 moment discipline per stratum; w_h pround6 -> DECIMAL sum,
      // shares/counts half-up-rounded doubles of exact operands
      Some({
        val sdX = "sqrt(greatest(CAST(0.0 AS DOUBLE)," +
          " CAST(q AS DOUBLE) / CAST(n_pop AS DOUBLE)" +
          " - (CAST(s AS DOUBLE) / CAST(n_pop AS DOUBLE))" +
          " * (CAST(s AS DOUBLE) / CAST(n_pop AS DOUBLE))))"
        val share = "(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE))"
        s"""WITH per AS (
           |  SELECT o_orderstatus, o_orderpriority,
           |    CAST(count(*) AS BIGINT) AS n_pop,
           |    sum(CAST(o_totalprice AS DECIMAL(28,2))) AS s,
           |    sum(CAST(o_totalprice * o_totalprice AS DECIMAL(28,4))) AS q
           |  FROM orders GROUP BY 1, 2),
           |wt AS (
           |  SELECT *, CAST(${pround(s"CAST(n_pop AS DOUBLE) * $sdX", 6)}
           |    AS DECIMAL(18,6)) AS w
           |  FROM per),
           |tot AS (
           |  SELECT o_orderstatus, CAST(sum(w) AS DECIMAL(38,6)) AS sw
           |  FROM wt GROUP BY 1)
           |SELECT wt.o_orderstatus, o_orderpriority, n_pop,
           |  ${pround(sdX, 6)} AS sd,
           |  CASE WHEN sw = 0 THEN NULL
           |    ELSE CAST(floor($share * 1000000 + 0.5) AS BIGINT)
           |    END AS alloc_ppm,
           |  CASE WHEN sw = 0 THEN NULL
           |    ELSE CAST(floor(CAST(1000 AS DOUBLE) * $share + 0.5)
           |      AS BIGINT) END AS n_alloc
           |FROM wt JOIN tot USING (o_orderstatus)""".stripMargin
      })),

    // by what day has half the cohort churned? the q232 curve's
    // headline number — one order-free min over the KM output
    Entry("q341_median_survival", (s, d) =>
      operators.Survival.medianSurvival(
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("__first"),
            max(col("o_orderdate")).as("__last"))
          .select(
            datediff(col("__last"), col("__first")).cast("long").as("dur"),
            when(col("__last") < lit("1998-03-01").cast("date"), 1L)
              .otherwise(0L).as("churned")),
        "dur", "churned", bucketWidth = 256L),
      // the q232 chain's headline number: min duration with S <= 0.5
      Some(
        """WITH per AS (
          |  SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) AS dur,
          |    CASE WHEN max(o_orderdate) < DATE '1998-03-01' THEN 1 ELSE 0 END AS e
          |  FROM orders GROUP BY o_custkey),
          |g AS (
          |  SELECT CAST(dur AS BIGINT) AS duration,
          |    CAST(sum(e) AS BIGINT) AS n_events,
          |    CAST(count(*) - sum(e) AS BIGINT) AS n_censored
          |  FROM per GROUP BY 1),
          |tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n FROM g),
          |r AS (
          |  SELECT g.*, t.n - CAST(COALESCE(sum(n_events + n_censored) OVER (
          |    ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |    0) AS BIGINT) AS n_risk
          |  FROM g, tot t),
          |c AS (
          |  SELECT *,
          |    CASE WHEN n_risk = n_events THEN CAST(0 AS DECIMAL(18,6))
          |      ELSE CAST(floor(ln(CAST(n_risk - n_events AS DOUBLE) /
          |        CAST(n_risk AS DOUBLE)) * 1000000 + 0.5) / 1000000
          |        AS DECIMAL(18,6)) END AS contrib,
          |    CASE WHEN n_risk = n_events THEN 1 ELSE 0 END AS z
          |  FROM r),
          |f AS (
          |  SELECT duration, n_events, n_censored,
          |    CAST(sum(contrib) OVER (ORDER BY duration) AS DOUBLE) AS csum,
          |    max(z) OVER (ORDER BY duration) AS zany
          |  FROM c),
          |s AS (
          |  SELECT duration, n_events, n_censored,
          |    CASE WHEN zany = 1 THEN 0.0
          |      ELSE floor(exp(csum) * 1000000 + 0.5) / 1000000 END AS surv
          |  FROM f)
          |SELECT CAST(COALESCE(sum(n_events + n_censored), 0) AS BIGINT)
          |    AS n_obs,
          |  CAST(COALESCE(sum(n_events), 0) AS BIGINT) AS n_events,
          |  CAST(min(CASE WHEN surv <= 0.5 THEN duration END) AS BIGINT)
          |    AS median_duration
          |FROM s""".stripMargin)),

    // q326's risk card kept live: additive 2x2 cells per group across
    // any batch split, card via the shared riskCardFromCells closing
    Entry("q342_streaming_risk", (s, d) => {
      val st = invocationStateDir("q342", "cells")
      val li = t(s, d, "lineitem").select(col("l_linestatus"),
        when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("exposed"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("outcome"),
        col("l_orderkey"))
      streaming.StreamingRisk.acceptBatch(
        li.filter(col("l_orderkey") % 2 === 0), "l_linestatus",
        "exposed", "outcome", st)
      val merged = streaming.StreamingRisk.acceptBatch(
        li.filter(col("l_orderkey") % 2 === 1), "l_linestatus",
        "exposed", "outcome", st)
      streaming.StreamingRisk.riskView(merged, "l_linestatus")
    },
      // additive 2x2 cells under any batch split = the one-shot cells,
      // and both cards read the shared riskCardFromCells closing
      Some(q326Oracle)),

    // how much statistical information does the length-weighted corpus
    // really carry? ESS/(n) per source over n_chars weights — equal
    // weights = n, one whale = 1
    Entry("q344_ess", (s, d) =>
      operators.Sampling.effectiveSampleSize(
        t(s, d, "documents").select(col("source"), col("n_chars")),
        "source", "n_chars"),
      Some(q344Oracle)),

    // q344's mixture health check kept live: additive (n, Σw, Σw²)
    // per source, card via the shared essFromStats closing
    Entry("q347_streaming_ess", (s, d) => {
      val st = invocationStateDir("q347", "wstats")
      val docs = t(s, d, "documents").select(col("source"),
        col("n_chars"), col("doc_id"))
      streaming.StreamingEss.acceptBatch(
        docs.filter(col("doc_id") % 2 === 0), "source", "n_chars", st)
      val merged = streaming.StreamingEss.acceptBatch(
        docs.filter(col("doc_id") % 2 === 1), "source", "n_chars", st)
      streaming.StreamingEss.essView(merged, "source")
    },
      // additive (n, Σw, Σw²) under any batch split = the one-shot
      // statistics, and both cards read the shared essFromStats closing
      Some(q344Oracle)),

    // and HOW BIG is the q337 association? Mantel-Haenszel pooled
    // odds ratio per return flag — micro-unit stratum terms, one
    // exact closing ppm division
    Entry("q351_mh_odds_ratio", (s, d) =>
      operators.Hypothesis.mhOddsRatio(
        t(s, d, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("exposed"),
          when(col("l_tax") >= 0.05, 1L).otherwise(0L).as("outcome")),
        "l_returnflag", "l_linestatus", "exposed", "outcome"),
      // per-stratum ad/n and bc/n micro-unit floors in HUGEINT; the
      // closing ratio one exact floored ppm division
      Some(
        s"""WITH g AS (
           |  SELECT l_returnflag AS grp, l_linestatus AS st,
           |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS e,
           |    CASE WHEN l_tax >= 0.05 THEN 1 ELSE 0 END AS o
           |  FROM lineitem),
           |cells AS (
           |  SELECT grp, st, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS a,
           |    CAST(sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS b,
           |    CAST(sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c
           |  FROM g GROUP BY 1, 2),
           |agg AS (
           |  SELECT grp, CAST(sum(n) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS k_strata,
           |    CAST(sum(CAST(a AS HUGEINT) * (n - a - b - c) * 1000000
           |      // n) AS HUGEINT) AS sn,
           |    CAST(sum(CAST(b AS HUGEINT) * c * 1000000 // n)
           |      AS HUGEINT) AS sd
           |  FROM cells GROUP BY 1)
           |SELECT grp AS l_returnflag, n, k_strata,
           |  CASE WHEN sd = 0 THEN NULL
           |    ELSE CAST(sn * 1000000 // sd AS BIGINT) END AS or_mh_ppm
           |FROM agg""".stripMargin)),

    // human, cron, or bot farm? hour-of-day activity entropy per
    // user — the third behavioral lens beside q322's burstiness and
    // q323's streaks
    Entry("q354_hour_entropy", (s, d) =>
      operators.Sessionize.hourEntropy(t(s, d, "events"),
        "user_id", "ts"),
      // engine-neutral hour buckets; per-key totals from a <=24-row
      // window; labelEntropy per-term pround6 discipline
      Some(
        s"""WITH h AS (
           |  SELECT user_id,
           |    ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 + 24) % 24
           |      AS hr
           |  FROM events),
           |c AS (SELECT user_id, hr, CAST(count(*) AS BIGINT) AS c
           |  FROM h GROUP BY 1, 2),
           |t2 AS (
           |  SELECT user_id, hr, c,
           |    CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
           |  FROM c)
           |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
           |  CAST(count(*) AS BIGINT) AS n_hours,
           |  CAST(CAST(sum(CAST(${pround("(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * log10(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS h_hour
           |FROM t2 GROUP BY 1""".stripMargin)),

    // how unequal is customer revenue WITHIN each market segment?
    // Theil-T + MLD over per-customer revenue — the decomposable
    // inequality pair next to q285's Gini
    Entry("q332_theil_index", (s, d) =>
      operators.Pareto.theil(
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .as("revenue"))
          .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("revenue")),
        "c_mktsegment", "revenue"),
      // per-customer revenue exact DECIMAL; per-entity Theil/MLD terms
      // pround6 into DECIMAL(18,6) sums (the labelEntropy discipline)
      Some(
        s"""WITH per AS (
           |  SELECT c_mktsegment AS g,
           |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  GROUP BY o_custkey, c_mktsegment),
           |kept AS (SELECT g, x FROM per WHERE g IS NOT NULL AND x > 0),
           |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS DECIMAL(38,2)) AS xx
           |  FROM kept GROUP BY 1)
           |SELECT g AS c_mktsegment, CAST(max(n) AS BIGINT) AS n,
           |  CAST(CAST(sum(CAST(${pround("(CAST(x AS DOUBLE) / CAST(xx AS DOUBLE)) * ln(CAST(n AS DOUBLE) * CAST(x AS DOUBLE) / CAST(xx AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS theil,
           |  CAST(CAST(sum(CAST(${pround("ln(CAST(xx AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(x AS DOUBLE))) / CAST(n AS DOUBLE)", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS mld
           |FROM kept JOIN tot USING (g) GROUP BY 1""".stripMargin)),

    // do BUILDING-segment customers churn differently? two-arm
    // log-rank over the q232 churn observations: O−E and V as exact
    // DECIMAL(18,6) sums of pround6 hypergeometric contributions,
    // significance decided entirely in DECIMAL against the χ²₁ 5%
    // critical value
    Entry("q302_logrank", (s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
          .as("arm"))
      val obs = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("__first"),
          max(col("o_orderdate")).as("__last"))
        .select(col("o_custkey"),
          datediff(col("__last"), col("__first")).cast("long").as("dur"),
          when(col("__last") < lit("1998-03-01").cast("date"), 1L)
            .otherwise(0L).as("churned"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      operators.Survival.logRank(obs, "dur", "churned", "arm",
        bucketWidth = 256L)
    },
      // at-risk chains as suffix counts over the per-duration arm
      // table; E and V contributions pround6 into DECIMAL(18,6) sums,
      // the flag decided on the exact decimals
      Some(
        s"""WITH per AS (
           |  SELECT date_diff('day', min(o_orderdate), max(o_orderdate))
           |      AS dur,
           |    CASE WHEN max(o_orderdate) < DATE '1998-03-01'
           |      THEN 1 ELSE 0 END AS e,
           |    o_custkey
           |  FROM orders GROUP BY o_custkey),
           |j AS (
           |  SELECT CAST(dur AS BIGINT) AS duration, e,
           |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm
           |  FROM per JOIN customer ON o_custkey = c_custkey),
           |cnt AS (
           |  SELECT duration,
           |    CAST(sum(CASE WHEN arm = 0 AND e = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS d_a,
           |    CAST(sum(CASE WHEN arm = 0 AND e = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c_a,
           |    CAST(sum(CASE WHEN arm = 1 AND e = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS d_b,
           |    CAST(sum(CASE WHEN arm = 1 AND e = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c_b
           |  FROM j GROUP BY 1),
           |tot AS (SELECT CAST(sum(d_a + c_a) AS BIGINT) AS ta,
           |  CAST(sum(d_b + c_b) AS BIGINT) AS tb FROM cnt),
           |r AS (
           |  SELECT duration, d_a, d_b,
           |    ta - COALESCE(CAST(sum(d_a + c_a) OVER (ORDER BY duration
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS na,
           |    tb - COALESCE(CAST(sum(d_b + c_b) OVER (ORDER BY duration
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS nb
           |  FROM cnt, tot),
           |k AS (
           |  SELECT d_a, d_b, na, nb, d_a + d_b AS d, na + nb AS n FROM r),
           |ag AS (
           |  SELECT CAST(sum(d_a) AS BIGINT) AS o_a,
           |    CAST(sum(d_b) AS BIGINT) AS o_b,
           |    sum(CAST(${pround("CASE WHEN d = 0 THEN 0.0 ELSE CAST(d AS DOUBLE) * CAST(na AS DOUBLE) / CAST(n AS DOUBLE) END", 6)} AS DECIMAL(18,6))) AS ea,
           |    sum(CAST(${pround("CASE WHEN d = 0 OR n <= 1 THEN 0.0 ELSE CAST(d AS DOUBLE) * (CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)) END", 6)} AS DECIMAL(18,6))) AS v
           |  FROM k)
           |SELECT ta AS n_a, tb AS n_b, o_a, o_b,
           |  CAST(ea AS DOUBLE) AS e_a,
           |  ${pround("CASE WHEN v = 0 THEN 0.0 ELSE CAST(CAST(o_a AS DECIMAL(18,6)) - ea AS DOUBLE) * CAST(CAST(o_a AS DECIMAL(18,6)) - ea AS DOUBLE) / CAST(v AS DOUBLE) END", 6)} AS chi2,
           |  CASE WHEN v = 0 THEN false
           |    ELSE (CAST(o_a AS DECIMAL(18,6)) - ea)
           |        * (CAST(o_a AS DECIMAL(18,6)) - ea)
           |      > CAST(3.841459 AS DECIMAL(7,6)) * v END AS significant
           |FROM ag, tot""".stripMargin))
  )
}
