package graft
package queries

import graft.functions.{Rounding, TextFns}
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — training-data pipeline: profiling, metrics and concentration. */
object PipelineProfileQueries {

  lazy val entries: Seq[Entry] = Seq(
    // single-scan table profile of orders; the double column is cast
    // to DECIMAL first so min/max render identically across engines
    Entry("q81_profile", (s, d) =>
      operators.Profile.profile(
        t(s, d, "orders").withColumn("o_totalprice",
          col("o_totalprice").cast("decimal(18,2)")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
      Some({
        // the Spark side profiles o_totalprice AFTER the DECIMAL cast,
        // so the oracle stats (distinct included) apply the same cast
        def prow(c: String, expr: String) =
          s"""SELECT '$c' AS column_name,
             |  count(*) - count($expr) AS n_null, count($expr) AS n_present,
             |  count(DISTINCT $expr) AS n_distinct,
             |  CAST(min($expr) AS VARCHAR) AS min_value,
             |  CAST(max($expr) AS VARCHAR) AS max_value
             |FROM orders""".stripMargin
        Seq(
          prow("o_orderkey", "o_orderkey"),
          prow("o_custkey", "o_custkey"),
          prow("o_orderstatus", "o_orderstatus"),
          prow("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"),
          prow("o_orderdate", "o_orderdate"),
          prow("o_orderpriority", "o_orderpriority")
        ).mkString("\nUNION ALL\n")
      })),

    // exact per-source quantile table of bpe-ish token counts: the
    // distribution profile behind mixture/budget decisions
    Entry("q97_quantile_table", (s, d) =>
      operators.Profile.quantileTable(
          t(s, d, "documents")
            .select(col("source"),
              functions.TextFns.bpeishTokenCount(col("text"))
                .cast("double").as("n_tok")),
          "n_tok", "source", qs = Seq(0.1, 0.5, 0.9))
        .select(col("source"), col("q"), Rounding.pround(col("value"), 4).as("value")),
      // exact interpolated quantiles (q41's verified primitive) per
      // source, unnested to one row per (source, q)
      Some(
        s"""WITH tok AS (
           |  SELECT source,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS DOUBLE) AS n_tok
           |  FROM documents),
           |qt AS (
           |  SELECT source, quantile_cont(n_tok, [0.1, 0.5, 0.9]) AS p
           |  FROM tok GROUP BY source)
           |SELECT source, unnest([0.1, 0.5, 0.9]) AS q,
           |  ${pround("unnest(p)", 4)} AS value
           |FROM qt""".stripMargin)),

    // robust per-type outlier audit on event values: modified z-score
    // against median/MAD (q86's verified primitives), z = 2 sigma
    Entry("q96_robust_outliers", (s, d) =>
      operators.Profile.robustOutliers(
        t(s, d, "events"), "value", "event_type", z = 2.0),
      // modified z-score |v - med| / (1.4826 * mad) > 2; zero-MAD
      // groups report no outliers (score undefined)
      Some(
        """WITH m AS (
          |  SELECT event_type, quantile_cont(value, 0.5) AS med
          |  FROM events GROUP BY event_type),
          |d AS (
          |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
          |  FROM events e JOIN m USING (event_type) GROUP BY e.event_type)
          |SELECT e.event_type, count(*) AS n,
          |  CAST(sum(CASE WHEN d.mad > 0
          |    AND abs(e.value - m.med) / (1.4826 * d.mad) > 2.0
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          |FROM events e JOIN m USING (event_type) JOIN d USING (event_type)
          |GROUP BY e.event_type""".stripMargin)),

    // per-type winsorization report: clamp counts and the tamed mean
    // (decimal-summed so the hash is order-independent)
    Entry("q107_winsorize", (s, d) =>
      operators.Profile.winsorize(
          t(s, d, "events"), "value", "event_type", loQ = 0.05, hiQ = 0.95)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__clamped") === -1, 1L).otherwise(0L)).as("n_low"),
          sum(when(col("__clamped") === 1, 1L).otherwise(0L)).as("n_high"),
          Rounding.pround(sum(col("value_w").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 4).as("mean_w")),
      // exact percentile bounds, clamp, decimal-summed mean.
      // The bounds mirror Spark's Percentile ARITHMETIC, not just its
      // R-7 convention: when both neighbor ranks land in one tie run
      // Spark short-circuits to the stored value, while quantile_cont
      // computes v·(1−f)+v·f which can round ONE ULP off it — and a
      // cutoff used in a strict < flips the whole run (50 rows at
      // sf1.0, where every value exists ×10; caught by the scale
      // ratchet, invisible at SFs whose cutoffs miss tie runs). The
      // explicit (ceil−pos)·lo + (pos−floor)·hi form below is
      // Spark's exact expression tree, so the doubles agree bitwise.
      Some(
        s"""WITH r AS (
           |  SELECT event_type, value,
           |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS n
           |  FROM events WHERE value IS NOT NULL),
           |b AS (
           |  SELECT event_type,
           |    CASE WHEN min(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE)*0.05) AS BIGINT)+1 THEN value END)
           |            = min(CASE WHEN rn = CAST(ceiling(CAST(n-1 AS DOUBLE)*0.05) AS BIGINT)+1 THEN value END)
           |      THEN min(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE)*0.05) AS BIGINT)+1 THEN value END)
           |      ELSE (ceiling(CAST(n-1 AS DOUBLE)*0.05) - CAST(n-1 AS DOUBLE)*0.05)
           |             * min(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE)*0.05) AS BIGINT)+1 THEN value END)
           |           + (CAST(n-1 AS DOUBLE)*0.05 - floor(CAST(n-1 AS DOUBLE)*0.05))
           |             * min(CASE WHEN rn = CAST(ceiling(CAST(n-1 AS DOUBLE)*0.05) AS BIGINT)+1 THEN value END)
           |      END AS lo,
           |    CASE WHEN min(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE)*0.95) AS BIGINT)+1 THEN value END)
           |            = min(CASE WHEN rn = CAST(ceiling(CAST(n-1 AS DOUBLE)*0.95) AS BIGINT)+1 THEN value END)
           |      THEN min(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE)*0.95) AS BIGINT)+1 THEN value END)
           |      ELSE (ceiling(CAST(n-1 AS DOUBLE)*0.95) - CAST(n-1 AS DOUBLE)*0.95)
           |             * min(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE)*0.95) AS BIGINT)+1 THEN value END)
           |           + (CAST(n-1 AS DOUBLE)*0.95 - floor(CAST(n-1 AS DOUBLE)*0.95))
           |             * min(CASE WHEN rn = CAST(ceiling(CAST(n-1 AS DOUBLE)*0.95) AS BIGINT)+1 THEN value END)
           |      END AS hi
           |  FROM r GROUP BY event_type, n),
           |w AS (
           |  SELECT e.event_type, e.value, least(greatest(e.value, b.lo), b.hi) AS vw,
           |    CASE WHEN e.value < b.lo THEN -1 WHEN e.value > b.hi THEN 1 ELSE 0 END AS c
           |  FROM events e JOIN b USING (event_type))
           |SELECT event_type, count(*) AS n,
           |  CAST(sum(CASE WHEN c = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           |  ${pround("CAST(sum(CAST(vw AS DECIMAL(18,6))) AS DOUBLE) / count(*)", 4)} AS mean_w
           |FROM w GROUP BY event_type""".stripMargin)),

    // hot-key audit before the customer join: Gini of orders-per-
    // customer fan-in per priority class, windowless counts-of-counts
    Entry("q173_key_skew", (s, d) =>
      operators.Profile.keySkew(
        t(s, d, "orders"), "o_custkey", "o_orderpriority"),
      // counts-of-counts Gini: rank-weighted sum T from the histogram
      // cumulative; f(f+1) is even so the integer halving is exact
      Some(
        """WITH kc AS (
          |  SELECT o_orderpriority AS grp, o_custkey,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM orders GROUP BY 1, 2),
          |h AS (SELECT grp, c, CAST(count(*) AS BIGINT) AS f
          |      FROM kc GROUP BY 1, 2),
          |cu AS (
          |  SELECT a.grp, a.c, a.f,
          |    COALESCE(CAST(sum(b.f) AS BIGINT), 0) AS cum
          |  FROM h a LEFT JOIN h b ON b.grp = a.grp AND b.c < a.c
          |  GROUP BY 1, 2, 3),
          |g AS (
          |  SELECT grp, CAST(sum(f) AS BIGINT) AS n_keys,
          |    CAST(sum(c * f) AS BIGINT) AS n_rows,
          |    CAST(max(c) AS BIGINT) AS max_per_key,
          |    CAST(sum(c * (f * cum + f * (f + 1) // 2)) AS BIGINT) AS t
          |  FROM cu GROUP BY 1)
          |SELECT grp AS o_orderpriority, n_keys, n_rows, max_per_key,
          |  CAST(floor(CAST(2 * t - (n_keys + 1) * n_rows AS DOUBLE) * 10000.0
          |    / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))) AS BIGINT) AS gini_bp
          |FROM g""".stripMargin)),

    // layout planner: exact range-partition boundaries (the
    // repartitionByRange / SORTED-BY table a writer needs) at octile
    // cuts of the fact key — quantile_cont parity through the SAME R-7
    // positions + interpolation as percentile(). Round 15: computed by
    // the pruned exact-quantile machinery instead of `percentile()`,
    // whose single aggregate buffers every value of the table in one
    // OpenHashMap per partition and merges them — exact but
    // memory-bound, the one aggregate in the suite that could not
    // survive a 10^11-row fact table. exactQuantiles scans once into
    // bounded buckets, prunes to the ≤ 2·7 rank-owning buckets, and
    // refines; 12.2 → 2.1 s at sf1.0, identical hashes (the octile
    // fracs are dyadic, so both interpolations are exact).
    Entry("q194_range_boundaries", (s, d) => {
      val qs = (1 to 7).map(_ / 8.0)
      operators.Metrics.exactQuantiles(t(s, d, "lineitem"), "l_orderkey",
          qs, bucketWidth = 65536.0)
        .select((col("q") * 8).cast("long").as("bucket"),
          col("value").as("boundary"))
    },
      // quantile_cont parity at octile cuts
      Some(
        s"""WITH q AS (
           |  SELECT quantile_cont(l_orderkey, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS b
           |  FROM lineitem)
           |SELECT CAST(i AS BIGINT) AS bucket,
           |  ${pround("b[i]", 4)} AS boundary
           |FROM q, unnest(range(1, 8)) AS t(i)""".stripMargin)),

    // binless drift: exact two-sample KS per source vs the corpus —
    // the max CDF gap found entirely in BIGINT cross-multiplication
    Entry("q183_ks_drift", (s, d) =>
      operators.Profile.ksByGroup(
        t(s, d, "documents").select(col("source"),
          TextFns.bpeishTokenCount(col("text")).as("__tok")),
        "__tok", "source")
        .withColumnRenamed("grp", "source"),
      // cumulatives over the bounded value histogram (the oracle may
      // window them); gap maximized in BIGINT cross-multiplication
      Some(
        """WITH tok AS (
          |  SELECT source,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS v
          |  FROM documents),
          |gb AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
          |       FROM tok GROUP BY 1, 2),
          |b AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM tok GROUP BY 1),
          |bcum AS (SELECT v, CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb FROM b),
          |gt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tok),
          |grid AS (SELECT gt.source, gt.n, bc.v, bc.cumb, nn.nn
          |         FROM gt CROSS JOIN bcum bc CROSS JOIN nn),
          |gc AS (
          |  SELECT g.source, g.n, g.v, g.cumb, g.nn,
          |    COALESCE(CAST(sum(gb.c) AS BIGINT), 0) AS cumg
          |  FROM grid g LEFT JOIN gb
          |    ON gb.source = g.source AND gb.v <= g.v
          |  GROUP BY 1, 2, 3, 4, 5),
          |m AS (
          |  SELECT source, max(n) AS n_rows, max(nn) AS nn,
          |    max(abs(cumg * nn - cumb * n)) AS mg
          |  FROM gc GROUP BY 1)
          |SELECT source, n_rows,
          |  CAST(floor(CAST(mg AS DOUBLE) * 10000.0
          |    / (CAST(n_rows AS DOUBLE) * CAST(nn AS DOUBLE))) AS BIGINT) AS ks_bp
          |FROM m""".stripMargin)),

    // purity card: conditional language entropy per source — exact
    // integer count ratios, pround6 contributions, DECIMAL sum
    Entry("q184_lang_purity", (s, d) =>
      operators.Profile.labelEntropy(t(s, d, "documents"), "lang", "source")
        .withColumnRenamed("grp", "source"),
      // (c/n)·log10(n/c) from exact integer ratios, pround6 per
      // contribution, DECIMAL-exact sum (the q146 discipline)
      Some(
        s"""WITH cl AS (
           |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
           |  FROM documents GROUP BY 1, 2),
           |gt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
           |         CAST(count(*) AS BIGINT) AS nl
           |       FROM cl GROUP BY 1),
           |x AS (
           |  SELECT cl.source, gt.n, gt.nl,
           |    CAST(${pround(
                 "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * log10(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))",
                 6)} AS DECIMAL(18,6)) AS h
           |  FROM cl JOIN gt ON gt.source = cl.source)
           |SELECT source, max(n) AS n_rows, max(nl) AS n_labels,
           |  CAST(sum(h) AS DOUBLE) AS h_label
           |FROM x GROUP BY 1""".stripMargin)),

    // mixture-design diagnostic: pairwise Jensen–Shannon divergence
    // between source unigram distributions, in bits — near-0 pairs are
    // duplicate voices whose q93 mixture weights compete; pround6
    // contributions, DECIMAL-exact sum (the q146 discipline)
    Entry("q224_source_divergence", (s, d) =>
      operators.Profile.jsDivergence(t(s, d, "documents"), "text", "source")
        .withColumn("js_bits", Rounding.pround(col("js_bits"), 4)),
      // identical contribution formula and operand order; per-pair
      // term grid = union of either side's terms
      Some(
        s"""WITH c AS (
           |  SELECT src, term, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT source AS src, unnest($toksSql) AS term FROM documents)
           |  GROUP BY 1, 2),
           |t AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
           |p AS (
           |  SELECT a.src AS src_a, b.src AS src_b, a.n AS na, b.n AS nb
           |  FROM t a JOIN t b ON a.src < b.src),
           |u AS (
           |  SELECT p.src_a, p.src_b, c.term FROM p JOIN c ON c.src = p.src_a
           |  UNION
           |  SELECT p.src_a, p.src_b, c.term FROM p JOIN c ON c.src = p.src_b),
           |g AS (
           |  SELECT u.src_a, u.src_b, u.term,
           |    CAST(COALESCE(ca.c, 0) AS DOUBLE) AS ca,
           |    CAST(COALESCE(cb.c, 0) AS DOUBLE) AS cb,
           |    CAST(p.na AS DOUBLE) AS na, CAST(p.nb AS DOUBLE) AS nb
           |  FROM u
           |  JOIN p ON p.src_a = u.src_a AND p.src_b = u.src_b
           |  LEFT JOIN c ca ON ca.src = u.src_a AND ca.term = u.term
           |  LEFT JOIN c cb ON cb.src = u.src_b AND cb.term = u.term),
           |j AS (
           |  SELECT src_a, src_b,
           |    CAST(floor((
           |      CASE WHEN ca > 0 THEN 0.5 * (ca / na)
           |        * log2(2.0 * ca * nb / (ca * nb + cb * na)) ELSE 0.0 END +
           |      CASE WHEN cb > 0 THEN 0.5 * (cb / nb)
           |        * log2(2.0 * cb * na / (ca * nb + cb * na)) ELSE 0.0 END
           |      ) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS jc
           |  FROM g)
           |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_terms,
           |  ${pround("CAST(sum(jc) AS DOUBLE)", 4)} AS js_bits
           |FROM j GROUP BY 1, 2""".stripMargin)),

    // offline CUSUM change-point per event type: the day where the
    // observed prefix deviates most from the uniform-rate line —
    // |D·P_k − k·T| kept exact BIGINT by cross-multiplication, tie to
    // the earliest day
    Entry("q239_cusum_changepoint", (s, d) =>
      operators.Profile.cusumChangePoint(
        t(s, d, "events")
          .select(col("event_type"), to_date(col("ts")).as("day")),
        "event_type", "day")
        .select(col("grp").as("event_type"),
          col("change_day").cast("string").as("change_day"),
          col("cusum"), col("n_days"), col("n_total")),
      // the integer cross-multiplied CUSUM: |D*prefix - k*total| per
      // day, argmax with earliest-day tie-break via QUALIFY
      Some(
        """WITH daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2),
          |tot AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
          |    CAST(sum(n) AS BIGINT) AS nt
          |  FROM daily GROUP BY 1),
          |s AS (
          |  SELECT d.event_type, d.day, t.nd AS n_days, t.nt AS n_total,
          |    abs(t.nd * sum(d.n) OVER (PARTITION BY d.event_type
          |        ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      - (row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)) * t.nt)
          |      AS cusum
          |  FROM daily d JOIN tot t USING (event_type))
          |SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
          |  CAST(cusum AS BIGINT) AS cusum, n_days, n_total
          |FROM s
          |QUALIFY row_number() OVER (PARTITION BY event_type
          |  ORDER BY cusum DESC, day) = 1""".stripMargin)),

    // exact AUC (Mann–Whitney with midrank ties): does the event value
    // separate purchases from the rest? Bucketed global prefix of
    // per-distinct-score negative counts — no single-partition window;
    // U accumulates as DECIMAL(38,0)
    Entry("q248_rank_auc", (s, d) =>
      operators.Metrics.rankAuc(
        t(s, d, "events").withColumn("is_purchase",
          (col("event_type") === "purchase").cast("long")),
        "value", "is_purchase", bucketWidth = 16.0),
      // per-distinct-score class counts, global prefix of negatives
      // (plain window on DuckDB's single node), DECIMAL(38,0) U, one
      // fixed-order double division + pround6
      Some(
        """WITH e AS (
          |  SELECT value AS s,
          |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
          |  FROM events WHERE value IS NOT NULL),
          |ps AS (
          |  SELECT s, CAST(sum(p) AS BIGINT) AS np,
          |    CAST(count(*) - sum(p) AS BIGINT) AS nn
          |  FROM e GROUP BY 1),
          |pre AS (
          |  SELECT s, np, nn,
          |    CAST(coalesce(sum(nn) OVER (ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS below
          |  FROM ps),
          |tot AS (
          |  SELECT CAST(sum(np) AS BIGINT) AS npt,
          |    CAST(sum(nn) AS BIGINT) AS nnt
          |  FROM ps),
          |u AS (
          |  SELECT sum(CAST(CAST(np AS DECIMAL(19,0)) * (2 * below + nn)
          |    AS DECIMAL(38,0))) AS u2
          |  FROM pre)
          |SELECT npt AS n_pos, nnt AS n_neg,
          |  floor(CAST(u2 AS DOUBLE) / (2.0 * npt * nnt) * 1000000 + 0.5)
          |    / 1000000 AS auc
          |FROM u, tot""".stripMargin)),

    // decile gains/lift: documents ranked desc by n_chars (doc_id
    // tie-break), 10 equal-rank tiles, per-tile concentration of
    // English docs — exact bp rates, one fixed-order double lift
    Entry("q249_gains_table", (s, d) =>
      operators.Metrics.gainsTable(
        t(s, d, "documents").withColumn("is_en",
          (col("lang") === "en").cast("long")),
        "n_chars", "doc_id", "is_en", tiles = 10, bucketWidth = 16.0),
      // rank = row_number over (score desc, id) on the single node;
      // tile = floor(rank*tiles/n); exact bp + one fixed-order lift
      Some(
        """WITH d AS (
          |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s,
          |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, s, p,
          |    CAST(row_number() OVER (ORDER BY s DESC, doc_id) - 1
          |      AS BIGINT) AS rk
          |  FROM d),
          |tot AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(p) AS BIGINT) AS np
          |  FROM d),
          |g AS (
          |  SELECT CAST(rk * 10 // n AS BIGINT) AS tile,
          |    CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(sum(p) AS BIGINT) AS n_pos
          |  FROM r, tot GROUP BY 1)
          |SELECT tile, n_rows, n_pos,
          |  CAST(n_pos * 10000 // n_rows AS BIGINT) AS pos_rate_bp,
          |  floor((CAST(n_pos AS DOUBLE) * n) / (CAST(n_rows AS DOUBLE) * np)
          |    * 1000000 + 0.5) / 1000000 AS lift
          |FROM g, tot""".stripMargin)),

    // calibration/reliability bins of event value vs purchase rate:
    // one hash aggregate, DECIMAL-exact bin means, floor-division bp
    Entry("q250_calibration_bins", (s, d) =>
      operators.Metrics.calibrationBins(
        t(s, d, "events").withColumn("is_purchase",
          (col("event_type") === "purchase").cast("long")),
        "value", "is_purchase", binWidth = 50.0),
      // fixed-width score bins; DECIMAL(18,6) bin sums, one division +
      // pround6, floor-division bp
      Some(
        """WITH e AS (
          |  SELECT value AS s,
          |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
          |  FROM events WHERE value IS NOT NULL),
          |b AS (
          |  SELECT CAST(floor(s / 50.0) AS BIGINT) AS bin,
          |    CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(sum(p) AS BIGINT) AS n_pos,
          |    sum(CAST(s AS DECIMAL(18,6))) AS ss
          |  FROM e GROUP BY 1)
          |SELECT bin, CAST(bin AS DOUBLE) * 50.0 AS bin_lo, n_rows, n_pos,
          |  floor(CAST(ss AS DOUBLE) / CAST(n_rows AS DOUBLE) * 1000000 + 0.5)
          |    / 1000000 AS mean_score,
          |  CAST(n_pos * 10000 // n_rows AS BIGINT) AS pos_rate_bp
          |FROM b""".stripMargin)),

    // Pearson chi-square independence of language vs source: the
    // contingency grid with per-cell (o-e)^2/e contributions (pround6
    // + DECIMAL sum) and the total statistic + dof on every row
    Entry("q252_chi_square", (s, d) =>
      operators.Profile.chiSquare(t(s, d, "documents"), "lang", "source"),
      // observed cells + marginals; e and (o-e)^2/e in ONE fixed double
      // order each, pround6 -> DECIMAL(18,6) sum for the statistic
      Some(
        """WITH c AS (
          |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_obs
          |  FROM documents GROUP BY 1, 2),
          |ra AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS r
          |       FROM c GROUP BY 1),
          |cb AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS cc
          |       FROM c GROUP BY 1),
          |t AS (
          |  SELECT CAST(sum(n_obs) AS BIGINT) AS n,
          |    CAST(count(DISTINCT lang) AS BIGINT) AS da,
          |    CAST(count(DISTINCT source) AS BIGINT) AS db
          |  FROM c),
          |e AS (
          |  SELECT c.lang, c.source, c.n_obs,
          |    (CAST(r AS DOUBLE) * CAST(cc AS DOUBLE)) / CAST(n AS DOUBLE)
          |      AS ex, da, db
          |  FROM c JOIN ra USING (lang) JOIN cb USING (source), t),
          |k AS (
          |  SELECT lang, source, n_obs, ex, da, db,
          |    CAST(floor(((CAST(n_obs AS DOUBLE) - ex) *
          |      (CAST(n_obs AS DOUBLE) - ex)) / ex * 1000000 + 0.5)
          |      / 1000000 AS DECIMAL(18,6)) AS c6
          |  FROM e),
          |tt AS (SELECT sum(c6) AS chi2 FROM k)
          |SELECT lang, source, n_obs,
          |  floor(ex * 1000000 + 0.5) / 1000000 AS expected,
          |  CAST(c6 AS DOUBLE) AS contrib, CAST(chi2 AS DOUBLE) AS chi2,
          |  CAST((da - 1) * (db - 1) AS BIGINT) AS dof
          |FROM k, tt""".stripMargin)),

    // mutual information (nats) between language and source with both
    // marginal entropies — dependence STRENGTH next to q252's test
    Entry("q253_mutual_info", (s, d) =>
      operators.Profile.mutualInfo(t(s, d, "documents"), "lang", "source"),
      // per-cell (o/n)*ln(o*n/(ra*cb)) and marginal -(r/n)*ln(r/n)
      // contributions, pround6 -> DECIMAL(18,6) sums
      Some(
        """WITH c AS (
          |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_obs
          |  FROM documents GROUP BY 1, 2),
          |ra AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS r
          |       FROM c GROUP BY 1),
          |cb AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS cc
          |       FROM c GROUP BY 1),
          |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c),
          |mi AS (
          |  SELECT CAST(sum(CAST(floor(
          |      (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)) *
          |      ln((CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE)) /
          |         (CAST(r AS DOUBLE) * CAST(cc AS DOUBLE)))
          |      * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
          |      AS DOUBLE) AS mi_nats,
          |    CAST(count(*) AS BIGINT) AS n_cells
          |  FROM c JOIN ra USING (lang) JOIN cb USING (source), t),
          |ha AS (
          |  SELECT CAST(sum(CAST(floor(
          |      -(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
          |      ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
          |      * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
          |      AS DOUBLE) AS h_a
          |  FROM ra, t),
          |hb AS (
          |  SELECT CAST(sum(CAST(floor(
          |      -(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)) *
          |      ln(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))
          |      * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
          |      AS DOUBLE) AS h_b
          |  FROM cb, t)
          |SELECT n AS n_rows, n_cells, mi_nats, h_a, h_b
          |FROM mi, ha, hb, t""".stripMargin)),

    // order-to-ship lead-time SLA: exact p50/p90/p99 of shipping days
    // through the bucketed-rank quantile path on a join output
    // Round 15: the value domain is INTEGER days spanning ~a year, so
    // the join output reduces to a (value, count) table of a few
    // hundred rows in ONE pass — exactQuantiles would re-execute the
    // lineitem⋈orders join on every pass (counts + refinement + rank:
    // 3 executions; its snapshot contract re-reads the input).
    // quantilesFromCounts shares the R-7 positions + interpolation, so
    // the output is bit-identical; the checkpoint bounds the reduced
    // table (≤ |day vocabulary| rows), never the join.
    Entry("q277_lead_time", (s, d) =>
      operators.Metrics.quantilesFromCounts(
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
          .join(t(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          // lineitem/orders dates read as TIMESTAMP_NTZ; the session
          // is UTC so the cast is a no-op relabeling for unix_micros
          .select((expr("unix_micros(cast(l_shipdate as timestamp)) " +
            "div 86400000000") -
            expr("unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000")).as("lead_days"))
          .groupBy(col("lead_days"))
          .agg(count(lit(1)).cast("long").as("__c"))
          .localCheckpoint(true),
        "lead_days", "__c", Seq(0.5, 0.9, 0.99), bucketWidth = 8.0),
      // quantile_cont over the joined lead-day multiset (R-7 parity)
      Some(
        s"""WITH ld AS (
           |  SELECT epoch_us(l.l_shipdate) // 86400000000 -
           |    epoch_us(o.o_orderdate) // 86400000000 AS lead_days
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
           |SELECT 0.5 AS q, CAST(count(*) AS BIGINT) AS n,
           |  ${pround("quantile_cont(lead_days, 0.5)", 4)} AS value
           |FROM ld
           |UNION ALL SELECT 0.9, CAST(count(*) AS BIGINT),
           |  ${pround("quantile_cont(lead_days, 0.9)", 4)} FROM ld
           |UNION ALL SELECT 0.99, CAST(count(*) AS BIGINT),
           |  ${pround("quantile_cont(lead_days, 0.99)", 4)} FROM ld"""
        .stripMargin)),

    // revenue concentration card: share of total order value held by
    // the top 1% / 5% / 10% of customers — the Lorenz/whale view,
    // cent-scaled BIGINT shares over the bucketed desc rank
    Entry("q278_revenue_whales", (s, d) =>
      operators.Pareto.topShares(t(s, d, "orders"),
        "o_custkey", "o_totalprice", pctsBp = Seq(100L, 500L, 1000L)),
      // same (value desc, key) rank, ceil(n*p/1e4) cuts, cent-scaled
      // BIGINT shares
      Some(
        """WITH pk AS (
          |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |    AS v
          |  FROM orders GROUP BY 1),
          |t AS (SELECT CAST(sum(v) * 100 AS BIGINT) AS totc,
          |      CAST(count(*) AS BIGINT) AS n FROM pk),
          |r AS (SELECT v, CAST(row_number() OVER (
          |        ORDER BY v DESC, o_custkey) - 1 AS BIGINT) AS rk
          |      FROM pk)
          |SELECT CAST(p.p AS BIGINT) AS pct_bp,
          |  CAST((n * p.p + 9999) // 10000 AS BIGINT) AS n_top,
          |  CAST(CAST((SELECT sum(v) FROM r
          |      WHERE rk < (n * p.p + 9999) // 10000) * 100 AS BIGINT)
          |    * 10000 // totc AS BIGINT) AS share_bp
          |FROM (SELECT unnest([100, 500, 1000]) AS p) p, t""".stripMargin)),

    // Herfindahl market concentration per supplier nation — exact
    // DECIMAL(38,0) share-square arithmetic, 0–10000 points
    Entry("q279_market_hhi", (s, d) =>
      operators.Profile.hhi(
        t(s, d, "lineitem")
          .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name"),
            col("s_suppkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("rev")),
        "n_name", "s_suppkey", "rev"),
      Some(
        """WITH pf AS (
          |  SELECT n_name AS market, s_suppkey,
          |    sum(CAST(l_extendedprice * (1.0 - l_discount)
          |      AS DECIMAL(18,4))) AS v
          |  FROM lineitem
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  GROUP BY 1, 2)
          |SELECT market, CAST(count(*) AS BIGINT) AS n_firms,
          |  CAST(sum(CAST(v * 10000 AS HUGEINT)
          |      * CAST(v * 10000 AS HUGEINT)) * 10000
          |    // (sum(CAST(v * 10000 AS HUGEINT))
          |      * sum(CAST(v * 10000 AS HUGEINT))) AS BIGINT) AS hhi
          |FROM pf GROUP BY 1 HAVING sum(v) > 0""".stripMargin)),

    // supplier return-rate leaderboard by Wilson lower bound — the
    // small-n-aware worst-offender ranking
    Entry("q281_wilson_returns", (s, d) =>
      operators.Metrics.wilsonLowerBound(
        t(s, d, "lineitem")
          .select(col("l_suppkey").as("supp_key"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L)
              .as("returned")),
        "supp_key", "returned", minN = 20L),
      Some(
        """WITH a AS (
          |  SELECT l_suppkey AS supp_key,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS k
          |  FROM lineitem GROUP BY 1)
          |SELECT supp_key, n, k,
          |  CAST(CAST(k AS HUGEINT) * 10000 // n AS BIGINT) AS rate_bp,
          |  floor(((CAST(k AS DOUBLE) / n
          |    + CAST(1.959964 AS DOUBLE) * CAST(1.959964 AS DOUBLE)
          |      / (2.0 * n)
          |    - CAST(1.959964 AS DOUBLE) * sqrt(greatest(0.0,
          |        (CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n)
          |         + CAST(1.959964 AS DOUBLE) * CAST(1.959964 AS DOUBLE)
          |           / (4.0 * n)) / n)))
          |   / (1.0 + CAST(1.959964 AS DOUBLE) * CAST(1.959964 AS DOUBLE)
          |     / n)) * 1e6 + 0.5) / 1e6
          |    AS wilson_lb
          |FROM a WHERE n >= 20""".stripMargin)),

    // credit-scoring feature screen: weight-of-evidence / information
    // value of the quantity bin against the returned label
    Entry("q283_woe_iv", (s, d) =>
      operators.Metrics.woeIv(
        t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("qty_bin"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L)
              .as("returned")),
        "qty_bin", "returned")
        .select(col("bin"), col("n_pos"), col("n_neg"),
          Rounding.pround(col("woe"), 6).as("woe"),
          Rounding.pround(col("iv_contrib"), 6).as("iv_contrib")),
      Some(
        """WITH c AS (
          |  SELECT CAST(l_quantity AS BIGINT) AS bin,
          |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_pos,
          |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
          |      AS BIGINT) AS n_neg
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
          |      CAST(sum(n_neg) AS BIGINT) AS tn FROM c)
          |SELECT bin, n_pos, n_neg,
          |  floor(ln(CAST(n_neg AS DOUBLE) * tp
          |      / (CAST(n_pos AS DOUBLE) * tn)) * 1e6 + 0.5) / 1e6 AS woe,
          |  floor((CAST(n_neg AS DOUBLE) / tn - CAST(n_pos AS DOUBLE) / tp)
          |    * ln(CAST(n_neg AS DOUBLE) * tp
          |      / (CAST(n_pos AS DOUBLE) * tn)) * 1e6 + 0.5) / 1e6
          |    AS iv_contrib
          |FROM c, t WHERE n_pos > 0 AND n_neg > 0""".stripMargin)),

    // revenue-inequality card: exact per-nation Gini over customer
    // spend (zero-order customers included via the left join) — the
    // bucketed-rank Σ r·x form, BIGINT-bp output
    Entry("q285_gini", (s, d) =>
      operators.Pareto.gini(
        t(s, d, "customer")
          .join(t(s, d, "orders"),
            col("c_custkey") === col("o_custkey"), "left"),
        "c_nationkey", "c_custkey", "o_totalprice"),
      // rank order within ties is arbitrary on both engines, but
      // sum(rank * value) is tie-permutation-invariant; HUGEINT
      // mirrors Spark's DECIMAL(38,0) and // mirrors DIV (numerator
      // >= 0 by Chebyshev's sum inequality)
      Some(
        """WITH pk AS (
          |  SELECT c.c_nationkey AS g, c.c_custkey AS k,
          |    CAST(COALESCE(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
          |      * 100 AS BIGINT) AS cts
          |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          |  GROUP BY 1, 2),
          |r AS (
          |  SELECT g, cts, CAST(row_number() OVER (
          |    PARTITION BY g ORDER BY cts) AS HUGEINT) AS rr
          |  FROM pk),
          |a AS (
          |  SELECT g, CAST(count(*) AS BIGINT) AS n_keys,
          |    CAST(sum(cts) AS HUGEINT) AS s,
          |    CAST(sum(rr * cts) AS HUGEINT) AS srx
          |  FROM r GROUP BY 1)
          |SELECT g AS c_nationkey, n_keys,
          |  CAST((20000 * srx - 10000 * (CAST(n_keys AS HUGEINT) + 1) * s)
          |    // (CAST(n_keys AS HUGEINT) * s) AS BIGINT) AS gini_bp
          |FROM a WHERE s > 0""".stripMargin)),

    // A/B card: pooled two-proportion z per ship year (arms = line
    // number parity — a null experiment, so significance should be
    // rare), significance decided by exact cross-multiplied integers
    Entry("q287_ab_test", (s, d) =>
      operators.Metrics.twoProportionZ(
        t(s, d, "lineitem").select(
          year(to_date(col("l_shipdate"))).cast("long").as("ship_year"),
          (col("l_linenumber") % 2).cast("long").as("arm"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret")),
        "ship_year", "arm", "ret"),
      Some(
        s"""WITH c AS (
           |  SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT)
           |      AS ship_year,
           |    CAST(sum(CASE WHEN l_linenumber % 2 = 0
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(sum(CASE WHEN l_linenumber % 2 = 0
           |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
           |    CAST(sum(CASE WHEN l_linenumber % 2 = 1
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           |    CAST(sum(CASE WHEN l_linenumber % 2 = 1
           |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k_b
           |  FROM lineitem GROUP BY 1)
           |SELECT ship_year, n_a, k_a, n_b, k_b,
           |  ${pround("CASE WHEN (k_a + k_b) = 0 OR (k_a + k_b) = (n_a + n_b) THEN 0.0 ELSE CAST(k_b * n_a - k_a * n_b AS DOUBLE) * sqrt(CAST(n_a + n_b AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(k_a + k_b AS DOUBLE) * CAST((n_a + n_b) - (k_a + k_b) AS DOUBLE))) END", 6)} AS z,
           |  NOT ((k_a + k_b) = 0 OR (k_a + k_b) = (n_a + n_b))
           |    AND 625 * CAST(k_b * n_a - k_a * n_b AS HUGEINT)
           |          * CAST(k_b * n_a - k_a * n_b AS HUGEINT)
           |          * (n_a + n_b)
           |      > 2401 * CAST(n_a AS HUGEINT) * n_b * (k_a + k_b)
           |          * ((n_a + n_b) - (k_a + k_b)) AS significant
           |FROM c WHERE n_a > 0 AND n_b > 0""".stripMargin)),

    // burstiness screen: Fano factor of per-customer order arrivals
    // over 30-day periods, zero periods included via the global M —
    // 10^4 = Poisson-like, above = clumped ("bursty buyers")
    Entry("q288_dispersion", (s, d) =>
      operators.Profile.dispersionIndex(
        t(s, d, "orders").select(col("o_custkey"),
          expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT) DIV 30")
            .as("per")),
        "o_custkey", "per"),
      Some(
        """WITH per AS (
          |  SELECT o_custkey,
          |    CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(o_orderdate AS DATE)) AS BIGINT) // 30 AS p,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM orders GROUP BY 1, 2),
          |m AS (SELECT CAST(count(DISTINCT p) AS HUGEINT) AS m FROM per),
          |a AS (
          |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_periods,
          |    CAST(sum(c) AS HUGEINT) AS s,
          |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
          |  FROM per GROUP BY 1)
          |SELECT o_custkey, n_periods, CAST(s AS BIGINT) AS n_events,
          |  CAST((10000 * (m * q - s * s)) // (m * s) AS BIGINT) AS fano_bp
          |FROM a, m""".stripMargin)),

    // repeat-purchase velocity: days from first to second DISTINCT
    // order day per customer, read through the exact-quantile path
    Entry("q292_second_order_lag", (s, d) => {
      val ords = t(s, d, "orders").select(col("o_custkey").as("k"),
        to_date(col("o_orderdate")).as("od"))
      val f = ords.groupBy(col("k")).agg(min(col("od")).as("m1"))
      val second = ords.join(f, "k").filter(col("od") > col("m1"))
        .groupBy(col("k"))
        .agg(min(col("m1")).as("m1"), min(col("od")).as("m2"))
      operators.Metrics.exactQuantiles(
        second.select(datediff(col("m2"), col("m1")).cast("long")
          .as("lag")),
        "lag", Seq(0.5, 0.9, 0.99), bucketWidth = 16.0)
    },
      Some(
        s"""WITH f AS (
           |  SELECT o_custkey AS k, min(CAST(o_orderdate AS DATE)) AS m1
           |  FROM orders GROUP BY 1),
           |s2 AS (
           |  SELECT o.o_custkey AS k,
           |    min(CAST(o.o_orderdate AS DATE)) AS m2
           |  FROM orders o JOIN f ON f.k = o.o_custkey
           |    AND CAST(o.o_orderdate AS DATE) > f.m1
           |  GROUP BY 1),
           |lg AS (
           |  SELECT CAST(date_diff('day', f.m1, s2.m2) AS BIGINT) AS lag
           |  FROM s2 JOIN f ON f.k = s2.k)
           |SELECT 0.5 AS q, CAST(count(*) AS BIGINT) AS n,
           |  ${pround("quantile_cont(lag, 0.5)", 4)} AS value FROM lg
           |UNION ALL SELECT 0.9, CAST(count(*) AS BIGINT),
           |  ${pround("quantile_cont(lag, 0.9)", 4)} FROM lg
           |UNION ALL SELECT 0.99, CAST(count(*) AS BIGINT),
           |  ${pround("quantile_cont(lag, 0.99)", 4)} FROM lg""".stripMargin)),

    // exact global price quantiles WITHOUT a single-node sort or a
    // memory-bound percentile buffer: bucketed-rank order statistics,
    // R-7 interpolation — agrees with quantile_cont to the rounding
    Entry("q275_exact_quantiles", (s, d) =>
      operators.Metrics.exactQuantiles(t(s, d, "lineitem"),
        "l_extendedprice", Seq(0.5, 0.95, 0.99), bucketWidth = 4096.0),
      // quantile_cont shares the R-7 convention with the bucketed-rank
      // order statistics; pround4 absorbs interpolation ulps
      Some(
        s"""SELECT 0.5 AS q, CAST(count(*) AS BIGINT) AS n,
           |  ${pround("quantile_cont(l_extendedprice, 0.5)", 4)} AS value
           |FROM lineitem WHERE l_extendedprice IS NOT NULL
           |UNION ALL SELECT 0.95, CAST(count(*) AS BIGINT),
           |  ${pround("quantile_cont(l_extendedprice, 0.95)", 4)}
           |FROM lineitem WHERE l_extendedprice IS NOT NULL
           |UNION ALL SELECT 0.99, CAST(count(*) AS BIGINT),
           |  ${pround("quantile_cont(l_extendedprice, 0.99)", 4)}
           |FROM lineitem WHERE l_extendedprice IS NOT NULL""".stripMargin)),

    // ABC x XYZ inventory-policy matrix: q243's exact value ranking
    // crossed with monthly-demand variability (zero months counted via
    // the closed form sqrt(M*Sq2 - Sq^2)/Sq) — 9-cell policy grid
    Entry("q269_abc_xyz", (s, d) => {
      val li = t(s, d, "lineitem")
      val abc = operators.Pareto.abcClassification(li,
        "l_partkey", "l_extendedprice", bucketWidth = 65536.0)
      val xyz = operators.Pareto.xyzClassification(
        li.withColumn("__mon",
          year(col("l_shipdate")) * 12 + month(col("l_shipdate"))),
        "l_partkey", "__mon", "l_quantity")
      abc.join(xyz, "l_partkey")
        .groupBy(col("abc_class"), col("xyz_class"))
        .agg(count(lit(1)).cast("long").as("n_parts"),
          dsum(col("value")).as("total_value"))
    },
      // q243's exact ABC ranking crossed with the closed-form CV
      // (zero months counted through the global month count M)
      Some(
        """WITH pv AS (
          |  SELECT l_partkey,
          |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT CAST(sum(val) * 100 AS BIGINT) AS totc FROM pv),
          |abc AS (
          |  SELECT l_partkey, val,
          |    CASE WHEN cumc * 5 <= totc * 4 THEN 'A'
          |      WHEN cumc * 20 <= totc * 19 THEN 'B'
          |      ELSE 'C' END AS abc_class
          |  FROM (
          |    SELECT l_partkey, val,
          |      CAST(sum(val) OVER (ORDER BY val DESC, l_partkey
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
          |        AS BIGINT) AS cumc
          |    FROM pv), t),
          |per AS (
          |  SELECT l_partkey, year(l_shipdate) * 12 + month(l_shipdate)
          |      AS mon,
          |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
          |  FROM lineitem GROUP BY 1, 2),
          |m AS (SELECT CAST(count(DISTINCT mon) AS BIGINT) AS mm FROM per),
          |xyz AS (
          |  SELECT l_partkey,
          |    CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
          |      ELSE 'Z' END AS xyz_class
          |  FROM (
          |    SELECT l_partkey,
          |      sqrt(greatest(0.0, CAST(mm AS DOUBLE) * CAST(sqq AS DOUBLE)
          |        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))) /
          |        CAST(sq AS DOUBLE) AS cv
          |    FROM (
          |      SELECT l_partkey, sum(q) AS sq,
          |        sum(CAST(q * q AS DECIMAL(38,4))) AS sqq
          |      FROM per GROUP BY 1) s, m
          |    WHERE sq > 0))
          |SELECT abc.abc_class, xyz.xyz_class,
          |  CAST(count(*) AS BIGINT) AS n_parts,
          |  round(CAST(sum(CAST(round(CAST(abc.val AS DOUBLE), 2)
          |    AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
          |FROM abc JOIN xyz USING (l_partkey)
          |GROUP BY 1, 2""".stripMargin)),

    // ABC/Pareto classification of parts by total extended price:
    // global DESC-ordered running share via the bucketed driver-prefix
    // (no single-partition window), BIGINT-cent boundary cuts at
    // 80%/95% inclusive
    Entry("q243_abc_parts", (s, d) =>
      operators.Pareto.abcClassification(t(s, d, "lineitem"),
        "l_partkey", "l_extendedprice", bucketWidth = 65536.0)
        .withColumnRenamed("l_partkey", "partkey"),
      // plain global window on the oracle side (DuckDB's single node
      // is fine with it); DECIMAL cum, BIGINT-cent boundary compares
      Some(
        """WITH pv AS (
          |  SELECT l_partkey AS partkey,
          |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT CAST(sum(val) * 100 AS BIGINT) AS totc FROM pv),
          |c AS (
          |  SELECT partkey, val,
          |    CAST(sum(val) OVER (ORDER BY val DESC, partkey
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
          |      AS BIGINT) AS cumc
          |  FROM pv)
          |SELECT partkey, round(CAST(val AS DOUBLE), 2) AS value,
          |  CASE WHEN totc = 0 THEN 0
          |    ELSE CAST(cumc * 10000 // totc AS BIGINT) END AS share_bp,
          |  CASE WHEN cumc * 5 <= totc * 4 THEN 'A'
          |    WHEN cumc * 20 <= totc * 19 THEN 'B'
          |    ELSE 'C' END AS abc_class
          |FROM c, t""".stripMargin))
  )
}
