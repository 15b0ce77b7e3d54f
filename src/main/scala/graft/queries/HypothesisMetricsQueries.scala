package graft
package queries

import graft.functions.TextFns
import graft.operators.Dedup
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — hypothesis testing: metric, profile and text statistics. */
object HypothesisMetricsQueries {

  // q311_topk_drift's oracle, shared verbatim by q315_streaming_topk_drift
  // cent-exact revenue totals, (total desc, key asc) top-50 per
  // (flag, era), then pure set arithmetic — no doubles
  private[queries] lazy val q311Oracle: String =
        """WITH perkey AS (
          |  SELECT l_returnflag AS g,
          |    CASE WHEN year(l_shipdate) >= 1995 THEN 1 ELSE 0 END AS arm,
          |    l_partkey AS key,
          |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          |      AS DECIMAL(38,2)) AS tot
          |  FROM lineitem GROUP BY 1, 2, 3),
          |top AS (
          |  SELECT g, arm, key FROM perkey
          |  QUALIFY row_number() OVER (PARTITION BY g, arm
          |    ORDER BY tot DESC, key ASC) <= 50),
          |sizes AS (
          |  SELECT g,
          |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_top_a,
          |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_top_b
          |  FROM top GROUP BY 1),
          |com AS (
          |  SELECT a.g, CAST(count(*) AS BIGINT) AS n_common
          |  FROM (SELECT g, key FROM top WHERE arm = 0) a
          |  JOIN (SELECT g, key FROM top WHERE arm = 1) b
          |    ON a.g = b.g AND a.key = b.key
          |  GROUP BY 1)
          |SELECT s.g AS l_returnflag, n_top_a, n_top_b,
          |  COALESCE(n_common, 0) AS n_common,
          |  CAST(COALESCE(n_common, 0) * 1000000
          |    // (n_top_a + n_top_b - COALESCE(n_common, 0)) AS BIGINT)
          |    AS jaccard_ppm,
          |  n_top_b - COALESCE(n_common, 0) AS n_new
          |FROM sizes s LEFT JOIN com ON s.g = com.g
          |WHERE n_top_a + n_top_b > 0""".stripMargin

  lazy val entries: Seq[Entry] = Seq(
    // label-quality audit: does the stored language tag agree with
    // the recomputed marker-token language id beyond chance? Cohen's
    // kappa per source — numerator/denominator exact DECIMAL(38,0)
    // rationals in the confusion-cell counts, Landis–Koch strength
    // band by 5·A vs k·B cross-multiplication
    Entry("q303_cohens_kappa", (s, d) =>
      operators.Metrics.cohensKappa(
        t(s, d, "documents").select(col("source"),
          col("lang").as("lang_actual"),
          functions.TextFns.langId(col("text")).as("lang_pred")),
        "source", "lang_actual", "lang_pred"),
      // q30's marker-token prediction chain feeding the exact
      // rational kappa: A = n·agree − Σ ra·rb, B = n² − Σ ra·rb in
      // HUGEINT, the Landis–Koch band by 5·A vs k·B
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |m(lang, w) AS (VALUES $markerValues),
           |scores AS (
           |  SELECT t.doc_id, m.lang, count(*) AS sc
           |  FROM toks t JOIN m ON t.token = m.w GROUP BY t.doc_id, m.lang),
           |best AS (
           |  SELECT doc_id, lang FROM scores
           |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, lang ASC) = 1),
           |pred AS (
           |  SELECT d.source, d.lang AS a, COALESCE(b.lang, 'und') AS b
           |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
           |  WHERE d.source IS NOT NULL AND d.lang IS NOT NULL),
           |cells AS (
           |  SELECT source AS g, a, b, CAST(count(*) AS BIGINT) AS c
           |  FROM pred GROUP BY 1, 2, 3),
           |per AS (
           |  SELECT g, CAST(sum(c) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
           |      AS agree
           |  FROM cells GROUP BY 1),
           |ra AS (SELECT g, a AS l, CAST(sum(c) AS BIGINT) AS rra
           |  FROM cells GROUP BY 1, 2),
           |rb AS (SELECT g, b AS l, CAST(sum(c) AS BIGINT) AS rrb
           |  FROM cells GROUP BY 1, 2),
           |pe AS (
           |  SELECT ra.g, CAST(sum(CAST(rra AS HUGEINT) * rrb) AS HUGEINT)
           |    AS pev
           |  FROM ra JOIN rb ON ra.g = rb.g AND ra.l = rb.l GROUP BY 1),
           |j AS (
           |  SELECT per.g, n, agree,
           |    CAST(n AS HUGEINT) * agree - pev AS a2,
           |    CAST(n AS HUGEINT) * n - pev AS b2
           |  FROM per JOIN pe ON per.g = pe.g)
           |SELECT g AS source, n, agree,
           |  ${pround("CASE WHEN b2 = 0 THEN 0.0 ELSE CAST(a2 AS DOUBLE) / CAST(b2 AS DOUBLE) END", 6)} AS kappa,
           |  CASE WHEN b2 = 0 THEN 'degenerate'
           |    WHEN 5 * a2 <= 0 THEN 'poor'
           |    WHEN 5 * a2 <= 1 * b2 THEN 'slight'
           |    WHEN 5 * a2 <= 2 * b2 THEN 'fair'
           |    WHEN 5 * a2 <= 3 * b2 THEN 'moderate'
           |    WHEN 5 * a2 <= 4 * b2 THEN 'substantial'
           |    ELSE 'almost perfect' END AS strength
           |FROM j""".stripMargin)),

    // distribution drift in VALUE units: exact 1-D Wasserstein
    // between open and non-open line items' quantity distributions
    // per return flag — |cumA·n_b − cumB·n_a| exact, one fixed-order
    // double per grid step into a DECIMAL(18,6) sum
    Entry("q304_wasserstein", (s, d) =>
      operators.Profile.wasserstein1d(
        t(s, d, "lineitem").select(col("l_returnflag"),
          when(col("l_linestatus") === "O", 1L).otherwise(0L).as("arm"),
          col("l_quantity")),
        "l_returnflag", "arm", "l_quantity"),
      // discrete EMD closed form on the shared quantity grid; the
      // per-step term text mirrors the engine's one fixed double
      // order, summed as DECIMAL(18,6)
      Some(
        s"""WITH cells AS (
           |  SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v,
           |    CAST(sum(CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END)
           |      AS BIGINT) AS na,
           |    CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nb
           |  FROM lineitem GROUP BY 1, 2),
           |st AS (
           |  SELECT g, v, na, nb,
           |    CAST(sum(na) OVER (PARTITION BY g) AS BIGINT) AS ta,
           |    CAST(sum(nb) OVER (PARTITION BY g) AS BIGINT) AS tb,
           |    CAST(sum(na) OVER (PARTITION BY g ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cuma,
           |    CAST(sum(nb) OVER (PARTITION BY g ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cumb,
           |    lead(v) OVER (PARTITION BY g ORDER BY v) - v AS gap
           |  FROM cells)
           |SELECT g AS l_returnflag,
           |  CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
           |  CAST(CAST(sum(CAST(CASE WHEN gap IS NOT NULL AND ta > 0 AND tb > 0 THEN ${pround("CAST(abs(CAST(cuma AS HUGEINT) * tb - CAST(cumb AS HUGEINT) * ta) AS DOUBLE) / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) * gap", 6)} ELSE 0.0 END AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS emd
           |FROM st GROUP BY 1
           |HAVING max(ta) > 0 AND max(tb) > 0""".stripMargin)),

    // graded ranking quality: does event value rank the high-grade
    // events first? NDCG@10 per event type (grades = user-id mod 4,
    // a null model, so ndcg should sit near the random baseline);
    // 2^rel−1 exact BIGINT gains, discounts as SHARED double
    // literals (no engine log), WindowGroupLimit top-k shape
    Entry("q306_ndcg", (s, d) =>
      operators.Metrics.ndcgAtK(
        t(s, d, "events").select(col("event_type"), col("value"),
          col("event_id"), (col("user_id") % 4).as("rel")),
        "event_type", "value", "event_id", "rel", k = 10),
      // gains exact via << ; the per-position discounts are the SAME
      // literal strings the engine embeds (Metrics.dcgDiscounts), so
      // no engine log is ever compared against another engine's
      Some({
        val disc = "CASE rn " + operators.Metrics.dcgDiscounts(10)
          .zipWithIndex.map { case (dv, i) =>
            s"WHEN ${i + 1} THEN CAST($dv AS DOUBLE) "
          }.mkString + "END"
        val term = pround(
          s"CAST((CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1 AS DOUBLE) * ($disc)", 6)
        s"""WITH base AS (
           |  SELECT event_type AS q, value AS s, event_id AS id,
           |    CAST(user_id % 4 AS BIGINT) AS rel
           |  FROM events WHERE value IS NOT NULL),
           |sc AS (SELECT q, id, rel,
           |    row_number() OVER (PARTITION BY q ORDER BY s DESC, id ASC) AS rn
           |  FROM base),
           |idl AS (SELECT q, id, rel,
           |    row_number() OVER (PARTITION BY q ORDER BY rel DESC, id ASC) AS rn
           |  FROM base),
           |nq AS (SELECT q, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1),
           |dcg AS (
           |  SELECT q, CAST(sum(CAST($term AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS dcg
           |  FROM sc WHERE rn <= 10 GROUP BY 1),
           |idcg AS (
           |  SELECT q, CAST(sum(CAST($term AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS idcg
           |  FROM idl WHERE rn <= 10 GROUP BY 1)
           |SELECT nq.q AS event_type, n,
           |  CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
           |  ${pround("CASE WHEN idcg = 0 THEN 0.0 ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END", 6)} AS ndcg
           |FROM nq JOIN dcg ON nq.q = dcg.q JOIN idcg ON nq.q = idcg.q""".stripMargin
      })),

    // navigation quality: how high does the first every-7th event
    // rank per (event type, user-bucket) query? MRR per event type,
    // misses counting 0 — first ranks exact BIGINT, 1/rank pround6
    // into a DECIMAL(18,6) sum
    Entry("q307_mrr", (s, d) =>
      operators.Metrics.meanReciprocalRank(
        t(s, d, "events").select(col("event_type"),
          (col("user_id") % 50).as("qq"), col("value"), col("event_id"),
          when(col("event_id") % 7 === 0, 1L).otherwise(0L).as("rel")),
        "event_type", "qq", "value", "event_id", "rel"),
      // first relevant rank exact per (group, query); misses are 0
      // terms in the DECIMAL(18,6) reciprocal sum
      Some(
        s"""WITH base AS (
           |  SELECT event_type AS g, user_id % 50 AS qq, value AS s,
           |    event_id AS id,
           |    CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS hit
           |  FROM events WHERE value IS NOT NULL),
           |r AS (SELECT g, qq, hit,
           |    row_number() OVER (PARTITION BY g, qq ORDER BY s DESC, id ASC) AS rn
           |  FROM base),
           |pq AS (SELECT g, qq,
           |    min(CASE WHEN hit = 1 THEN rn END) AS frst
           |  FROM r GROUP BY 1, 2)
           |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(sum(CASE WHEN frst IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  ${pround("CAST(CAST(sum(CAST(CASE WHEN frst IS NOT NULL THEN " + pround("1.0 / CAST(frst AS DOUBLE)", 6) + " ELSE 0.0 END AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS mrr
           |FROM pq GROUP BY 1""".stripMargin)),

    // three language 'raters' voting per document (stored tag, marker
    // lang-id, trigram lang-id): Fleiss' kappa per source — cubic
    // rationals exact in DECIMAL(38,0), Landis–Koch band by
    // cross-multiplication, M-guard raises near capacity
    Entry("q308_fleiss_kappa", (s, d) =>
      operators.Metrics.fleissKappa(
        t(s, d, "documents").select(col("source"), col("doc_id"),
          col("lang").as("r1"),
          functions.TextFns.langId(col("text")).as("r2"),
          functions.TextFns.langIdNgram(col("text")).as("r3")),
        "source", "doc_id", Seq("r1", "r2", "r3")),
      // the q30 marker chain and q57 trigram chain as two of three
      // raters beside the stored tag; cubic Fleiss rationals in
      // HUGEINT mirror the engine's DECIMAL(38,0)
      Some({
        val langs = TextFns.langTrigramProfiles.keys.toSeq.sorted
        def profile(l: String) =
          TextFns.langTrigramProfiles(l).map(g => "'" + g + "'").mkString("[", ", ", "]")
        val scoreCols = langs.map(l =>
          s"len(list_filter(grams, g -> list_contains(${profile(l)}, g))) AS s_$l").mkString(",\n  ")
        val caseExpr = langs.zipWithIndex.map { case (l, i) =>
          val laterGe = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
          val conds = (laterGe :+ s"s_$l > 0").mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }.mkString("\n    ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |mk(lang, w) AS (VALUES $markerValues),
           |msc AS (
           |  SELECT t.doc_id, mk.lang, count(*) AS sc
           |  FROM toks t JOIN mk ON t.token = mk.w GROUP BY t.doc_id, mk.lang),
           |best AS (
           |  SELECT doc_id, lang FROM msc
           |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, lang ASC) = 1),
           |gr AS (
           |  SELECT doc_id,
           |    list_transform(range(1, len(' ' || lower(text) || ' ') - 1),
           |      i -> substr(' ' || lower(text) || ' ', i, 3)) AS grams
           |  FROM documents),
           |sc2 AS (SELECT doc_id, $scoreCols FROM gr),
           |pred AS (
           |  SELECT d.source, d.doc_id, d.lang AS r1,
           |    COALESCE(b.lang, 'und') AS r2,
           |    CASE $caseExpr ELSE 'und' END AS r3
           |  FROM documents d
           |  LEFT JOIN best b ON d.doc_id = b.doc_id
           |  JOIN sc2 ON sc2.doc_id = d.doc_id
           |  WHERE d.source IS NOT NULL AND d.lang IS NOT NULL),
           |cells AS (
           |  SELECT source AS g, doc_id AS i, unnest([r1, r2, r3]) AS r
           |  FROM pred),
           |cnt AS (SELECT g, i, r, CAST(count(*) AS BIGINT) AS c
           |  FROM cells GROUP BY 1, 2, 3),
           |per AS (SELECT g, CAST(sum(c) // 3 AS BIGINT) AS n_items,
           |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
           |  FROM cnt GROUP BY 1),
           |tc AS (SELECT g, CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS t2
           |  FROM (SELECT g, r, CAST(sum(c) AS BIGINT) AS t
           |        FROM cnt GROUP BY 1, 2) GROUP BY 1),
           |f AS (
           |  SELECT per.g, n_items,
           |    (ss - CAST(n_items AS HUGEINT) * 3)
           |      * (CAST(n_items AS HUGEINT) * 3) * (CAST(n_items AS HUGEINT) * 3)
           |      - (CAST(n_items AS HUGEINT) * 3) * 2 * t2 AS num,
           |    (CAST(n_items AS HUGEINT) * 3) * 2
           |      * ((CAST(n_items AS HUGEINT) * 3) * (CAST(n_items AS HUGEINT) * 3) - t2) AS den
           |  FROM per JOIN tc ON per.g = tc.g)
           |SELECT g AS source, n_items, CAST(3 AS BIGINT) AS k_raters,
           |  ${pround("CASE WHEN den = 0 THEN 0.0 ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END", 6)} AS kappa,
           |  CASE WHEN den = 0 THEN 'degenerate'
           |    WHEN 5 * num <= 0 THEN 'poor'
           |    WHEN 5 * num <= 1 * den THEN 'slight'
           |    WHEN 5 * num <= 2 * den THEN 'fair'
           |    WHEN 5 * num <= 3 * den THEN 'moderate'
           |    WHEN 5 * num <= 4 * den THEN 'substantial'
           |    ELSE 'almost perfect' END AS strength
           |FROM f""".stripMargin
      })),

    // leaderboard stability: top-50 parts by revenue, 1995+ vs
    // before, per return flag — set intersection and Jaccard in
    // exact ppm, no doubles anywhere
    Entry("q311_topk_drift", (s, d) =>
      operators.Profile.topKDrift(
        t(s, d, "lineitem").select(col("l_returnflag"),
          when(year(col("l_shipdate")) >= 1995, 1L).otherwise(0L)
            .as("arm"),
          col("l_partkey"), col("l_extendedprice")),
        "l_returnflag", "arm", "l_partkey", "l_extendedprice", k = 50),
      Some(q311Oracle)),

    // is the banding config any good? precision/recall/F1 of the q21
    // MinHash candidate pairs against the exact-duplicate truth
    // pairs — all-BIGINT set arithmetic, ppm floor divisions
    Entry("q316_linkage_quality", (s, d) => {
      val docs = t(s, d, "documents")
      operators.Metrics.linkageQuality(
        Dedup.minhashCandidates(docs, "text", "doc_id"),
        Dedup.exactDupPairs(docs, "text", "doc_id"))
    },
      // the q21 banding chain as predictions, md5-equality pairs as
      // truth; pure set counts and ppm floor divisions
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b
           |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |truth AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM documents a JOIN documents b
           |    ON md5(lower(a.text)) = md5(lower(b.text))
           |      AND a.doc_id < b.doc_id),
           |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM cand),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
           |tpc AS (SELECT CAST(count(*) AS BIGINT) AS tp
           |  FROM cand JOIN truth USING (id_a, id_b))
           |SELECT n_pred, n_true, tp,
           |  n_pred - tp AS fp, n_true - tp AS fn,
           |  CASE WHEN n_pred = 0 THEN NULL
           |    ELSE CAST(tp * 1000000 // n_pred AS BIGINT) END
           |    AS precision_ppm,
           |  CASE WHEN n_true = 0 THEN NULL
           |    ELSE CAST(tp * 1000000 // n_true AS BIGINT) END
           |    AS recall_ppm,
           |  CASE WHEN n_pred + n_true = 0 THEN NULL
           |    ELSE CAST(tp * 2000000 // (n_pred + n_true) AS BIGINT) END
           |    AS f1_ppm
           |FROM np, nt, tpc""".stripMargin)),

    // monotone recalibration of event value against a user-bucket
    // label: the PAV fit via the interval-minimax identity over the
    // B² bin grid — every pooled rate one double division of exact
    // prefix differences, maxBins raise-guarded
    Entry("q318_isotonic_calibration", (s, d) =>
      operators.Metrics.isotonicCalibration(
        t(s, d, "events").select(col("event_type"), col("value"),
          when(col("user_id") % 3 === 0, 1L).otherwise(0L).as("y")),
        "event_type", "value", "y", binWidth = 25.0),
      // the same minimax chain: rates are quotients of exact prefix
      // differences, so min/max see identical doubles
      Some(
        s"""WITH bins AS (
           |  SELECT event_type AS g,
           |    CAST(floor(value / 25.0) AS BIGINT) AS b,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS p
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |cum AS (
           |  SELECT g, b, n, p,
           |    CAST(sum(n) OVER w AS BIGINT) AS cn,
           |    CAST(sum(p) OVER w AS BIGINT) AS cp,
           |    COALESCE(CAST(sum(n) OVER wp AS BIGINT), 0) AS en,
           |    COALESCE(CAST(sum(p) OVER wp AS BIGINT), 0) AS ep
           |  FROM bins
           |  WINDOW w AS (PARTITION BY g ORDER BY b
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |    wp AS (PARTITION BY g ORDER BY b
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |grid AS (
           |  SELECT j.g, j.b AS jb, k.b AS kb,
           |    CAST(k.cp - j.ep AS DOUBLE) / CAST(k.cn - j.en AS DOUBLE)
           |      AS rate
           |  FROM cum j JOIN cum k ON j.g = k.g AND j.b <= k.b),
           |mn AS (
           |  SELECT g, jb, kb AS i,
           |    min(rate) OVER (PARTITION BY g, jb ORDER BY kb DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mnr
           |  FROM grid),
           |iso AS (SELECT g, i, max(mnr) AS iso FROM mn GROUP BY 1, 2)
           |SELECT bins.g AS event_type, bins.b AS bin, n, p AS n_pos,
           |  CAST(p * 1000000 // n AS BIGINT) AS raw_rate_ppm,
           |  ${pround("iso", 6)} AS iso_rate
           |FROM bins JOIN iso ON bins.g = iso.g AND bins.b = iso.i""".stripMargin)),

    // is the value honest as a probability-like score? ECE + Brier
    // reliability/resolution/uncertainty per event type — per-bin
    // fixed-order doubles from exact DECIMAL/BIGINT sums, pround6
    // into order-free DECIMAL(18,6)
    Entry("q319_calibration_card", (s, d) =>
      operators.Metrics.calibrationCard(
        t(s, d, "events").select(col("event_type"), col("value"),
          when(col("user_id") % 3 === 0, 1L).otherwise(0L).as("y")),
        "event_type", "value", "y", binWidth = 25.0),
      // per-bin fixed-order doubles over exact DECIMAL(18,6)/BIGINT
      // sums, pround6 into DECIMAL(18,6) — the dsum discipline
      Some({
        val conf = "(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE))"
        val rate = "(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))"
        val wt = "(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))"
        val bs = "(CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))"
        s"""WITH bins AS (
           |  SELECT event_type AS g,
           |    CAST(floor(value / 25.0) AS BIGINT) AS b,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS p,
           |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
           |      AS ss
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |tot AS (
           |  SELECT g, b, n, p, ss,
           |    CAST(sum(n) OVER (PARTITION BY g) AS BIGINT) AS nn,
           |    CAST(sum(p) OVER (PARTITION BY g) AS BIGINT) AS kk
           |  FROM bins)
           |SELECT g AS event_type,
           |  CAST(max(nn) AS BIGINT) AS n, CAST(max(kk) AS BIGINT) AS n_pos,
           |  CAST(CAST(sum(CAST(${pround(s"$wt * abs($conf - $rate)", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS ece,
           |  CAST(CAST(sum(CAST(${pround(s"$wt * ($conf - $rate) * ($conf - $rate)", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS brier_rel,
           |  CAST(CAST(sum(CAST(${pround(s"$wt * ($rate - $bs) * ($rate - $bs)", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS brier_res,
           |  max(${pround(s"$bs * (1.0 - $bs)", 6)}) AS unc
           |FROM tot GROUP BY 1""".stripMargin
      })),

    // operating-point table: precision/recall/F1 at five fixed value
    // cutoffs per event type — conditional BIGINT counts off ONE
    // pass, exact ppm floor divisions
    Entry("q320_pr_curve", (s, d) =>
      operators.Metrics.prCurve(
        t(s, d, "events").select(col("event_type"), col("value"),
          when(col("user_id") % 3 === 0, 1L).otherwise(0L).as("y")),
        "event_type", "value", "y", Seq(50L, 100L, 200L, 300L, 400L)),
      // thresholds unnest from the same literal list; all counts
      // conditional BIGINTs, rates ppm floor divisions
      Some(
        s"""WITH base AS (
           |  SELECT event_type AS g, value AS s,
           |    CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS y
           |  FROM events WHERE value IS NOT NULL),
           |x AS (SELECT g, s, y, unnest([50, 100, 200, 300, 400]) AS th
           |  FROM base),
           |agg AS (
           |  SELECT g, CAST(th AS BIGINT) AS threshold,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN s >= th AND y = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS tp,
           |    CAST(sum(CASE WHEN s >= th AND y = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS fp,
           |    CAST(sum(CASE WHEN s < th AND y = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS fn
           |  FROM x GROUP BY 1, 2)
           |SELECT g AS event_type, threshold, n, tp, fp, fn,
           |  CASE WHEN tp + fp = 0 THEN NULL
           |    ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
           |    AS precision_ppm,
           |  CASE WHEN tp + fn = 0 THEN NULL
           |    ELSE CAST(tp * 1000000 // (tp + fn) AS BIGINT) END
           |    AS recall_ppm,
           |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
           |    ELSE CAST(tp * 2000000 // (2 * tp + fp + fn) AS BIGINT) END
           |    AS f1_ppm
           |FROM agg""".stripMargin)),

    // how much vocabulary is each source still hiding? Chao1 /
    // Good-Turing coverage / Simpson / Shannon per source — exact
    // spectrum integers, fixed-order doubles, labelEntropy discipline
    // on the shannon sum
    Entry("q324_vocab_richness", (s, d) =>
      operators.TfIdf.vocabRichness(t(s, d, "documents"),
        "text", "source"),
      // spectrum integers exact; chao1/coverage/simpson fixed-order
      // doubles; shannon mirrors q321's per-term pround6 sum
      Some(
        s"""WITH toks AS (
           |  SELECT source, unnest($toksSql) AS term
           |  FROM documents WHERE source IS NOT NULL),
           |c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
           |  FROM toks GROUP BY 1, 2),
           |tot AS (
           |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           |    CAST(count(*) AS BIGINT) AS n_types,
           |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           |    sum(CAST(c AS HUGEINT) * (c - 1)) AS m2
           |  FROM c GROUP BY 1),
           |sh AS (
           |  SELECT c.source,
           |    CAST(sum(CAST(${pround("(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * log10(CAST(n_tokens AS DOUBLE) / CAST(c AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS hs
           |  FROM c JOIN tot USING (source) GROUP BY 1)
           |SELECT tot.source, n_tokens, n_types, f1, f2,
           |  ${pround("CAST(n_types AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)", 6)} AS chao1,
           |  ${pround("1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS coverage,
           |  CASE WHEN n_tokens >= 2
           |    THEN ${pround("CAST(m2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))", 6)} END AS simpson,
           |  CAST(hs AS DOUBLE) AS shannon
           |FROM tot JOIN sh ON tot.source = sh.source""".stripMargin)),

    // textbook prose or boilerplate? pooled Flesch / FK-grade per
    // source from exact word/sentence/vowel-run counts — row-local
    // regexp counting, one hash aggregate, no explode
    Entry("q330_readability", (s, d) =>
      operators.TfIdf.readability(t(s, d, "documents"),
        "text", "source"),
      // row-local regexp counts pooled per source; both scores one
      // fixed-order double over exact BIGINTs, constants CAST AS DOUBLE
      Some(
        s"""WITH c AS (
           |  SELECT source,
           |    CAST(COALESCE(len($toksSql), 0) AS BIGINT) AS w,
           |    CAST(COALESCE(len(regexp_extract_all(text, '[.!?]+')), 0)
           |      AS BIGINT) AS s,
           |    CAST(COALESCE(len(regexp_extract_all(lower(text),
           |      '[aeiouy]+')), 0) AS BIGINT) AS y
           |  FROM documents WHERE source IS NOT NULL),
           |agg AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(w) AS BIGINT) AS n_words,
           |    CAST(sum(s) AS BIGINT) AS n_sentences,
           |    CAST(sum(y) AS BIGINT) AS n_syllables
           |  FROM c GROUP BY 1)
           |SELECT source, n_docs, n_words, n_sentences, n_syllables,
           |  CASE WHEN n_sentences > 0 AND n_words > 0
           |    THEN ${pround("CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))", 6)}
           |    END AS flesch,
           |  CASE WHEN n_sentences > 0 AND n_words > 0
           |    THEN ${pround("CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - CAST(15.59 AS DOUBLE)", 6)}
           |    END AS fk_grade
           |FROM agg""".stripMargin)),

    // did the even/odd-user arms draw from the same value histogram?
    // Bhattacharyya + Hellinger per event type — the metric-valued
    // drift distance beside q146's PSI, no smoothing needed
    Entry("q333_hellinger", (s, d) =>
      operators.Profile.hellinger(
        t(s, d, "events").select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("arm"), col("value")),
        "event_type", "arm", "value"),
      // per-bin sqrt(p*q) terms pround6 into a DECIMAL sum; 1-BC
      // clamped at 0 before the final sqrt (both engines mirror)
      Some(
        s"""WITH g AS (
           |  SELECT event_type,
           |    CASE WHEN ((user_id % 2) + 2) % 2 <> 0 THEN 1 ELSE 0 END AS a,
           |    CASE WHEN value > 0
           |      THEN CAST(length(bin(CAST(floor(value) AS BIGINT))) - 1
           |        AS BIGINT)
           |      ELSE -1 END AS b
           |  FROM events),
           |cells AS (
           |  SELECT event_type, b,
           |    CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           |    CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
           |  FROM g GROUP BY 1, 2),
           |tot AS (
           |  SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
           |    CAST(sum(cb) AS BIGINT) AS n_b
           |  FROM cells GROUP BY 1),
           |agg AS (
           |  SELECT cells.event_type, max(n_a) AS na, max(n_b) AS nb,
           |    CAST(sum(CAST(${pround("sqrt((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)) * (CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS bcs
           |  FROM cells JOIN tot USING (event_type) GROUP BY 1)
           |SELECT event_type, CAST(na AS BIGINT) AS n_a,
           |  CAST(nb AS BIGINT) AS n_b,
           |  CASE WHEN na > 0 AND nb > 0 THEN CAST(bcs AS DOUBLE) END AS bc,
           |  CASE WHEN na > 0 AND nb > 0
           |    THEN ${pround("sqrt(greatest(0.0, 1.0 - CAST(bcs AS DOUBLE)))", 6)}
           |    END AS hellinger
           |FROM agg""".stripMargin)),

    // does each source carry ONE language (homogeneity) and each
    // language live in ONE source (completeness)? V-measure per
    // length band — the entropy-calibrated upgrade of q184's purity
    Entry("q334_v_measure", (s, d) =>
      operators.Metrics.vMeasure(
        t(s, d, "documents").select(
          when(col("n_chars") > 250, "long").otherwise("short")
            .as("band"),
          col("source"), col("lang")),
        "band", "source", "lang"),
      // four entropies as pround6 DECIMAL sums over one contingency;
      // h/c/v fixed-order doubles with the sklearn edge conventions
      Some({
        val hX = "CASE WHEN CAST(hl AS DOUBLE) = 0.0 THEN 1.0" +
          " ELSE 1.0 - CAST(hlc AS DOUBLE) / CAST(hl AS DOUBLE) END"
        val cX = "CASE WHEN CAST(hc AS DOUBLE) = 0.0 THEN 1.0" +
          " ELSE 1.0 - CAST(hcl AS DOUBLE) / CAST(hc AS DOUBLE) END"
        def entSql(num: String, den: String) =
          s"CAST(${pround(s"(CAST($num AS DOUBLE) / CAST(tn AS DOUBLE)) * log10(CAST($den AS DOUBLE) / CAST($num AS DOUBLE))", 6)} AS DECIMAL(18,6))"
        s"""WITH cells AS (
           |  SELECT CASE WHEN n_chars > 250 THEN 'long' ELSE 'short' END
           |      AS band,
           |    source AS c, lang AS l, CAST(count(*) AS BIGINT) AS n
           |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
           |  GROUP BY 1, 2, 3),
           |wt AS (
           |  SELECT band, c, l, n,
           |    CAST(sum(n) OVER (PARTITION BY band) AS BIGINT) AS tn,
           |    CAST(sum(n) OVER (PARTITION BY band, c) AS BIGINT) AS ac,
           |    CAST(sum(n) OVER (PARTITION BY band, l) AS BIGINT) AS bl
           |  FROM cells),
           |cond AS (
           |  SELECT band, CAST(max(tn) AS BIGINT) AS n,
           |    CAST(sum(${entSql("n", "ac")}) AS DECIMAL(38,6)) AS hlc,
           |    CAST(sum(${entSql("n", "bl")}) AS DECIMAL(38,6)) AS hcl
           |  FROM wt GROUP BY 1),
           |hcx AS (
           |  SELECT band,
           |    CAST(sum(${entSql("ac", "tn")}) AS DECIMAL(38,6)) AS hc
           |  FROM (SELECT DISTINCT band, c, ac, tn FROM wt) GROUP BY 1),
           |hlx AS (
           |  SELECT band,
           |    CAST(sum(${entSql("bl", "tn")}) AS DECIMAL(38,6)) AS hl
           |  FROM (SELECT DISTINCT band, l, bl, tn FROM wt) GROUP BY 1)
           |SELECT band, n,
           |  ${pround(hX, 6)} AS homogeneity,
           |  ${pround(cX, 6)} AS completeness,
           |  ${pround(s"CASE WHEN ($hX) + ($cX) = 0.0 THEN 0.0 ELSE 2.0 * ($hX) * ($cX) / (($hX) + ($cX)) END", 6)} AS v_measure
           |FROM cond JOIN hcx USING (band) JOIN hlx USING (band)""".stripMargin
      })),

    // does order priority associate with line status, and HOW
    // strongly? Cramer's V per return flag — the categorical effect
    // size beside q252's chi-square
    Entry("q343_cramers_v", (s, d) =>
      operators.Profile.cramersV(
        t(s, d, "lineitem")
          .join(t(s, d, "orders").select(col("o_orderkey"),
            col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_returnflag"), col("o_orderpriority"),
            col("l_linestatus")),
        "l_returnflag", "o_orderpriority", "l_linestatus"),
      // per-cell (o-e)^2/e terms pround6 into a DECIMAL sum; V one
      // closing sqrt; degenerate single-level tables NULL
      Some(
        s"""WITH j AS (
           |  SELECT l_returnflag AS g, o_orderpriority AS a,
           |    l_linestatus AS b
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |cells AS (
           |  SELECT g, a, b, CAST(count(*) AS BIGINT) AS o
           |  FROM j GROUP BY 1, 2, 3),
           |meta AS (
           |  SELECT g, CAST(count(DISTINCT a) AS BIGINT) AS r_levels,
           |    CAST(count(DISTINCT b) AS BIGINT) AS c_levels,
           |    CAST(sum(o) AS BIGINT) AS tn
           |  FROM cells GROUP BY 1),
           |ra AS (SELECT g, a, CAST(sum(o) AS BIGINT) AS ra
           |  FROM cells GROUP BY 1, 2),
           |cb AS (SELECT g, b, CAST(sum(o) AS BIGINT) AS cb
           |  FROM cells GROUP BY 1, 2),
           |grid AS (
           |  SELECT ra.g, ra.a, cb.b, ra.ra, cb.cb, tn,
           |    COALESCE(o, 0) AS o
           |  FROM ra JOIN cb ON ra.g = cb.g
           |  JOIN meta ON ra.g = meta.g
           |  LEFT JOIN cells ON cells.g = ra.g AND cells.a = ra.a
           |    AND cells.b = cb.b),
           |agg AS (
           |  SELECT g, CAST(max(tn) AS BIGINT) AS n,
           |    CAST(sum(CAST(${pround("(CAST(o AS DOUBLE) - (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tn AS DOUBLE))) * (CAST(o AS DOUBLE) - (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tn AS DOUBLE))) / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tn AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS chi
           |  FROM grid GROUP BY 1)
           |SELECT agg.g AS l_returnflag, n, r_levels, c_levels,
           |  CAST(chi AS DOUBLE) AS chi2,
           |  CASE WHEN least(r_levels - 1, c_levels - 1) > 0
           |    THEN ${pround("sqrt(CAST(chi AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE)))", 6)}
           |    END AS cramers_v
           |FROM agg JOIN meta ON agg.g = meta.g""".stripMargin)),

    // WHERE in the distribution did the arms diverge? side-by-side
    // exact interpolated quantiles + per-quantile shift, riding the
    // pinned percentile ≡ quantile_cont parity
    Entry("q345_qq_shift", (s, d) =>
      operators.Metrics.qqShift(
        t(s, d, "events").select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("arm"), col("value")),
        "event_type", "arm", "value",
        qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)),
      // per-arm quantile_cont mirrors percentile (q136 parity); shift
      // is the fixed-order raw difference, each output pround6
      Some({
        val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
        val perQ = qs.zipWithIndex.map { case (q, i) =>
          s"""SELECT event_type, CAST($q AS DOUBLE) AS q, n_0, n_1,
             |  ${pround(s"p0_$i", 6)} AS v0, ${pround(s"p1_$i", 6)} AS v1,
             |  ${pround(s"p1_$i - p0_$i", 6)} AS shift
             |FROM agg""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH g AS (
           |  SELECT event_type, ((user_id % 2) + 2) % 2 AS arm, value
           |  FROM events WHERE value IS NOT NULL),
           |agg AS (
           |  SELECT event_type,
           |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_0,
           |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_1,
           |    ${qs.zipWithIndex.map { case (q, i) =>
                s"quantile_cont(CASE WHEN arm = 0 THEN value END, $q) AS p0_$i, " +
                s"quantile_cont(CASE WHEN arm = 1 THEN value END, $q) AS p1_$i"
              }.mkString(",\n|    ")}
           |  FROM g GROUP BY 1)
           |$perQ""".stripMargin
      })),

    // do quantity, price, and discount carry the same signal? one-pass
    // Pearson matrix per return flag over exact decimal moment sums
    Entry("q346_pearson_matrix", (s, d) =>
      operators.Profile.pearsonMatrix(t(s, d, "lineitem"),
        "l_returnflag",
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      // q42 moment sums per pair; r one fixed-order double chain;
      // listwise NULL deletion mirrored
      Some({
        val pc = Seq("l_quantity", "l_extendedprice", "l_discount")
        def d(k: Int) = s"(CAST(n AS DOUBLE) * CAST(q$k AS DOUBLE)" +
          s" - CAST(s$k AS DOUBLE) * CAST(s$k AS DOUBLE))"
        val pairSelects = (for {
          i <- pc.indices; j <- pc.indices if i < j
        } yield {
          val num = s"(CAST(n AS DOUBLE) * CAST(x${i}_$j AS DOUBLE)" +
            s" - CAST(s$i AS DOUBLE) * CAST(s$j AS DOUBLE))"
          s"""SELECT l_returnflag, '${pc(i)}' AS col_a, '${pc(j)}' AS col_b,
             |  n, CASE WHEN mn$i = mx$i OR mn$j = mx$j THEN NULL
             |    WHEN ${d(i)} <= 0.0 OR ${d(j)} <= 0.0 THEN NULL
             |    ELSE ${pround(s"$num / sqrt(${d(i)} * ${d(j)})", 6)}
             |    END AS r
             |FROM agg""".stripMargin
        }).mkString("\nUNION ALL\n")
        s"""WITH sc AS (
           |  SELECT l_returnflag,
           |    ${pc.zipWithIndex.map { case (c, i) =>
                s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT) AS v$i"
              }.mkString(",\n|    ")}
           |  FROM lineitem),
           |agg AS (
           |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           |    ${pc.indices.map { i =>
                s"sum(v$i) AS s$i, " +
                s"sum(CAST(v$i AS HUGEINT) * v$i) AS q$i, " +
                s"min(v$i) AS mn$i, max(v$i) AS mx$i"
              }.mkString(",\n|    ")},
           |    ${(for { i <- pc.indices; j <- pc.indices if i < j } yield
                s"sum(CAST(v$i AS HUGEINT) * v$j) AS x${i}_$j")
                .mkString(",\n|    ")}
           |  FROM sc GROUP BY 1)
           |$pairSelects""".stripMargin
      })),

    // is the price–discount correlation real, or is it just quantity?
    // first-order partial correlation per return flag, computed from
    // RAW r's over exact moment sums
    Entry("q348_partial_correlation", (s, d) =>
      operators.Profile.partialCorrelation(t(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice", "l_discount", "l_quantity"),
      // three raw r's and the partial in one fixed-order double chain
      // over exact moment sums; pround6 only at output
      Some({
        def d(kk: Int) = s"(CAST(n AS DOUBLE) * CAST(q$kk AS DOUBLE)" +
          s" - CAST(s$kk AS DOUBLE) * CAST(s$kk AS DOUBLE))"
        def r(i: Int, j: Int) =
          s"((CAST(n AS DOUBLE) * CAST(x${i}_$j AS DOUBLE)" +
            s" - CAST(s$i AS DOUBLE) * CAST(s$j AS DOUBLE))" +
            s" / sqrt(${d(i)} * ${d(j)}))"
        val den = s"((1.0 - ${r(0, 2)} * ${r(0, 2)})" +
          s" * (1.0 - ${r(1, 2)} * ${r(1, 2)}))"
        val defined = "(mn0 <> mx0 AND mn1 <> mx1 AND mn2 <> mx2" +
          s" AND ${d(0)} > 0.0 AND ${d(1)} > 0.0 AND ${d(2)} > 0.0)"
        val pc = Seq("l_extendedprice", "l_discount", "l_quantity")
        s"""WITH sc AS (
           |  SELECT l_returnflag,
           |    ${pc.zipWithIndex.map { case (c, i) =>
                s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT) AS v$i"
              }.mkString(",\n|    ")}
           |  FROM lineitem),
           |agg AS (
           |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           |    ${pc.indices.map { i =>
                s"sum(v$i) AS s$i, " +
                s"sum(CAST(v$i AS HUGEINT) * v$i) AS q$i, " +
                s"min(v$i) AS mn$i, max(v$i) AS mx$i"
              }.mkString(",\n|    ")},
           |    ${Seq((0, 1), (0, 2), (1, 2)).map { case (i, j) =>
                s"sum(CAST(v$i AS HUGEINT) * v$j) AS x${i}_$j"
              }.mkString(",\n|    ")}
           |  FROM sc GROUP BY 1)
           |SELECT l_returnflag, n,
           |  ${pround(s"CASE WHEN $defined THEN ${r(0, 1)} END", 6)} AS r_xy,
           |  ${pround(s"CASE WHEN $defined AND $den > 0.0 THEN (${r(0, 1)} - ${r(0, 2)} * ${r(1, 2)}) / sqrt($den) END", 6)} AS r_xy_z
           |FROM agg""".stripMargin
      })),

    // which sources share a VOICE? Burrows' Delta over top-50
    // function-word z-profiles — low delta = same template/author,
    // the style companion to near-dup detection
    Entry("q349_burrows_delta", (s, d) =>
      operators.TfIdf.burrowsDelta(t(s, d, "documents"),
        "text", "source", topK = 50),
      // canonical pround6 frequency features; per-word mean/sigma over
      // exact decimal sums; z pround6 so pair gaps are exact decimals
      Some({
        // radicand clamped at 0 (evenly-dispersed word = exact-zero
        // variance one ulp negative; DuckDB sqrt RAISES on it) —
        // mirrors TfIdf.sigSql
        val sig = "sqrt(greatest(CAST(0.0 AS DOUBLE)," +
          " CAST(ng AS DOUBLE) * CAST(qf AS DOUBLE)" +
          " - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)))" +
          " / CAST(ng AS DOUBLE)"
        val mu = "(CAST(sf AS DOUBLE) / CAST(ng AS DOUBLE))"
        s"""WITH cnt AS (
           |  SELECT source AS g, unnest($toksSql) AS t
           |  FROM documents WHERE source IS NOT NULL),
           |c AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c
           |  FROM cnt GROUP BY 1, 2),
           |gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS gtot
           |  FROM c GROUP BY 1),
           |top AS (SELECT t FROM (
           |    SELECT t, CAST(sum(c) AS BIGINT) AS tc FROM c GROUP BY 1)
           |  ORDER BY tc DESC, t LIMIT 50),
           |grid AS (
           |  SELECT gt.g, gt.gtot, top.t, COALESCE(c.c, 0) AS c
           |  FROM gt CROSS JOIN top
           |  LEFT JOIN c ON c.g = gt.g AND c.t = top.t),
           |f AS (
           |  SELECT g, t, CAST(${pround("CAST(c AS DOUBLE) / CAST(gtot AS DOUBLE)", 6)} AS DECIMAL(18,6)) AS f6
           |  FROM grid),
           |stats AS (
           |  SELECT t, CAST(count(*) AS BIGINT) AS ng,
           |    CAST(sum(f6) AS DECIMAL(28,6)) AS sf,
           |    CAST(sum(CAST(CAST(f6 AS DOUBLE) * CAST(f6 AS DOUBLE)
           |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS qf
           |  FROM f GROUP BY 1),
           |z AS (
           |  SELECT g, f.t,
           |    CAST(${pround(s"CASE WHEN $sig <= 0.0 THEN 0.0 ELSE (CAST(f6 AS DOUBLE) - $mu) / ($sig) END", 6)} AS DECIMAL(18,6)) AS z
           |  FROM f JOIN stats ON f.t = stats.t)
           |SELECT a.g AS group_a, b.g AS group_b,
           |  CAST(count(*) AS BIGINT) AS n_terms,
           |  ${pround("CAST(CAST(sum(abs(a.z - b.z)) AS DECIMAL(28,6)) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS delta
           |FROM z a JOIN z b ON a.t = b.t AND a.g < b.g
           |GROUP BY 1, 2""".stripMargin
      })),

    // which words does each source use significantly MORE than the
    // rest? Dunning G² keyness top-10, over-representation gated by
    // exact integer cross-multiplication
    Entry("q350_keyness", (s, d) =>
      operators.TfIdf.keyness(t(s, d, "documents"),
        "text", "source", k = 10),
      // the same 2x2 margin algebra; over-representation gate by exact
      // HUGEINT cross-multiplication; rank on the RAW g2 double
      Some({
        def t(o: String, e: String) =
          s"(CASE WHEN $o > 0 THEN CAST($o AS DOUBLE)" +
            s" * ln(CAST($o AS DOUBLE) / ($e)) ELSE 0.0 END)"
        val o12 = "(tt - c)"; val o21 = "(gtot - c)"
        val o22 = "(nn - tt - gtot + c)"
        val nD = "CAST(nn AS DOUBLE)"
        val e11 = s"(CAST(tt AS DOUBLE) * CAST(gtot AS DOUBLE) / $nD)"
        val e12 = s"(CAST(tt AS DOUBLE) * CAST(nn - gtot AS DOUBLE) / $nD)"
        val e21 = s"(CAST(nn - tt AS DOUBLE) * CAST(gtot AS DOUBLE) / $nD)"
        val e22 =
          s"(CAST(nn - tt AS DOUBLE) * CAST(nn - gtot AS DOUBLE) / $nD)"
        val g2 = s"(2.0 * (${t("c", e11)} + ${t(o12, e12)}" +
          s" + ${t(o21, e21)} + ${t(o22, e22)}))"
        s"""WITH cnt AS (
           |  SELECT source AS g, unnest($toksSql) AS t
           |  FROM documents WHERE source IS NOT NULL),
           |c AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c
           |  FROM cnt GROUP BY 1, 2),
           |tt AS (SELECT t, CAST(sum(c) AS BIGINT) AS tt FROM c GROUP BY 1),
           |gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS gtot FROM c GROUP BY 1),
           |nn AS (SELECT CAST(sum(gtot) AS BIGINT) AS nn FROM gt),
           |scored AS (
           |  SELECT g, c.t, c, $g2 AS g2d
           |  FROM c JOIN tt USING (t) JOIN gt USING (g) CROSS JOIN nn
           |  WHERE CAST(c AS HUGEINT) * nn > CAST(tt AS HUGEINT) * gtot),
           |r AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY g ORDER BY g2d DESC, t) AS rk
           |  FROM scored)
           |SELECT g AS source, t AS term, c AS n_in,
           |  ${pround("g2d", 6)} AS g2, CAST(rk AS BIGINT) AS rank
           |FROM r WHERE rk <= 10""".stripMargin
      })),

    // did the top-50 revenue parts CHANGE between eras? rank-biased
    // overlap per line status — head-weighted, unlike q311's flat
    // jaccard; suffix-sum constants shared with the oracle
    Entry("q352_rbo", (s, d) =>
      operators.Metrics.rbo(
        t(s, d, "lineitem").select(col("l_linestatus"),
          when(year(col("l_shipdate")) >= 1995, 1L).otherwise(0L)
            .as("arm"),
          col("l_partkey"), col("l_extendedprice")),
        "l_linestatus", "arm", "l_partkey", "l_extendedprice",
        k = 50, p = 0.9),
      // identical rankings, identical suffix-sum constants (computed
      // by the same Scala fold), per-item pround6 terms
      Some({
        val k = 50; val p = 0.9
        val weights = Array.tabulate(k + 1)(d =>
          if (d == 0) 0.0 else math.pow(p, d - 1) / d)
        val suffix = (1 to k).map(m => (m, (m to k).map(weights).sum))
        val sufValues = suffix.map { case (m, s) =>
          s"($m, CAST($s AS DOUBLE))" }.mkString(", ")
        s"""WITH scored AS (
           |  SELECT l_linestatus AS g,
           |    CASE WHEN year(l_shipdate) >= 1995 THEN 1 ELSE 0 END AS arm,
           |    l_partkey AS i,
           |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sc
           |  FROM lineitem GROUP BY 1, 2, 3),
           |ranked AS (
           |  SELECT g, arm, i,
           |    row_number() OVER (PARTITION BY g, arm
           |                       ORDER BY sc DESC, i) AS r
           |  FROM scored QUALIFY r <= $k),
           |counts AS (
           |  SELECT g,
           |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b
           |  FROM ranked GROUP BY 1),
           |suf(m, sfx) AS (VALUES $sufValues),
           |joint AS (
           |  SELECT a.g, CAST(count(*) AS BIGINT) AS n_common,
           |    CAST(sum(CAST(${pround("sfx", 6)} AS DECIMAL(18,6)))
           |      AS DECIMAL(28,6)) AS ss
           |  FROM ranked a JOIN ranked b
           |    ON a.g = b.g AND a.i = b.i AND a.arm = 0 AND b.arm = 1
           |  JOIN suf ON suf.m = greatest(a.r, b.r)
           |  GROUP BY 1)
           |SELECT counts.g AS l_linestatus, n_a, n_b,
           |  COALESCE(n_common, 0) AS n_common,
           |  CASE WHEN n_a > 0 AND n_b > 0
           |    THEN ${pround(s"CAST(${1.0 - p} AS DOUBLE) * CAST(COALESCE(ss, 0) AS DOUBLE)", 6)}
           |    END AS rbo
           |FROM counts LEFT JOIN joint ON counts.g = joint.g""".stripMargin
      })),

    // which top words belong to NO source? Juilland's D over the
    // shared G x K frequency grid — 1 = a true function word, near 0
    // = a topic word hiding behind raw frequency
    Entry("q353_lexical_dispersion", (s, d) =>
      operators.TfIdf.lexicalDispersion(t(s, d, "documents"),
        "text", "source", topK = 50),
      // the q349 grid re-read: per-word cv over exact decimal sums,
      // D = 1 − cv/sqrt(G−1) one fixed-order double
      Some({
        // same clamped-radicand sigma as q349 (TfIdf.sigSql mirror)
        val sig = "sqrt(greatest(CAST(0.0 AS DOUBLE)," +
          " CAST(ng AS DOUBLE) * CAST(qf AS DOUBLE)" +
          " - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)))" +
          " / CAST(ng AS DOUBLE)"
        val mu = "(CAST(sf AS DOUBLE) / CAST(ng AS DOUBLE))"
        s"""WITH cnt AS (
           |  SELECT source AS g, unnest($toksSql) AS t
           |  FROM documents WHERE source IS NOT NULL),
           |c AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c
           |  FROM cnt GROUP BY 1, 2),
           |gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS gtot
           |  FROM c GROUP BY 1),
           |top AS (SELECT t FROM (
           |    SELECT t, CAST(sum(c) AS BIGINT) AS tc FROM c GROUP BY 1)
           |  ORDER BY tc DESC, t LIMIT 50),
           |grid AS (
           |  SELECT gt.g, gt.gtot, top.t, COALESCE(c.c, 0) AS c
           |  FROM gt CROSS JOIN top
           |  LEFT JOIN c ON c.g = gt.g AND c.t = top.t),
           |f AS (
           |  SELECT g, t, c,
           |    CAST(${pround("CAST(c AS DOUBLE) / CAST(gtot AS DOUBLE)", 6)} AS DECIMAL(18,6)) AS f6
           |  FROM grid),
           |stats AS (
           |  SELECT t AS term, CAST(count(*) AS BIGINT) AS ng,
           |    CAST(sum(c) AS BIGINT) AS n_total,
           |    CAST(sum(f6) AS DECIMAL(28,6)) AS sf,
           |    CAST(sum(CAST(CAST(f6 AS DOUBLE) * CAST(f6 AS DOUBLE)
           |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS qf
           |  FROM f GROUP BY 1)
           |SELECT term, ng AS n_groups, n_total,
           |  CASE WHEN ng < 2 OR $mu <= 0.0 THEN NULL
           |    ELSE ${pround(s"1.0 - (($sig) / ($mu)) / sqrt(CAST(ng - 1 AS DOUBLE))", 6)}
           |    END AS d
           |FROM stats""".stripMargin
      }))
  )
}
