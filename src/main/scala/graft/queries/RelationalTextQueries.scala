package graft
package queries

import graft.functions.{Rounding, TextFns}
import graft.operators.{Dedup, Relational, Similarity}
import org.apache.spark.sql.DataFrame
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — core relational: text, dedup and similarity operators. */
object RelationalTextQueries {

  lazy val entries: Seq[Entry] = Seq(
    Entry("q08_keep_first", (s, d) => {
      Dedup.keepFirst(t(s, d, "events"), Seq("user_id"), Seq(col("event_id").desc))
        .select("user_id", "event_id", "event_type", "value")
    },
      Some(
        """SELECT user_id, event_id, event_type, value FROM events
          |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1""".stripMargin)),

    Entry("q37_upsert_keep_first", (s, d) => {
      val split = lit("2024-01-15").cast("timestamp")
      val ev = t(s, d, "events")
      def firstType(f: DataFrame) = Dedup.keepFirst(
        f.select("user_id", "event_type", "event_id"),
        Seq("user_id"), Seq(col("event_id").asc)).select("user_id", "event_type")
      Relational.upsertKeepFirst(
        firstType(ev.filter(col("ts") < split)),
        firstType(ev.filter(col("ts") >= split)), Seq("user_id"))
    },
      Some(
        """WITH cur AS (
          |  SELECT user_id, event_type FROM events WHERE ts < TIMESTAMP '2024-01-15'
          |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1),
          |inc AS (
          |  SELECT user_id, event_type FROM events WHERE ts >= TIMESTAMP '2024-01-15'
          |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1)
          |SELECT user_id, event_type FROM cur
          |UNION ALL
          |SELECT user_id, event_type FROM inc
          |WHERE user_id NOT IN (SELECT user_id FROM cur)""".stripMargin)),

    // SCD2 dimension merge: each user's pre-split first event type is
    // the open version; the post-split first event closes it (when the
    // type changed) and opens a new one — history-keeping maintenance
    // the reference's insert-only upsert (q37) cannot express
    Entry("q109_scd2_dim", (s, d) => {
      val split = lit("2024-01-15").cast("timestamp")
      val ev = t(s, d, "events")
      def firstRow(f: org.apache.spark.sql.DataFrame) = Dedup.keepFirst(
        f.select("user_id", "event_type", "event_id", "ts"),
        Seq("user_id"), Seq(col("event_id").asc))
      val cur = firstRow(ev.filter(col("ts") < split))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from"),
          lit(null).cast("long").as("valid_to"))
      val inc = firstRow(ev.filter(col("ts") >= split))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("eff"))
      operators.Dimensions.scd2Merge(cur, inc, "user_id", "event_type", "eff")
    },
      // open version closes only on an attribute CHANGE; unchanged
      // keys keep their open row, new keys open their first version
      Some(
        """WITH cur AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS vf FROM events
          |  WHERE ts < TIMESTAMP '2024-01-15'
          |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1),
          |inc AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS vf FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-15'
          |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1)
          |SELECT c.user_id, c.event_type, c.vf AS valid_from,
          |  CASE WHEN i.user_id IS NOT NULL AND i.event_type IS DISTINCT FROM c.event_type
          |       THEN i.vf END AS valid_to
          |FROM cur c LEFT JOIN inc i USING (user_id)
          |UNION ALL
          |SELECT i.user_id, i.event_type, i.vf AS valid_from, CAST(NULL AS BIGINT) AS valid_to
          |FROM inc i LEFT JOIN cur c USING (user_id)
          |WHERE c.user_id IS NULL OR i.event_type IS DISTINCT FROM c.event_type""".stripMargin)),

    // Gopher-style duplicate-LINE screens (q67 is the n-gram half):
    // one native scan-projection pass, no shuffle. The test corpus is
    // single-line, so the query line-ifies deterministically (space
    // runs -> '\n') to exercise duplicate counting; real multi-line
    // semantics ('\r\n', exact-byte compare) are pinned by
    // LineDupStatsSpec. keep thresholds compare the PROUNDED
    // fractions so an engine-boundary ulp can't flip the decision.
    Entry("q111_line_dup_screen", (s, d) => {
      val lineified = regexp_replace(col("text"), " +", "\n")
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.expressions.GraftFunctions.lineDupStats(lineified).as("st"))
        .select(col("doc_id"),
          col("st.n_lines").cast("long").as("n_lines"),
          Rounding.pround(when(col("st.n_lines") > 0,
              (col("st.n_lines") - col("st.n_distinct")).cast("double") /
                col("st.n_lines")).otherwise(lit(0.0)), 4).as("dup_line_frac"),
          Rounding.pround(when(col("st.line_chars") > 0,
              col("st.dup_chars").cast("double") / col("st.line_chars"))
            .otherwise(lit(0.0)), 4).as("dup_char_frac"))
        .withColumn("keep",
          when(col("dup_line_frac") <= 0.3 && col("dup_char_frac") <= 0.2, 1L)
            .otherwise(0L))
    },
      // duplicate-line halves of the Gopher screens over the
      // line-ified corpus (space runs -> '\n'); thresholds compare the
      // prounded fractions, mirroring the Spark side exactly
      Some(
        s"""WITH l AS (
           |  SELECT doc_id,
           |    unnest(list_filter(string_split(regexp_replace(text, ' +', chr(10), 'g'), chr(10)), x -> len(x) > 0)) AS line
           |  FROM documents),
           |lc AS (SELECT doc_id, line, count(*) AS c, len(line) AS ln
           |       FROM l GROUP BY doc_id, line),
           |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
           |        count(*) AS n_distinct,
           |        sum(c * ln) AS line_chars, sum((c - 1) * ln) AS dup_chars
           |      FROM lc GROUP BY doc_id),
           |f AS (SELECT d.doc_id,
           |        COALESCE(a.n_lines, 0) AS n_lines,
           |        ${pround("CASE WHEN a.n_lines > 0 THEN CAST(a.n_lines - a.n_distinct AS DOUBLE) / a.n_lines ELSE 0.0 END", 4)} AS dup_line_frac,
           |        ${pround("CASE WHEN a.line_chars > 0 THEN CAST(a.dup_chars AS DOUBLE) / a.line_chars ELSE 0.0 END", 4)} AS dup_char_frac
           |      FROM documents d LEFT JOIN a USING (doc_id))
           |SELECT doc_id, n_lines, dup_line_frac, dup_char_frac,
           |  CAST(CASE WHEN dup_line_frac <= 0.3 AND dup_char_frac <= 0.2
           |       THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM f""".stripMargin)),

    // tokenizer fertility per language: sub-word tokens per whitespace
    // word + chars per sub-word token — the stats a tokenizer audit
    // reads before committing a vocab to a multilingual corpus
    Entry("q113_fertility_by_lang", (s, d) =>
      t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFns.wsTokenCount(col("text"))).cast("long").as("ws_tokens"),
          sum(TextFns.bpeishTokenCount(col("text"))).cast("long").as("bpe_tokens"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          Rounding.pround(when(col("ws_tokens") > 0,
              col("bpe_tokens").cast("double") / col("ws_tokens"))
            .otherwise(lit(0.0)), 4).as("fertility"),
          Rounding.pround(when(col("bpe_tokens") > 0,
              col("sum_chars").cast("double") / col("bpe_tokens"))
            .otherwise(lit(0.0)), 4).as("chars_per_token")),
      // integer sums finished in one IEEE division per ratio
      Some(
        s"""WITH a AS (
           |  SELECT lang, count(*) AS n_docs,
           |    CAST(sum(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS BIGINT) AS ws_tokens,
           |    CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)) AS BIGINT) AS bpe_tokens,
           |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |  FROM documents GROUP BY lang)
           |SELECT lang, n_docs, ws_tokens, bpe_tokens,
           |  ${pround("CASE WHEN ws_tokens > 0 THEN CAST(bpe_tokens AS DOUBLE) / ws_tokens ELSE 0.0 END", 4)} AS fertility,
           |  ${pround("CASE WHEN bpe_tokens > 0 THEN CAST(sum_chars AS DOUBLE) / bpe_tokens ELSE 0.0 END", 4)} AS chars_per_token
           |FROM a""".stripMargin)),

    // length-based curriculum assignment: quartile phases over the
    // sub-word token count (the standard easy->hard ordering signal),
    // exact interpolated bounds as a ONE-ROW broadcast aggregate —
    // same percentile≡quantile_cont parity q41/q107 rely on
    Entry("q114_curriculum_phases", (s, d) => {
      val tok = t(s, d, "documents").select(col("doc_id"),
        TextFns.bpeishTokenCount(col("text")).as("n_tokens"))
      val bounds = tok.agg(
        expr("percentile(n_tokens, 0.25)").as("__q1"),
        expr("percentile(n_tokens, 0.5)").as("__q2"),
        expr("percentile(n_tokens, 0.75)").as("__q3"))
      tok.join(broadcast(bounds))
        .select(col("doc_id"), col("n_tokens"),
          (when(col("n_tokens") > col("__q1"), 1L).otherwise(0L) +
            when(col("n_tokens") > col("__q2"), 1L).otherwise(0L) +
            when(col("n_tokens") > col("__q3"), 1L).otherwise(0L)).as("phase"))
    },
      // interpolated quartile bounds (quantile_cont ≡ Spark percentile,
      // the q41/q107 parity) + strict-greater phase arithmetic
      Some(
        """WITH tok AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |b AS (SELECT quantile_cont(n_tokens, 0.25) AS q1,
          |        quantile_cont(n_tokens, 0.5) AS q2,
          |        quantile_cont(n_tokens, 0.75) AS q3 FROM tok)
          |SELECT doc_id, n_tokens,
          |  CAST(CASE WHEN n_tokens > b.q1 THEN 1 ELSE 0 END
          |     + CASE WHEN n_tokens > b.q2 THEN 1 ELSE 0 END
          |     + CASE WHEN n_tokens > b.q3 THEN 1 ELSE 0 END AS BIGINT) AS phase
          |FROM tok, b""".stripMargin)),

    // per-source dataset card: the summary table a curator reads
    // before admitting a source — volume, mean quality (decimal-summed
    // for engine-order independence), exact-dup rate, language purity
    Entry("q115_source_report", (s, d) => {
      val perDoc = t(s, d, "documents").select(col("source"), col("lang"),
        TextFns.bpeishTokenCount(col("text")).as("n"),
        TextFns.qualityScore(col("text")).cast("decimal(18,8)").as("q"),
        md5(lower(col("text"))).as("h"))
      val base = perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n").cast("long").as("n_tokens"),
        sum("q").as("__qsum"),
        countDistinct(col("h")).as("__nd"))
      val langTop = perDoc.groupBy("source", "lang")
        .agg(count(lit(1)).as("c"))
        .groupBy("source").agg(max("c").as("__top"))
      base.join(langTop, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          Rounding.pround(col("__qsum").cast("double") / col("n_docs"), 4).as("mean_quality"),
          Rounding.pround((col("n_docs") - col("__nd")).cast("double") / col("n_docs"), 4).as("dup_rate"),
          Rounding.pround(col("__top").cast("double") / col("n_docs"), 4).as("top_lang_share"))
    },
      // q31's quality formula re-aggregated per source; the mean runs
      // over DECIMAL(18,8) casts of bit-identical doubles so partial-
      // agg order can't perturb it (q42/q107 discipline)
      Some(
        s"""WITH base AS (SELECT doc_id, source, lang, text, $toksSql AS t FROM documents),
           |feat AS (
           |  SELECT source, lang, md5(lower(text)) AS h,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n,
           |    len(t) AS n_tokens,
           |    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains($stopwordList, x))) AS DOUBLE) / len(t) ELSE 0.0 END AS swr,
           |    CASE WHEN len(t) > 0 THEN CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum') AS DOUBLE) / len(t) ELSE 0.0 END AS atl
           |  FROM base),
           |q AS (
           |  SELECT source, lang, h, n,
           |    greatest(least(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
           |      + (1.0 - abs(swr - 0.25) * 2.0) * 0.3
           |      + (1.0 - least(abs(atl - 5.0) / 5.0, 1.0)) * 0.3, 1.0), 0.0) AS quality
           |  FROM feat),
           |agg AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(n) AS BIGINT) AS n_tokens,
           |    sum(CAST(quality AS DECIMAL(18,8))) AS qsum,
           |    count(DISTINCT h) AS nd
           |  FROM q GROUP BY source),
           |lt AS (
           |  SELECT source, max(c) AS top FROM (
           |    SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2)
           |  GROUP BY source)
           |SELECT a.source, a.n_docs, a.n_tokens,
           |  ${pround("CAST(a.qsum AS DOUBLE) / a.n_docs", 4)} AS mean_quality,
           |  ${pround("CAST(a.n_docs - a.nd AS DOUBLE) / a.n_docs", 4)} AS dup_rate,
           |  ${pround("CAST(lt.top AS DOUBLE) / a.n_docs", 4)} AS top_lang_share
           |FROM agg a JOIN lt USING (source)""".stripMargin)),

    // leakage-safe splits: a near-dup pair straddling train/test leaks
    // the answer into training, so the split key is the doc's CONNECTED
    // COMPONENT representative in the MinHash candidate graph (q21's
    // bands, q65's labeling) — every near-dup cluster lands whole in
    // one split; singletons fall back to their own id
    Entry("q116_leakage_safe_splits", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      val comp = operators.Components.connectedComponents(pairs)
        .withColumnRenamed("node", "doc_id")
      val withRep = docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep"))
      operators.Sampling.datasetSplit(withRep, "rep")
        .select(col("doc_id"), col("rep"), col("split"))
    },
      // q21's band CTE -> q65's recursive labeling -> q48's bucket
      // arithmetic keyed on the component representative
      Some(
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM cand UNION SELECT id_b, id_a FROM cand),
           |${ccUnrolledSql("edges", "lk")},
           |comp AS (SELECT node, root AS component FROM lkm),
           |r AS (
           |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep
           |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
           |SELECT doc_id, rep,
           |  CASE
           |    WHEN (CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 100 + 100) % 100 < 80 THEN 'train'
           |    WHEN (CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 100 + 100) % 100 < 90 THEN 'val'
           |    ELSE 'test' END AS split
           |FROM r""".stripMargin)),

    // q93's mixture PLAN materialized: per-source keep fractions turn
    // into a deterministic per-doc filter (content-stable hash bucket
    // vs the basis-point keep threshold) — the step that actually
    // produces the rebalanced corpus, reported per source
    Entry("q117_mixture_apply", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        TextFns.bpeishTokenCount(col("text")).as("n"))
      val plan = operators.Sampling.mixturePlan(docs, "source", col("n"),
          Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0))
        .select(col("source"),
          floor(col("keep_frac") * 10000 + 0.5).cast("long").as("__keep_bp"))
      docs.join(broadcast(plan), "source")
        .filter(operators.Sampling.hashBucket(col("doc_id"), 10000) < col("__keep_bp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("n").cast("long").as("tok_kept"))
    },
      // q93's unrounded keep_frac chain -> basis-point threshold
      // (floor(x*10^4 + 0.5), the pround form as an integer) -> q47's
      // bucket predicate per doc
      Some(
        s"""WITH tokd AS (
           |  SELECT doc_id, source,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n
           |  FROM documents),
           |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM tokd GROUP BY source),
           |t(src, w) AS (VALUES ('src0', 4.0), ('src1', 2.0), ('src2', 1.0), ('src3', 1.0)),
           |j AS (
           |  SELECT s.source, s.n_tokens,
           |    CAST(s.n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM s) AS share,
           |    COALESCE(t.w / (SELECT sum(w) FROM t), 0.0) AS target_share
           |  FROM s LEFT JOIN t ON s.source = t.src),
           |sc AS (SELECT min(share / target_share) AS scale FROM j WHERE target_share > 0),
           |kb AS (
           |  SELECT source,
           |    CAST(floor((CASE WHEN target_share > 0
           |      THEN least(1.0, target_share * (SELECT scale FROM sc) / share)
           |      ELSE 0.0 END) * 10000 + 0.5) AS BIGINT) AS keep_bp
           |  FROM j)
           |SELECT source, count(*) AS n_kept, CAST(sum(n) AS BIGINT) AS tok_kept
           |FROM tokd JOIN kb USING (source)
           |WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 + 10000) % 10000 < keep_bp
           |GROUP BY source""".stripMargin)),

    // character-distribution gibberish screen: one-pass native
    // CharStats in the scan projection (no character explode — that
    // shape shuffles ~5× the token volume). Derived screens are
    // RATIONAL in the counts (top-char share; Simpson concentration
    // 1 − Σp²) — no Shannon/libm log, so the oracle reproduces the
    // doubles exactly. keep thresholds compare PROUNDED values so an
    // engine-boundary ulp can't flip the decision.
    Entry("q119_char_stats", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.expressions.GraftFunctions.charStats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_cp").cast("long").as("n_cp"),
          col("st.n_distinct").cast("long").as("n_distinct"),
          Rounding.pround(when(col("st.n_cp") > 0,
              col("st.top_cnt").cast("double") / col("st.n_cp"))
            .otherwise(lit(0.0)), 4).as("top_share"),
          Rounding.pround(when(col("st.n_cp") > 0,
              lit(1.0) - col("st.sum_sq").cast("double") /
                (col("st.n_cp").cast("double") * col("st.n_cp")))
            .otherwise(lit(0.0)), 4).as("simpson"))
        .withColumn("keep",
          when(col("top_share") <= 0.4 && col("simpson") >= 0.5, 1L)
            .otherwise(0L))
    },
      // char explode reproduces the native one-pass counts; derived
      // screens are rational (no libm log) so doubles match exactly,
      // operand order mirrored (1.0 − sum_sq/(n·n), division first)
      Some(
        s"""WITH c AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS ch
           |  FROM documents),
           |cc AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY doc_id, ch),
           |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_cp,
           |        CAST(count(*) AS BIGINT) AS n_distinct,
           |        max(c) AS top_cnt, sum(c * c) AS sum_sq
           |      FROM cc GROUP BY doc_id),
           |f AS (SELECT d.doc_id,
           |        COALESCE(a.n_cp, 0) AS n_cp,
           |        COALESCE(a.n_distinct, 0) AS n_distinct,
           |        ${pround("CASE WHEN a.n_cp > 0 THEN CAST(a.top_cnt AS DOUBLE) / a.n_cp ELSE 0.0 END", 4)} AS top_share,
           |        ${pround("CASE WHEN a.n_cp > 0 THEN 1.0 - CAST(a.sum_sq AS DOUBLE) / (CAST(a.n_cp AS DOUBLE) * a.n_cp) ELSE 0.0 END", 4)} AS simpson
           |      FROM documents d LEFT JOIN a USING (doc_id))
           |SELECT doc_id, n_cp, n_distinct, top_share, simpson,
           |  CAST(CASE WHEN top_share <= 0.4 AND simpson >= 0.5
           |       THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM f""".stripMargin)),

    // per-source token-concentration card: type-token ratio + top-10
    // share straight off one (source, term) aggregate — the Zipf-head
    // health check, kept rational (no log-log slope) for portability
    Entry("q120_token_concentration", (s, d) =>
      operators.TfIdf.tokenConcentration(
          t(s, d, "documents"), "text", "source", k = 10)
        .select(col("source"), col("n_tokens"), col("n_types"),
          Rounding.pround(col("ttr"), 4).as("ttr"),
          Rounding.pround(col("top_share"), 4).as("top_share")),
      // top-10 cut tie-breaks (cnt DESC, term ASC) exactly as the
      // Spark window; ratios are single IEEE divisions
      Some(
        s"""WITH tok AS (SELECT source, unnest($toksSql) AS term FROM documents),
           |c AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY source, term),
           |r AS (SELECT source, cnt,
           |        row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rn
           |      FROM c),
           |top AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS top_tokens
           |        FROM r WHERE rn <= 10 GROUP BY source),
           |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           |          CAST(count(*) AS BIGINT) AS n_types
           |        FROM c GROUP BY source)
           |SELECT t.source, n_tokens, n_types,
           |  ${pround("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
           |  ${pround("CAST(COALESCE(top.top_tokens, 0) AS DOUBLE) / n_tokens", 4)} AS top_share
           |FROM tot t LEFT JOIN top USING (source)""".stripMargin)),

    // quality-proxy audit: Spearman rho between doc length and lexical
    // diversity (per-doc type-token ratio), per source — row_number
    // ranks with doc_id tie-break keep the statistic integer until one
    // final division
    Entry("q122_rank_correlation", (s, d) => {
      val toks = graft.functions.TextFns.tokens(col("text"))
      val withTtr = t(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"),
          when(size(toks) > 0,
            size(array_distinct(toks)).cast("double") / size(toks))
            .otherwise(lit(0.0)).as("ttr"))
      operators.Profile.rankCorrelation(
          withTtr, "source", "n_chars", "ttr", "doc_id")
        .select(col("source"), col("n_docs"),
          Rounding.pround(col("rho"), 4).as("rho"))
    },
      // ranks are row_number with doc_id tie-break on both engines;
      // rho = 1 - 6*sumd2/(n(n^2-1)) mirrored operand-for-operand
      Some(
        s"""WITH p AS (
           |  SELECT source, doc_id, n_chars,
           |    CASE WHEN len(t) > 0
           |         THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
           |         ELSE 0.0 END AS ttr
           |  FROM (SELECT source, doc_id, n_chars, $toksSql AS t FROM documents)),
           |r AS (SELECT source,
           |        row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS ra,
           |        row_number() OVER (PARTITION BY source ORDER BY ttr, doc_id) AS rb
           |      FROM p),
           |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |        CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sumd2
           |      FROM r GROUP BY source)
           |SELECT source, n_docs,
           |  ${pround("CASE WHEN n_docs > 1 THEN 1.0 - 6.0 * CAST(sumd2 AS DOUBLE) / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) * n_docs - 1.0)) ELSE 0.0 END", 4)} AS rho
           |FROM a""".stripMargin)),

    // per-label embedding diversity WITHOUT pairs: mean pairwise
    // squared distance via 2(E||x||^2 - ||Ex||^2) on x2^20 fixed-point
    // integer sums — O(n*d), the audit that is O(n^2*d) done naively
    Entry("q123_embed_diversity", (s, d) =>
      operators.Similarity.meanPairwiseSqDist(
          t(s, d, "embeddings"), "label", "embedding")
        .select(col("label"), col("n_vecs"),
          Rounding.pround(col("mean_sq_dist"), 6).as("mean_sq_dist")),
      // fixed-point x2^20 quantization (exact in IEEE: power-of-two
      // multiply + 0.5 floor), HUGEINT integer sums, then the same
      // double conversion and division chain as the Spark side
      Some(
        s"""WITH q AS (
           |  SELECT label,
           |    list_transform(CAST(embedding AS DOUBLE[]),
           |      x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS qv
           |  FROM embeddings),
           |s2 AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           |         sum(CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS HUGEINT)) AS s2
           |       FROM q GROUP BY label),
           |dims AS (SELECT label, k, sum(qv[k]) AS sk
           |         FROM q, (SELECT unnest(range(1, 65)) AS k) ks
           |         GROUP BY label, k),
           |ss AS (SELECT label,
           |         sum(CAST(sk AS HUGEINT) * CAST(sk AS HUGEINT)) AS ss
           |       FROM dims GROUP BY label)
           |SELECT s2.label, n_vecs,
           |  ${pround("CAST(CAST(n_vecs AS HUGEINT) * s2 - ss AS DOUBLE) * 2.0 / n_vecs / n_vecs / 1099511627776.0", 6)} AS mean_sq_dist
           |FROM s2 JOIN ss USING (label)""".stripMargin)),

    // canonical selection: near-dup clusters keep their BEST doc by the
    // q31 quality score (desc, id asc) instead of keep-min-id — one
    // max_by hash aggregate, no per-cluster sort window
    Entry("q124_canonical_reps", (s, d) =>
      Dedup.canonicalReps(t(s, d, "documents"), "text", "doc_id",
          TextFns.qualityScore(col("text")))
        .select(col("cluster"), col("rep_id"), col("n_members"),
          Rounding.pround(col("rep_quality"), 4).as("rep_quality")),
      // q21's candidate CTE + the unrolled hash-to-min contraction
      // (ccUnrolledSql) for clusters (the recursive walk cost 199 s at
      // sf1.0 on the percolated LSH graph), then the q31 quality
      // formula picks each cluster's
      // representative (quality DESC, doc_id ASC); docs in no pair are
      // their own cluster via the LEFT JOIN coalesce
      Some(
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |edges AS MATERIALIZED (SELECT src, dst FROM cand UNION SELECT dst, src FROM cand),
           |${ccUnrolledSql("edges", "cr")},
           |comp AS (SELECT node, root AS component FROM crm),
           |q AS (
           |  SELECT doc_id,
           |    greatest(least(least(CAST(len(t) AS DOUBLE) / 50.0, 1.0) * 0.4
           |      + (1.0 - abs((CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains($stopwordList, x))) AS DOUBLE) / len(t) ELSE 0.0 END) - 0.25) * 2.0) * 0.3
           |      + (1.0 - least(abs((CASE WHEN len(t) > 0 THEN CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum') AS DOUBLE) / len(t) ELSE 0.0 END) - 5.0) / 5.0, 1.0)) * 0.3, 1.0), 0.0) AS quality
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |cl AS (
           |  SELECT COALESCE(c.component, q.doc_id) AS cluster, q.doc_id, q.quality
           |  FROM q LEFT JOIN comp c ON c.node = q.doc_id),
           |sel AS (
           |  SELECT cluster, doc_id, quality,
           |    count(*) OVER (PARTITION BY cluster) AS n_members,
           |    row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id ASC) AS rn
           |  FROM cl)
           |SELECT cluster, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members,
           |  ${pround("quality", 4)} AS rep_quality
           |FROM sel WHERE rn = 1""".stripMargin)),

    // doc-inside-doc screen: per banded candidate pair, shingle-set
    // containment (inter / min set size) alongside Jaccard; `contained`
    // flags the engulfed pairs near-dup dedup would NOT collapse
    Entry("q125_containment", (s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), "text", "doc_id")
        .select(col("id_a"), col("id_b"),
          Rounding.pround(col("containment"), 4).as("containment"),
          Rounding.pround(col("jaccard"), 4).as("jaccard"),
          col("contained")),
      // q23's verified-pair CTE extended with containment over the
      // smaller shingle set — the doc-inside-doc statistic
      Some(
        s"""WITH shs AS (
           |  SELECT doc_id, list_distinct($shinglesSql) AS sset
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |sh AS (SELECT doc_id, unnest(sset) AS s FROM shs),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c JOIN sh ea ON ea.doc_id = c.id_a JOIN sh eb ON eb.doc_id = c.id_b AND eb.s = ea.s
           |  GROUP BY c.id_a, c.id_b),
           |j AS (
           |  SELECT c.id_a, c.id_b,
           |    CAST(COALESCE(i.i, 0) AS DOUBLE) AS inter,
           |    CAST(sa.n AS DOUBLE) AS na, CAST(sb.n AS DOUBLE) AS nb
           |  FROM cand c
           |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
           |  JOIN (SELECT doc_id, len(sset) AS n FROM shs) sa ON sa.doc_id = c.id_a
           |  JOIN (SELECT doc_id, len(sset) AS n FROM shs) sb ON sb.doc_id = c.id_b),
           |m AS (
           |  SELECT id_a, id_b,
           |    CASE WHEN least(na, nb) > 0 THEN inter / least(na, nb) ELSE 0.0 END AS containment,
           |    CASE WHEN na + nb - inter > 0 THEN inter / (na + nb - inter) ELSE 0.0 END AS jaccard
           |  FROM j)
           |SELECT id_a, id_b, ${pround("containment", 4)} AS containment,
           |  ${pround("jaccard", 4)} AS jaccard,
           |  CAST(CASE WHEN containment >= 0.8 AND jaccard < 0.5 THEN 1 ELSE 0 END AS BIGINT) AS contained
           |FROM m""".stripMargin)),

    // LSH cost/skew audit: per band, bucket count + max bucket + the
    // implied candidate-pair expansion — hot-bucket detection priced
    // as one groupBy BEFORE any pairwise work
    Entry("q126_band_buckets", (s, d) =>
      Dedup.bandBucketStats(t(s, d, "documents"), "text", "doc_id"),
      // bucket sizes per band key, then per-band rollup; n*(n-1) is
      // even so integer // 2 is exact on both engines
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |bu AS (
           |  SELECT split_part(band_key, '|', 1) AS band, count(*) AS n
           |  FROM bk GROUP BY band_key)
           |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(sum(n) AS BIGINT) AS n_docs,
           |  CAST(max(n) AS BIGINT) AS max_bucket,
           |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
           |FROM bu GROUP BY band""".stripMargin)),

    // model-based keep/drop gate in integer basis points: a linear
    // quality classifier whose score is BIGINT-exact on any engine
    Entry("q129_linear_quality", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextFns.linearQualityScore(col("text")).as("score"))
        .withColumn("keep", when(col("score") >= 1000L, 1L).otherwise(0L)),
      // same integer basis-point features and weights as
      // TextFns.linearQualityScore; `//` on non-negative BIGINTs =
      // Spark `div`, so the score is exact
      Some(
        s"""WITH f AS (
           |  SELECT doc_id,
           |    CAST(len($toksSql) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter($toksSql, x -> list_contains($stopwordList, x))) AS BIGINT) AS stop_cnt,
           |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS punct_cnt,
           |    CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS non_ws,
           |    CAST(len(text) AS BIGINT) AS n_chars
           |  FROM documents),
           |b AS (
           |  SELECT doc_id,
           |    (stop_cnt * 10000) // greatest(n_tok, 1) AS stop_bp,
           |    (punct_cnt * 10000) // greatest(n_chars, 1) AS punct_bp,
           |    (non_ws * 100) // greatest(n_tok, 1) AS atl_centi,
           |    least(n_tok, 50) AS len_cap
           |  FROM f),
           |sc AS (
           |  SELECT doc_id,
           |    CAST(80 * len_cap - abs(stop_bp - 2500) - 2 * punct_bp
           |      - abs(atl_centi - 500) AS BIGINT) AS score
           |  FROM b)
           |SELECT doc_id, score,
           |  CAST(CASE WHEN score >= 1000 THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM sc""".stripMargin)),

    // LSH S-curve calibration: signature agreement count x true-Jaccard
    // decile over the candidate pairs — the is-my-threshold-right table
    Entry("q131_minhash_calibration", (s, d) =>
      Dedup.minhashCalibration(t(s, d, "documents"), "text", "doc_id"),
      // q23's verified-Jaccard CTEs + a signature self-join for the
      // agreement count; decile capped at 9 so jaccard = 1.0 lands in
      // the top bucket on both engines
      Some(
        s"""WITH shs AS (
           |  SELECT doc_id, list_distinct($shinglesSql) AS sset
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |sh AS (SELECT doc_id, unnest(sset) AS s FROM shs),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c JOIN sh ea ON ea.doc_id = c.id_a JOIN sh eb ON eb.doc_id = c.id_b AND eb.s = ea.s
           |  GROUP BY c.id_a, c.id_b),
           |jac AS (
           |  SELECT c.id_a, c.id_b,
           |    CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - CAST(COALESCE(i.i, 0) AS DOUBLE)) AS jaccard
           |  FROM cand c
           |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
           |  JOIN (SELECT doc_id, len(sset) AS n FROM shs) sa ON sa.doc_id = c.id_a
           |  JOIN (SELECT doc_id, len(sset) AS n FROM shs) sb ON sb.doc_id = c.id_b),
           |cal AS (
           |  SELECT
           |    CAST(${(0 until 6).map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS sig_matches,
           |    least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS jaccard_decile
           |  FROM jac JOIN sig sa ON sa.doc_id = jac.id_a JOIN sig sb ON sb.doc_id = jac.id_b)
           |SELECT sig_matches, jaccard_decile, count(*) AS n_pairs
           |FROM cal GROUP BY sig_matches, jaccard_decile""".stripMargin)),

    // cross-group neighbor mining (bitext-mining shape): each probe's
    // best neighbor with a DIFFERENT label; threshold keeps the output
    // pairs-not-noise
    Entry("q132_cross_mining", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.crossGroupTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", "label", k = 1, minCosine = 0.1)
        .withColumn("cos_sim", Rounding.pround(col("cos_sim"), 4))
    },
      // q24's scoring CTE constrained to cross-label pairs, rank 1,
      // thresholded
      Some(
        s"""WITH q AS (SELECT vec_id AS query_id, label AS query_group, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id AS neighbor_id, label AS neighbor_group, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
           |scored AS (
           |  SELECT query_id, query_group, neighbor_id, neighbor_group,
           |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_sim
           |  FROM q, c WHERE query_group <> neighbor_group),
           |kept AS (SELECT * FROM scored WHERE cos_sim >= 0.1),
           |ranked AS (
           |  SELECT query_id, query_group, neighbor_id, neighbor_group, cos_sim,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           |  FROM kept)
           |SELECT query_id, query_group, rank, neighbor_id, neighbor_group,
           |  ${pround("cos_sim", 4)} AS cos_sim
           |FROM ranked WHERE rank <= 1""".stripMargin)),

    // exact heavy hitters: terms holding >= 3% of a source's token
    // volume — integer cross-multiplication share test, no window
    Entry("q134_heavy_hitters", (s, d) =>
      operators.TfIdf.heavyHitters(
        t(s, d, "documents"), "text", "source", minShareBp = 300L),
      // integer cross-multiplication share test; // = Spark div on
      // non-negative BIGINTs
      Some(
        s"""WITH tok AS (
           |  SELECT source, unnest($toksSql) AS term FROM documents),
           |cnt AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY source, term),
           |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total FROM cnt GROUP BY source)
           |SELECT c.source, c.term, c.cnt, t.total,
           |  CAST((c.cnt * 10000) // t.total AS BIGINT) AS share_bp
           |FROM cnt c JOIN tot t ON c.source = t.source
           |WHERE c.cnt * 10000 >= t.total * 300""".stripMargin)),

    // context-length planning: power-of-two token-length histogram per
    // source; the exponent is exact integer (length of the binary
    // representation), no libm log2 near-boundary risk
    Entry("q138_length_histogram", (s, d) => {
      val n = TextFns.wsTokenCount(col("text"))
      t(s, d, "documents").select(col("source"), n.as("n_tok"))
        .withColumn("log2_bucket",
          when(col("n_tok") > 0,
            (length(bin(col("n_tok"))) - 1).cast("long")).otherwise(lit(-1L)))
        .groupBy(col("source"), col("log2_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
    },
      // len(bin(n)) - 1 is floor(log2(n)) exactly — integer on both
      // engines, no libm near power-of-two boundaries
      Some(
        s"""WITH f AS (
           |  SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents)
           |SELECT source,
           |  CAST(CASE WHEN n_tok > 0 THEN len(bin(n_tok)) - 1 ELSE -1 END AS BIGINT) AS log2_bucket,
           |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
           |FROM f GROUP BY 1, 2""".stripMargin)),

    // exact-complete set-similarity self-join over word 3-shingle
    // sets: prefix filtering (AllPairs) guarantees every Jaccard >=
    // 0.5 pair is a candidate — recall 1.0 where q21's banding is
    // probabilistic; shingles (not raw tokens) keep the set space
    // discriminative on this small-vocab corpus
    // the candidate budget is sized PER DOCUMENT (×400), not as an
    // absolute count: under replica isolation the per-doc candidate
    // density is SF-invariant (~373/doc on this corpus — the sf10
    // probe's 186M candidates at 500k docs tripped the old fixed 10M
    // bound while the true output stayed linear), so a per-doc budget
    // accepts any healthy SF and the guard still refuses a
    // self-similarity explosion at the same density it always did.
    // The count is memoized per (dir, table) — not an action charged
    // to every timed run — and floored at 1 so an empty corpus yields
    // an empty result instead of tripping the guard's require()
    Entry("q143_prefix_join", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.prefixFilterPairs(docs, "text", "doc_id",
          minJaccard = 0.5, shingleN = 3,
          maxCandidates = math.max(1L, 400L * rowCount(s, d, "documents")))
        .withColumn("jaccard", Rounding.pround(col("jaccard"), 4))
    },
      // same rarest-first prefix scheme over word 3-shingles:
      // lpad(df)|shingle keys sort identically on both engines;
      // ks[1:p] is DuckDB's inclusive slice = Spark's slice(ks, 1, p)
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
           |    THEN list_transform(range(1, len(t) - 1),
           |      i -> list_aggregate(t[i : i + 2], 'string_agg', ' '))
           |    ELSE CAST([] AS VARCHAR[]) END)) AS token
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |freq AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
           |keyed AS (
           |  SELECT doc_id, lpad(CAST(df AS VARCHAR), 10, '0') || '|' || token AS k
           |  FROM toks JOIN freq USING (token)),
           |sets AS (SELECT doc_id, list_sort(list(k)) AS ks FROM keyed GROUP BY doc_id),
           |pfx AS (
           |  SELECT doc_id,
           |    unnest(ks[1 : CAST(len(ks) - ceil(0.5 * len(ks)) + 1 AS BIGINT)]) AS k
           |  FROM sets),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM pfx a JOIN pfx b ON a.k = b.k AND a.doc_id < b.doc_id),
           |hsets AS (
           |  SELECT doc_id, list_distinct(list_transform(ks,
           |    x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS hs
           |  FROM sets),
           |j AS (
           |  SELECT c.id_a, c.id_b,
           |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) AS i,
           |    CAST(len(sa.hs) AS DOUBLE) AS na, CAST(len(sb.hs) AS DOUBLE) AS nb
           |  FROM cand c
           |  JOIN hsets sa ON sa.doc_id = c.id_a
           |  JOIN hsets sb ON sb.doc_id = c.id_b),
           |v AS (SELECT id_a, id_b, i / (na + nb - i) AS jaccard FROM j)
           |SELECT id_a, id_b, ${pround("jaccard", 4)} AS jaccard
           |FROM v WHERE jaccard >= 0.5""".stripMargin)),

    // curation knob table: per source, acceptance rate (bp) of the
    // integer linear gate at each candidate threshold — the sweep a
    // pipeline reads before pinning its cut
    Entry("q165_quality_sweep", (s, d) => {
      val scored = t(s, d, "documents").select(col("source"),
        TextFns.linearQualityScore(col("text")).as("score"))
      val thresholds = Seq(0L, 500L, 1000L, 1500L, 2000L, 2500L)
      scored
        .select(col("source"), col("score"),
          explode(array(thresholds.map(lit): _*)).as("threshold"))
        .groupBy(col("source"), col("threshold"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
            .cast("long").as("n_keep"))
        .withColumn("keep_bp",
          call_function("div", col("n_keep") * 10000L, col("n_docs")))
    },
      // q129's integer score swept over the literal threshold grid;
      // acceptance in basis points by floor division
      Some(
        s"""WITH f AS (
           |  SELECT source,
           |    CAST(len($toksSql) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter($toksSql, x -> list_contains($stopwordList, x))) AS BIGINT) AS stop_cnt,
           |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS punct_cnt,
           |    CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS non_ws,
           |    CAST(len(text) AS BIGINT) AS n_chars
           |  FROM documents),
           |s AS (
           |  SELECT source,
           |    80 * least(n_tok, 50)
           |      - abs((stop_cnt * 10000) // greatest(n_tok, 1) - 2500)
           |      - 2 * ((punct_cnt * 10000) // greatest(n_chars, 1))
           |      - abs((non_ws * 100) // greatest(n_tok, 1) - 500) AS score
           |  FROM f),
           |t2 AS (SELECT CAST(unnest([0, 500, 1000, 1500, 2000, 2500]) AS BIGINT) AS threshold)
           |SELECT source, threshold, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |  CAST((sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) * 10000)
           |    // count(*) AS BIGINT) AS keep_bp
           |FROM s CROSS JOIN t2 GROUP BY 1, 2""".stripMargin)),

    // synthetic-data diversity audit: distinct-1/2/3 per source in
    // integer basis points (mode collapse shows as a low ratio)
    Entry("q161_distinct_n", (s, d) =>
      operators.TfIdf.distinctNgramRatios(t(s, d, "documents"), "text",
        "source", maxN = 3),
      // same 1/2/3-gram position sets; ratios by integer floor division
      Some(
        s"""WITH t AS (SELECT source, $toksSql AS tk FROM documents),
           |g1 AS (SELECT source, unnest(tk) AS g FROM t),
           |g2 AS (
           |  SELECT source, unnest(CASE WHEN len(tk) >= 2
           |    THEN list_transform(range(1, len(tk)),
           |      i -> list_aggregate(tk[i : i + 1], 'string_agg', ' '))
           |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
           |g3 AS (
           |  SELECT source, unnest(CASE WHEN len(tk) >= 3
           |    THEN list_transform(range(1, len(tk) - 1),
           |      i -> list_aggregate(tk[i : i + 2], 'string_agg', ' '))
           |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
           |u AS (
           |  SELECT source, 1 AS n, g FROM g1
           |  UNION ALL SELECT source, 2, g FROM g2
           |  UNION ALL SELECT source, 3, g FROM g3)
           |SELECT source, CAST(n AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS total,
           |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
           |  (count(DISTINCT g) * 10000) // greatest(count(*), 1) AS distinct_bp
           |FROM u GROUP BY source, n""".stripMargin)),

    // robust per-dimension normalization table: exact median + MAD
    // per embedding dimension (MAD ~ 0 = dead dimension)
    Entry("q162_embed_robust", (s, d) =>
      operators.Similarity.robustDimStats(t(s, d, "embeddings"), "embedding")
        .select(col("dim").cast("long").as("dim"), col("n"),
          Rounding.pround(col("med"), 4).as("med"), Rounding.pround(col("mad"), 4).as("mad")),
      // percentile == quantile_cont parity (q41/q86/q136); dims are
      // 1-based generate_subscripts on both engines
      Some(
        s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |x AS (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e),
           |m AS (
           |  SELECT dim, quantile_cont(x, 0.5) AS med,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM x GROUP BY dim)
           |SELECT CAST(x.dim AS BIGINT) AS dim, max(m.n) AS n,
           |  ${pround("max(m.med)", 4)} AS med,
           |  ${pround("quantile_cont(abs(x.x - m.med), 0.5)", 4)} AS mad
           |FROM x JOIN m USING (dim) GROUP BY x.dim""".stripMargin)),

    // tokenizer induction actually run: 5 BPE merges learned in
    // sequence over the vocabulary-bounded word table
    Entry("q158_bpe_merges", (s, d) =>
      operators.Bpe.learnMerges(t(s, d, "documents"), "text", rounds = 5),
      // five unrolled merge rounds: pair stats over the sep-encoded
      // vocab, best by (total desc, s1, s2), applied via literal
      // replace("s1␁s2␁" -> "s1s2␁") — greedy left-to-right on both
      // engines; chr(1) is the separator
      Some({
        def rnd(r: Int): String = {
          val prev = s"v${r - 1}"
          s"""p$r AS (
             |  SELECT ss[CAST(t.i AS INT)] AS s1, ss[CAST(t.i AS INT) + 1] AS s2,
             |    CAST(sum(cnt) AS BIGINT) AS total
             |  FROM (SELECT list_filter(string_split(enc, chr(1)), x -> len(x) > 0) AS ss, cnt
             |        FROM $prev) s,
             |    LATERAL (SELECT unnest(range(1, len(ss))) AS i) t
             |  GROUP BY 1, 2),
             |b$r AS (SELECT s1, s2, total FROM p$r
             |        ORDER BY total DESC, s1, s2 LIMIT 1),
             |v$r AS (
             |  SELECT replace(enc, b$r.s1 || chr(1) || b$r.s2 || chr(1),
             |                 b$r.s1 || b$r.s2 || chr(1)) AS enc, cnt
             |  FROM v${r - 1}, b$r)""".stripMargin
        }
        s"""WITH w0 AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT unnest(t) AS w FROM (SELECT $toksSql AS t FROM documents))
           |  GROUP BY w HAVING len(w) >= 2),
           |v0 AS (
           |  SELECT regexp_replace(w, '(.)', '\\1' || chr(1), 'g') AS enc, cnt
           |  FROM w0),
           |${(1 to 5).map(rnd).mkString(",\n")}
           |${(1 to 5).map(r =>
              s"SELECT CAST($r AS BIGINT) AS round, s1, s2, total FROM b$r")
             .mkString("\nUNION ALL\n")}""".stripMargin
      })),

    // conditional fluency: mean log10 Laplace-smoothed bigram
    // probability per doc (q90's unigram score with sequence structure)
    Entry("q152_bigram_lm", (s, d) =>
      operators.TfIdf.lmScore2(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc").as("doc_id"), col("n_bigrams"),
          Rounding.pround(col("lm2_score"), 4).as("lm2_score")),
      // bigrams re-derived positionally (pos + 1 self-join = Spark's
      // per-doc lead window); probabilities are ratios of exact
      // integer counts, V attaches as the one-row vocab aggregate
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS tok
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents)),
           |bg AS (
           |  SELECT a.doc_id, a.tok AS ta, b.tok AS tb
           |  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
           |c2 AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
           |c1 AS (SELECT ta, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
           |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vv FROM t)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  ${pround("avg(log10(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vv AS DOUBLE)))", 4)} AS lm2_score
           |FROM bg JOIN c2 USING (ta, tb) JOIN c1 USING (ta) CROSS JOIN v
           |GROUP BY doc_id""".stripMargin)),

    // embedding-space health: per-label centroid distance from the
    // global centroid (the representation-drift card next to q146)
    Entry("q153_centroid_drift", (s, d) =>
      operators.Similarity.centroidDrift(t(s, d, "embeddings"),
          "embedding", "label")
        .select(col("label"), col("n_vecs"),
          Rounding.pround(col("drift"), 4).as("drift")),
      // per-dim means rebuilt in index order (q105's shape) for both
      // the global and per-label centroids; the difference vector and
      // its norm accumulate in dimension order on both engines
      Some(
        s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |x AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e),
           |g AS (SELECT i, avg(x) AS gx FROM x GROUP BY i),
           |m AS (SELECT label, i, avg(x) AS mx FROM x GROUP BY 1, 2),
           |d AS (
           |  SELECT label, list(mx - gx ORDER BY i) AS dv
           |  FROM m JOIN g USING (i) GROUP BY label),
           |c AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM e GROUP BY label)
           |SELECT label, n_vecs,
           |  ${pround("sqrt(list_aggregate(list_transform(dv, z -> z * z), 'sum'))", 4)} AS drift
           |FROM d JOIN c USING (label)""".stripMargin)),

    // streaming drift monitor: register a baseline token-count
    // histogram (even doc_ids), score two odd-id batches against it
    Entry("q151_streaming_drift", (s, d) => {
      val st = invocationStateDir("q151", "baseline")
      val v = t(s, d, "documents").select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      streaming.StreamingDrift.registerBaseline(
        v.filter(col("doc_id") % 2 === 0), "n_tok", st)
      def screen(m: Int) = streaming.StreamingDrift
        .screenBatch(v.filter(col("doc_id") % 4 === m), "n_tok", st)
        .withColumn("batch", lit(s"b$m"))
      screen(1).unionByName(screen(3))
        .select(col("batch"), col("n_rows"), col("n_bins"), col("psi"))
    },
      // q146's binning/smoothing over the UNION bin domain (batch
      // full-join baseline); batches are doc_id % 4 = 1 and 3, the
      // baseline doc_id % 2 = 0 — labels derived as 'b' || (id % 4)
      Some(
        s"""WITH v AS (
           |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS val FROM documents),
           |b AS (
           |  SELECT doc_id,
           |    CASE WHEN val > 0 THEN CAST(len(bin(val)) - 1 AS BIGINT)
           |         ELSE -1 END AS bin
           |  FROM v),
           |base AS (
           |  SELECT bin, CAST(count(*) AS BIGINT) AS cb FROM b
           |  WHERE doc_id % 2 = 0 GROUP BY 1),
           |bh AS (
           |  SELECT 'b' || CAST(doc_id % 4 AS VARCHAR) AS batch, bin,
           |    CAST(count(*) AS BIGINT) AS ca
           |  FROM b WHERE doc_id % 2 = 1 GROUP BY 1, 2),
           |labels AS (SELECT DISTINCT batch FROM bh),
           |lb AS (SELECT l.batch, bb.bin, bb.cb FROM labels l CROSS JOIN base bb),
           |g AS (
           |  SELECT COALESCE(lb.batch, bh.batch) AS batch,
           |    COALESCE(lb.bin, bh.bin) AS bin,
           |    COALESCE(lb.cb, 0) AS cb, COALESCE(bh.ca, 0) AS ca
           |  FROM lb FULL JOIN bh ON bh.batch = lb.batch AND bh.bin = lb.bin),
           |tots AS (
           |  SELECT batch, CAST(sum(ca) AS BIGINT) AS na,
           |    CAST(sum(cb) AS BIGINT) AS nb,
           |    CAST(count(*) AS BIGINT) AS nbins
           |  FROM g GROUP BY 1),
           |c AS (
           |  SELECT g.batch, t.na, t.nbins,
           |    CAST(${pround(
               "(CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE) - " +
               "CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)) * " +
               "log10(CAST((ca + 1) * (nb + nbins) AS DOUBLE) / " +
               "CAST((cb + 1) * (na + nbins) AS DOUBLE))", 6)} AS DECIMAL(18,6)) AS contrib
           |  FROM g JOIN tots t USING (batch))
           |SELECT batch, max(na) AS n_rows, max(nbins) AS n_bins,
           |  CAST(sum(contrib) AS DOUBLE) AS psi
           |FROM c GROUP BY batch""".stripMargin)),

    // MOSS-style winnowing: doc pairs sharing >= 2 selected
    // fingerprints (min md5 of each 4-window over char 8-grams);
    // fingerprints in > 20 docs are boilerplate and dropped
    Entry("q147_winnow_pairs", (s, d) =>
      Dedup.winnowedPairs(t(s, d, "documents"), "text", "doc_id",
        k = 8, w = 4, minShared = 2, maxDf = 20),
      // same k=8 grams / w=4 windows / min-md5 selection, ROW-BASED:
      // one row per gram position, the window min as a frame aggregate
      // (ROWS CURRENT..3 FOLLOWING ordered by position within doc).
      // The former list form — list_min(hs[j : j+3]) inside a
      // list_transform — copied a fresh 4-slice per window, O(n·w)
      // allocations that made this the ratchet's worst oracle
      // (1,307 s at sf1.0; the row form is ~70× cheaper at sf0.1 with
      // identical output). Docs shorter than 4 grams keep only the
      // i=1 window, whose frame covers the whole gram stream = the
      // old list_min(hs) fallback; docs under k=8 chars emit nothing.
      Some(
        """WITH pos AS (
          |  SELECT doc_id, unnest(range(1, len(text) - 6)) AS i,
          |    lower(text) AS lt
          |  FROM documents WHERE len(text) >= 8),
          |h AS (SELECT doc_id, i, md5(substr(lt, i, 8)) AS hv FROM pos),
          |w AS (
          |  SELECT doc_id, i,
          |    min(hv) OVER (PARTITION BY doc_id ORDER BY i
          |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
          |    count(*) OVER (PARTITION BY doc_id) AS ng
          |  FROM h),
          |s AS (
          |  SELECT DISTINCT doc_id, mn AS fp FROM w
          |  WHERE (ng < 4 AND i = 1) OR (ng >= 4 AND i <= ng - 3)),
          |keep AS (
          |  SELECT fp FROM s GROUP BY fp HAVING count(*) BETWEEN 2 AND 20),
          |p AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM s a JOIN s b USING (fp) JOIN keep USING (fp)
          |  WHERE a.doc_id < b.doc_id)
          |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
          |FROM p GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // record-linkage: each part's nearest other part by edit distance,
    // blocked on the first name token (quadratic only within a block)
    Entry("q144_fuzzy_match", (s, d) =>
      operators.FuzzyJoin.nearestMatch(t(s, d, "part"), "p_name",
        "p_partkey", maxDist = 3),
      // same first-token blocking + per-record best (dist, match_id)
      // order; DuckDB levenshtein is the same unit-cost edit distance
      // Spark computes (threshold arg only short-circuits the DP).
      // Pairs over DISTINCT NAMES, mirroring the operator — the
      // record-level self-join this replaced was quadratic in block
      // DENSITY (100× pairs for 10× rows at sf1.0, where every name
      // exists ×10) while the distinct-name pair space is constant.
      // Record-level best decomposes exactly: a duplicated name's best
      // is its min other id at dist 0 (cross-name dist ≥ 1 can never
      // win); a unique name's best is the min (dist, id1) cross-name.
      Some(
        """WITH p AS (
          |  SELECT p_partkey AS id, lower(trim(p_name)) AS nm FROM part),
          |d AS (
          |  SELECT nm, min(id) AS id1,
          |    min(CASE WHEN rn = 2 THEN id END) AS id2,
          |    count(*) AS c
          |  FROM (SELECT nm, id,
          |          row_number() OVER (PARTITION BY nm ORDER BY id) AS rn
          |        FROM p)
          |  GROUP BY nm),
          |dn AS (SELECT d.*, regexp_split_to_array(nm, '\s+')[1] AS blk FROM d),
          |x AS (
          |  SELECT a.nm, b.id1 AS xid, levenshtein(a.nm, b.nm) AS dist
          |  FROM dn a JOIN dn b ON a.blk = b.blk AND a.nm <> b.nm),
          |bx AS (
          |  SELECT nm, xid, dist,
          |    row_number() OVER (PARTITION BY nm ORDER BY dist, xid) AS rn
          |  FROM x WHERE dist <= 3)
          |SELECT p.id,
          |  CASE WHEN d.c > 1
          |       THEN (CASE WHEN p.id = d.id1 THEN d.id2 ELSE d.id1 END)
          |       ELSE bx.xid END AS match_id,
          |  CASE WHEN d.c > 1 THEN 0 ELSE bx.dist END AS dist
          |FROM p JOIN d USING (nm)
          |LEFT JOIN (SELECT nm, xid, dist FROM bx WHERE rn = 1) bx USING (nm)
          |WHERE d.c > 1 OR bx.xid IS NOT NULL""".stripMargin)),

    // collocation mining: top-40 token pairs by document-cooccurrence
    // PMI; ranked on the raw rational ratio (bit-reproducible), log10
    // only in the displayed score
    Entry("q145_pmi_pairs", (s, d) =>
      operators.TfIdf.pmiPairs(t(s, d, "documents"), "text", "doc_id",
          minDf = 5, k = 40)
        .withColumn("pmi", Rounding.pround(col("pmi"), 4)),
      // document-cooccurrence PMI; ORDER BY the raw rational ratio
      // (one IEEE division of exact integers — bit-identical on both
      // engines) so the LIMIT boundary cannot flip on a libm-log ulp
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(list_distinct($toksSql)) AS term FROM documents),
           |dfc AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tok
           |  GROUP BY term HAVING count(*) >= 5),
           |kept AS (SELECT doc_id, term, df FROM tok JOIN dfc USING (term)),
           |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
           |pr AS (
           |  SELECT a.term AS term_a, b.term AS term_b,
           |    CAST(count(*) AS BIGINT) AS n_both,
           |    max(a.df) AS df_a, max(b.df) AS df_b
           |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term
           |  GROUP BY 1, 2),
           |r AS (
           |  SELECT term_a, term_b, n_both,
           |    CAST(n_both * n_docs AS DOUBLE) / CAST(df_a * df_b AS DOUBLE) AS ratio
           |  FROM pr CROSS JOIN n)
           |SELECT term_a, term_b, n_both, ${pround("log10(ratio)", 4)} AS pmi
           |FROM r ORDER BY ratio DESC, term_a, term_b LIMIT 40""".stripMargin)),

    // cross-source-fair filtering primitive: each doc's quality
    // percentile WITHIN its source, in integer basis points (a global
    // threshold over pct_bp drops the same fraction of every source)
    Entry("q141_quality_percentile", (s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextFns.qualityScore(col("text")).as("__q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("__q"), col("doc_id"))
      val counts = base.groupBy("source").agg(count(lit(1)).as("__n"))
      base.withColumn("__rn", row_number().over(w))
        .join(broadcast(counts), "source")
        .select(col("doc_id"), col("source"),
          call_function("div", (col("__rn") - 1L) * 10000L,
            greatest(col("__n") - 1L, lit(1L))).as("pct_bp"))
    },
      // q31's quality formula ranked within source; integer basis
      // points via // over greatest(n-1, 1) so singleton sources land
      // at 0 instead of dividing by zero
      Some(
        s"""WITH q AS (
           |  SELECT doc_id, source,
           |    greatest(least(least(CAST(len(t) AS DOUBLE) / 50.0, 1.0) * 0.4
           |      + (1.0 - abs((CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains($stopwordList, x))) AS DOUBLE) / len(t) ELSE 0.0 END) - 0.25) * 2.0) * 0.3
           |      + (1.0 - least(abs((CASE WHEN len(t) > 0 THEN CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum') AS DOUBLE) / len(t) ELSE 0.0 END) - 5.0) / 5.0, 1.0)) * 0.3, 1.0), 0.0) AS ql
           |  FROM (SELECT doc_id, source, text, $toksSql AS t FROM documents)),
           |r AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source ORDER BY ql, doc_id) AS rn,
           |    count(*) OVER (PARTITION BY source) AS n
           |  FROM q)
           |SELECT doc_id, source,
           |  CAST(((rn - 1) * 10000) // greatest(n - 1, 1) AS BIGINT) AS pct_bp
           |FROM r""".stripMargin)),

    // composed curation pipeline (quality -> language -> exact dedup ->
    // near dedup); the default transitive keep policy resolves one
    // survivor per connected candidate component, and the oracle
    // reproduces it with the unrolled hash-to-min contraction
    // (ccUnrolledSql) — the whole chain stays SQL-expressible and
    // hash-checked.
    // The pipeline's internal persist must not outlive this call (a
    // long-lived driver would strand one cached corpus per invocation,
    // and CacheManager's plan matching would silently serve run 1's
    // cache to run 2's "fresh" execution) — so materialize the result
    // off the cache with an eager localCheckpoint, then release it.
    // Checkpoint blocks are reclaimed by the ContextCleaner when the
    // returned frame is dropped.
    Entry("q46_curation_pipeline", (s, d) => {
      val res = operators.CurationPipeline.run(t(s, d, "documents"), "text",
        "doc_id", withAudit = false)
      val out = res.kept.select("doc_id", "lang", "n_chars")
        .localCheckpoint(eager = true)
      res.unpersist()
      out
    },
      // the transitive-closure (connected-component) keep policy —
      // run()'s default; see curationSql above
      Some(curationSql(transitive = true))),

    // the same curation semantics THROUGH the streaming screen, on one
    // batch against fresh state: gates + hash-table exact dedup +
    // band-key near dedup with intra-batch transitive resolution. One
    // batch from fresh state equals q46's batch pipeline by
    // construction (shared gate predicates, shared nearDupLosers keep
    // policy), so it shares q46's oracle. State lands in a
    // per-invocation temp dir; acceptBatch materializes the result
    // eagerly before committing state.
    Entry("q64_streaming_curation", (s, d) => {
      val state = invocationStateDir("q64", "state")
      streaming.StreamingCuration.acceptBatch(
          t(s, d, "documents"), "text", "doc_id", state)
        .select("doc_id", "lang", "n_chars")
    },
    // one-shot streaming curation (one batch from fresh state) is the
    // batch pipeline by construction — shared gate predicates, shared
    // transitive intra-batch keep policy — so it shares q46's oracle.
    // (Only ACROSS batches does the stream screen degrade to pairwise;
    // the greedy curationSql(false) variant pins that policy in
    // StreamingCurationSpec.)
      Some(curationSql(transitive = true))),

    // q64's screen with the decontamination stage armed: every 10th doc
    // plays the benchmark (its distinct 3-word shingles become the
    // persisted eval-gram table), the rest stream through the full
    // five-stage screen. n=3 matches q66's rationale for short
    // synthetic docs; EAGER like q64/q82 (registerEvalSet commits the
    // gram table before the screen runs)
    Entry("q87_streaming_decontamination", (s, d) => {
      val state = invocationStateDir("q87", "state")
      val docs = t(s, d, "documents")
      streaming.StreamingCuration.registerEvalSet(
        docs.filter(col("doc_id") % 10 === 0), "text", state, n = 3)
      streaming.StreamingCuration.acceptBatch(
          docs.filter(col("doc_id") % 10 =!= 0), "text", "doc_id", state)
        .select("doc_id", "lang", "n_chars")
    },
      // the decontamination stage drops langkept docs sharing any
      // distinct 3-shingle with the eval slice, then dedup proceeds on
      // the survivors — the oracle restates the full five-stage screen
      Some(curationSql(transitive = true,
        corpusWhere = "doc_id % 10 <> 0",
        evalWhere = Some("doc_id % 10 = 0"))))
  )
}
