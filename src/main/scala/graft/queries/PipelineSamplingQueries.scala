package graft
package queries

import graft.functions.{Rounding, TextFns}
import graft.operators.SnapshotPipeline
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — training-data pipeline: sampling, resampling, cohorts and audits. */
object PipelineSamplingQueries {

  lazy val entries: Seq[Entry] = Seq(
    Entry("q28_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"), col("ts"))
      operators.AsOfJoin.backward(clicks, purchases, Seq("user_id"), "ts",
          Map("p_event_id" -> "purchase_id"))
        .select("event_id", "user_id", "purchase_id")
    },
      Some(
        """SELECT c.event_id AS event_id, c.user_id AS user_id, p.event_id AS purchase_id
          |FROM (SELECT * FROM events WHERE event_type = 'click') c
          |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin)),

    // nearest-in-time as-of with the reference's ±450s slot band
    // (reference J6 is a NEAREST argmin, not backward-only; ties keep
    // the backward match — the argmin's first-win scan order)
    Entry("q63_asof_nearest", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"), col("ts"))
      operators.AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts",
          Map("p_event_id" -> "purchase_id"),
          direction = "nearest", toleranceSeconds = Some(450))
        .select("event_id", "user_id", "purchase_id")
    },
      // nearest = closer of the backward and forward as-of matches inside
      // the ±450s band, backward on ties; the forward leg reuses the
      // backward ASOF operator on negated epoch micros
      Some(
        """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
          |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          |b AS (
          |  SELECT c.event_id, c.user_id, c.ts, p.event_id AS b_id,
          |    epoch_us(c.ts) - epoch_us(p.ts) AS b_diff
          |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
          |f AS (
          |  SELECT c2.event_id, p2.event_id AS f_id, c2.nts - p2.nts AS f_diff
          |  FROM (SELECT event_id, user_id, -epoch_us(ts) AS nts FROM c) c2
          |  ASOF LEFT JOIN (SELECT event_id, user_id, -epoch_us(ts) AS nts FROM p) p2
          |    ON c2.user_id = p2.user_id AND c2.nts >= p2.nts)
          |SELECT b.event_id, b.user_id,
          |  CASE
          |    WHEN b_id IS NOT NULL AND b_diff <= 450000000
          |      AND (f_id IS NULL OR f_diff > 450000000 OR b_diff <= f_diff)
          |      THEN b_id
          |    WHEN f_id IS NOT NULL AND f_diff <= 450000000 THEN f_id
          |    ELSE NULL
          |  END AS purchase_id
          |FROM b JOIN f USING (event_id)""".stripMargin)),

    // rows-only: the DSv2 deterministic replay source feeding the full
    // snapshot chain — no files, rows derived from (seed, partition, i)
    Entry("q35_replay_pipeline", (s, _) => {
      val events = s.read.format("graft.sources.ReplaySource")
        .option("rows", 20000).option("partitions", 16).option("seed", 42)
        .load()
      SnapshotPipeline.popularity(
        SnapshotPipeline.curateEvents(SnapshotPipeline.processEvents(events)))
    },
      // Regenerates ReplaySource.row's chained Park–Miller LCG in SQL
      // (seed 42, 20000 rows — must track the q35 query's options), then
      // applies the same process→curate→popularity chain as q19.
      Some(
        s"""WITH g0 AS (
           |  SELECT id, (42 * 1000003 + id) % 2147483647 AS h0 FROM range(0, 20000) t(id)),
           |g1 AS (SELECT id, (h0 * 48271) % 2147483647 AS h1 FROM g0),
           |g2 AS (SELECT id, h1, (h1 * 48271) % 2147483647 AS h2 FROM g1),
           |g3 AS (SELECT id, h1, h2, (h2 * 48271) % 2147483647 AS h3 FROM g2),
           |events AS (
           |  SELECT id AS event_id,
           |    make_timestamp(1704067200000000 + id * 900 + h1 % 1000000) AS ts,
           |    h2 % 1000 AS user_id,
           |    ['click','purchase','error','signup','view'][CAST(h3 % 5 AS INT) + 1] AS event_type
           |  FROM g3),
           |p AS (
           |  SELECT event_id, user_id, event_type,
           |    ${slotFmt("%Y%m%d")} AS day_date_id, ${slotFmt("%H%M")} AS time_of_day_id
           |  FROM events
           |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND user_id >= 0),
           |c AS (SELECT event_id, event_type FROM p
           |      QUALIFY row_number() OVER (PARTITION BY user_id, day_date_id, time_of_day_id ORDER BY event_id ASC) = 1)
           |SELECT event_type, count(event_id) AS num_of_streamers FROM c GROUP BY event_type""".stripMargin)),

    // mixture-rebalancing plan: target recipe 4:2:1:1 over four
    // sources (the rest dropped); keep fractions for the
    // downsample-only re-mix, binding source at 100%
    Entry("q93_mixture_plan", (s, d) =>
      operators.Sampling.mixturePlan(
          t(s, d, "documents"), "source",
          functions.TextFns.bpeishTokenCount(col("text")),
          Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0))
        .select(col("source"), col("n_tokens"),
          Rounding.pround(col("share"), 4).as("share"),
          Rounding.pround(col("target_share"), 4).as("target_share"),
          Rounding.pround(col("keep_frac"), 4).as("keep_frac")),
      // per-source shares vs the normalized 4:2:1:1 recipe; the scale
      // is the binding constraint min(share/target) over recipe rows
      Some(
        s"""WITH tok AS (
           |  SELECT source,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n
           |  FROM documents),
           |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM tok GROUP BY source),
           |t(src, w) AS (VALUES ('src0', 4.0), ('src1', 2.0), ('src2', 1.0), ('src3', 1.0)),
           |j AS (
           |  SELECT s.source, s.n_tokens,
           |    CAST(s.n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM s) AS share,
           |    COALESCE(t.w / (SELECT sum(w) FROM t), 0.0) AS target_share
           |  FROM s LEFT JOIN t ON s.source = t.src),
           |sc AS (SELECT min(share / target_share) AS scale FROM j WHERE target_share > 0)
           |SELECT source, n_tokens, ${pround("share", 4)} AS share,
           |  ${pround("target_share", 4)} AS target_share,
           |  ${pround("CASE WHEN target_share > 0 THEN least(1.0, target_share * (SELECT scale FROM sc) / share) ELSE 0.0 END", 4)} AS keep_frac
           |FROM j""".stripMargin)),

    // fixed-size training shards over the decorrelated shuffle order:
    // the per-shard balance table (doc and token totals) a writer
    // checks before publishing an epoch
    Entry("q91_shard_balance", (s, d) =>
      operators.Packing.shardByRank(
          t(s, d, "documents")
            .withColumn("n", functions.TextFns.bpeishTokenCount(col("text")))
            .select("doc_id", "n"),
          keyCol = "doc_id", shardSize = 64L, hexPrefix = 2)
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok_total")),
      // q76's rank order sliced into 64-row shards; sums use the same
      // bpe-ish token count as q32/q71
      Some(
        """WITH r AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n,
          |    row_number() OVER (
          |      ORDER BY md5('shuffle' || '|' || CAST(doc_id AS VARCHAR)), doc_id)
          |      - 1 AS rk
          |  FROM documents)
          |SELECT rk // 64 AS shard_id, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tok_total
          |FROM r GROUP BY 1""".stripMargin)),

    // stratified deterministic sampling — domain rebalancing by the
    // same content-stable md5 bucket arithmetic as q47/q48
    Entry("q68_stratified_sample", (s, d) =>
      operators.Sampling.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 60, "de" -> 20), defaultPct = 5)
        .select("doc_id", "lang"),
      // NULL lang falls through every stratum arm to the default on both
      // engines (Spark: null predicate skips the when; SQL: CASE -> ELSE)
      Some(
        """SELECT doc_id, lang FROM documents
          |WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 + 100) % 100
          |  < CASE WHEN lang = 'en' THEN 60 WHEN lang = 'de' THEN 20 ELSE 5 END""".stripMargin)),

    // concat-and-chunk sequence packing: per-source token streams cut
    // into 256-token context windows; each doc reports its window and
    // offset. Token counts are q32's verified bpe-ish tokenizer, so the
    // oracle only adds the running-sum arithmetic.
    Entry("q71_pack_windows", (s, d) =>
      operators.Packing.packByConcat(
        t(s, d, "documents").select("doc_id", "source", "text"),
        functions.TextFns.bpeishTokenCount(col("text")), budget = 256L,
        shardCol = "source", orderCol = "doc_id")
        .select("doc_id", "source", "n_tokens", "pack_seq", "pack_offset"),
      // concat-and-chunk packing: q32's tokenizer + a per-source
      // running sum; window floor/mod arithmetic is engine-neutral
      Some(
        """WITH tok AS (
          |  SELECT doc_id, source,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, source, n_tokens,
          |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          |  FROM tok)
          |SELECT doc_id, source, n_tokens,
          |  CAST(floor(cum_before / 256) AS BIGINT) AS pack_seq,
          |  CAST(cum_before % 256 AS BIGINT) AS pack_offset
          |FROM c""".stripMargin)),

    // overlapping fixed-width character chunking (RAG / long-doc
    // pretraining shape): 200-char windows every 150 chars, chunk
    // payload carried as md5 for downstream chunk-level exact dedup
    Entry("q72_chunk_docs", (s, d) =>
      operators.Packing.chunkDocs(
        t(s, d, "documents"), "text", "doc_id", size = 200, stride = 150),
      Some(
        """WITH s AS (
          |  SELECT doc_id, text, unnest(range(0, len(text), 150)) AS start
          |  FROM documents WHERE len(text) > 0)
          |SELECT doc_id,
          |  CAST(start / 150 AS BIGINT) AS chunk_idx,
          |  CAST(start AS BIGINT) AS start,
          |  CAST(len(substr(text, CAST(start AS INT) + 1, 200)) AS BIGINT) AS chunk_len,
          |  md5(substr(text, CAST(start AS INT) + 1, 200)) AS chunk_md5
          |FROM s""".stripMargin)),

    // per-domain cap: at most 15 docs per source, chosen by the
    // content-stable hash order (reproducible pseudo-random subset,
    // not scan order); WindowGroupLimit keeps the shuffle O(groups*cap)
    Entry("q73_domain_caps", (s, d) =>
      operators.Sampling.capPerGroup(
        t(s, d, "documents").select("doc_id", "source"),
        keyCol = "doc_id", groupCol = "source", cap = 15),
      Some(
        """WITH r AS (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5('cap' || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents)
          |SELECT doc_id, source FROM r WHERE rn <= 15""".stripMargin)),

    // token-budget subsampling: each source contributes docs in
    // content-stable hash order until 1000 bpe-ish tokens are spent
    // (q73's row-cap sibling, stated in trainer units)
    Entry("q75_token_budget", (s, d) =>
      operators.Sampling.tokenBudgetSample(
        t(s, d, "documents").select("doc_id", "source", "text"),
        keyCol = "doc_id", groupCol = "source",
        tokensCol = functions.TextFns.bpeishTokenCount(col("text")),
        budget = 1000L)
        .select("doc_id", "source"),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, source,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, source, n_tokens,
          |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
          |      ORDER BY md5('budget' || '|' || CAST(doc_id AS VARCHAR)), doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          |  FROM tok)
          |SELECT doc_id, source FROM c WHERE cum_before < 1000""".stripMargin)),

    // deterministic global shuffle: contiguous [0,n) training-order
    // rank by content-stable hash, computed via hash-prefix buckets +
    // broadcast offsets — no single-partition window anywhere (the
    // oracle's global row_number is the semantics, not the plan)
    Entry("q76_shuffle_rank", (s, d) =>
      operators.Sampling.shuffleRank(
        t(s, d, "documents").select("doc_id", "source"),
        keyCol = "doc_id", hexPrefix = 2)
        .select("doc_id", "shuffle_rank"),
      Some(
        """SELECT doc_id,
          |  row_number() OVER (
          |    ORDER BY md5('shuffle' || '|' || CAST(doc_id AS VARCHAR)), doc_id)
          |    - 1 AS shuffle_rank
          |FROM documents""".stripMargin)),

    // daily cohort retention over the event stream: one distinct-
    // activity frame feeds cohort assignment and the d1/d7 survival
    // counts (conditional countDistincts, no per-offset joins)
    Entry("q79_retention", (s, d) =>
      operators.Cohorts.retention(t(s, d, "events"), "user_id", "ts",
        offsets = Seq(1, 7)),
      Some(
        """WITH act AS (
          |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
          |f AS (SELECT u, min(day) AS cohort_day FROM act GROUP BY u),
          |j AS (
          |  SELECT a.u, f.cohort_day,
          |    date_diff('day', f.cohort_day, a.day) AS off
          |  FROM act a JOIN f ON a.u = f.u)
          |SELECT cohort_day,
          |  count(DISTINCT u) AS cohort_size,
          |  count(DISTINCT CASE WHEN off = 1 THEN u END) AS d1,
          |  count(DISTINCT CASE WHEN off = 7 THEN u END) AS d7
          |FROM j GROUP BY cohort_day""".stripMargin)),

    // ordered signup -> click -> purchase funnel; strictly-after
    // comparisons on microsecond epochs (engine-portable resolution)
    Entry("q80_funnel", (s, d) =>
      operators.Cohorts.funnel(t(s, d, "events"), "user_id", "ts",
        "event_type", steps = Seq("signup", "click", "purchase")),
      Some(
        """WITH e AS (
          |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t FROM events),
          |s1 AS (SELECT u, min(t) AS t FROM e WHERE et = 'signup' GROUP BY u),
          |s2 AS (SELECT e.u, min(e.t) AS t FROM e JOIN s1 ON e.u = s1.u
          |       WHERE e.et = 'click' AND e.t > s1.t GROUP BY e.u),
          |s3 AS (SELECT e.u, min(e.t) AS t FROM e JOIN s2 ON e.u = s2.u
          |       WHERE e.et = 'purchase' AND e.t > s2.t GROUP BY e.u)
          |SELECT 1 AS step, 'signup' AS step_name,
          |  (SELECT count(*) FROM s1) AS n_users
          |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
          |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin)),

    // daily gap-fill resample of the event stream: per-user epoch-
    // aligned grid, latest value carried forward by the verified as-of
    // operator; slots before a user's first event stay null
    Entry("q83_gap_fill", (s, d) =>
      operators.Resample.gapFill(
        t(s, d, "events"), "user_id", "ts",
        Map("value" -> "value_filled"), stepSeconds = 86400L)
        .select(col("user_id"), col("slot"),
          Rounding.pround(col("value_filled"), 4).as("value_filled")),
      // per-user epoch-aligned daily slots, value carried forward by
      // DuckDB's ASOF on the same microsecond epochs
      Some({
        val step = "86400000000"
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events),
           |b AS (SELECT user_id, min(tus) AS mn, max(tus) AS mx FROM e GROUP BY user_id),
           |g AS (
           |  SELECT user_id,
           |    unnest(generate_series(mn - ((mn % $step) + $step) % $step,
           |                           mx - ((mx % $step) + $step) % $step, $step)) AS tus
           |  FROM b),
           |f AS (
           |  SELECT g.user_id, g.tus, e.value
           |  FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.tus >= e.tus)
           |SELECT user_id, tus // 1000000 AS slot,
           |  ${pround("value", 4)} AS value_filled
           |FROM f""".stripMargin
      })),

    // referential-integrity audit over the whole star schema: null FK
    // keys and orphans reported separately per relation
    Entry("q84_ri_audit", (s, d) =>
      operators.Audit.fkOrphans(Seq(
        ("lineitem.orderkey", t(s, d, "lineitem"), "l_orderkey",
          t(s, d, "orders"), "o_orderkey"),
        ("lineitem.partkey", t(s, d, "lineitem"), "l_partkey",
          t(s, d, "part"), "p_partkey"),
        ("lineitem.suppkey", t(s, d, "lineitem"), "l_suppkey",
          t(s, d, "supplier"), "s_suppkey"),
        ("orders.custkey", t(s, d, "orders"), "o_custkey",
          t(s, d, "customer"), "c_custkey"),
        ("customer.nationkey", t(s, d, "customer"), "c_nationkey",
          t(s, d, "nation"), "n_nationkey"),
        ("supplier.nationkey", t(s, d, "supplier"), "s_nationkey",
          t(s, d, "nation"), "n_nationkey"),
        ("nation.regionkey", t(s, d, "nation"), "n_regionkey",
          t(s, d, "region"), "r_regionkey"))),
      Some({
        def rel(name: String, child: String, ck: String,
                parent: String, pk: String) =
          s"""SELECT '$name' AS relation,
             |  (SELECT count(*) FROM $child) AS n_child,
             |  (SELECT count(*) - count($ck) FROM $child) AS n_null_keys,
             |  (SELECT count(*) FROM $child c
             |   LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$ck = p.$pk
             |   WHERE c.$ck IS NOT NULL AND p.$pk IS NULL) AS n_orphans""".stripMargin
        Seq(
          rel("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          rel("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
          rel("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          rel("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
          rel("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
          rel("supplier.nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
          rel("nation.regionkey", "nation", "n_regionkey", "region", "r_regionkey")
        ).mkString("\nUNION ALL\n")
      })),

    // event-time lateness histogram in arrival order (watermark-delay
    // sizing): distributed prefix-max, no single-partition window
    Entry("q99_lateness_audit", (s, d) =>
      operators.Audit.latenessAudit(
        t(s, d, "events"), "ts", "event_id",
        boundsSeconds = Seq(60L, 900L)),
      // prior-max over arrival order as a plain window (fine for an
      // oracle); lateness 0 or first event = on_time
      Some(
        """WITH e AS (SELECT event_id, epoch_us(ts) AS t FROM events WHERE ts IS NOT NULL),
          |m AS (
          |  SELECT t, max(t) OVER (
          |    ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          |  FROM e)
          |SELECT CASE
          |    WHEN pm IS NULL OR pm - t <= 0 THEN 'on_time'
          |    WHEN pm - t <= 60000000 THEN 'le_60s'
          |    WHEN pm - t <= 900000000 THEN 'le_900s'
          |    ELSE 'gt_900s' END AS bucket,
          |  count(*) AS n
          |FROM m GROUP BY 1""".stripMargin)),

    // seasonality screen: lag-1 autocorrelation of daily volume per
    // event type — BIGINT-exact sums, IEEE-exact sqrt, one division
    Entry("q172_autocorr", (s, d) =>
      operators.Resample.autocorr1(
        t(s, d, "events")
          .groupBy(col("event_type"),
            unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(count(lit(1)).cast("long").as("n")),
        "event_type", "day", "n")
        .select(col("event_type"), col("n_pairs"),
          Rounding.pround(col("r1"), 6).as("r1")),
      // six BIGINT-exact sums over the (day, day+1) pairs; operand
      // order of the final expression mirrored exactly
      Some(
        s"""WITH ds AS (
           |  SELECT event_type,
           |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
           |    CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |p AS (
           |  SELECT c.event_type, c.y AS a, n.y AS b
           |  FROM ds c JOIN ds n
           |    ON n.event_type = c.event_type AND n.x = c.x + 1),
           |g AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
           |    CAST(sum(a * b) AS BIGINT) AS sab,
           |    CAST(sum(a * a) AS BIGINT) AS saa,
           |    CAST(sum(b * b) AS BIGINT) AS sbb
           |  FROM p GROUP BY 1)
           |SELECT event_type, n_pairs,
           |  ${pround("CASE WHEN CAST(n_pairs * saa - sa * sa AS DOUBLE) > 0 AND CAST(n_pairs * sbb - sb * sb AS DOUBLE) > 0 THEN CAST(n_pairs * sab - sa * sb AS DOUBLE) / (sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE)) * sqrt(CAST(n_pairs * sbb - sb * sb AS DOUBLE))) ELSE 0.0 END", 6)} AS r1
           |FROM g""".stripMargin)),

    // skew-aware enrichment: the hot-key/cold-key two-path join —
    // detected hot users take a broadcast path AQE cannot choose
    // declaratively; result is identical to the plain join (which IS
    // the oracle), whatever the tie-broken hot set
    Entry("q198_skew_enriched", (s, d) => {
      val ev = t(s, d, "events")
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val hot = operators.SkewJoin.topKeys(ev, Seq("user_id"), 5)
      operators.SkewJoin.hotColdJoin(ev, cust, Seq("user_id"), hot)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          dsum(col("value")).as("total_value"))
    },
      // the two-path skew join is result-preserving — the oracle is
      // the plain enrichment join
      Some(
        """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
          |FROM events JOIN customer ON user_id = c_custkey
          |GROUP BY 1""".stripMargin)),

    // ops card: daily session bounce rate (single-event sessions)
    Entry("q192_bounce_rate", (s, d) =>
      operators.Sessionize.sessions(t(s, d, "events"), "user_id", "ts",
          gapSeconds = 3600)
        .groupBy(date_format(col("session_start"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).cast("long")
            .as("n_bounce"))
        .withColumn("bounce_bp",
          call_function("div", col("n_bounce") * 10000L, col("n_sessions"))),
      // q40's session CTE rolled up to daily bounce shares
      Some(
        """WITH g AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 3600
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts,
          |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |  FROM g),
          |se AS (
          |  SELECT user_id, session_id, min(ts) AS session_start,
          |    CAST(count(*) AS BIGINT) AS n_events
          |  FROM s GROUP BY 1, 2)
          |SELECT strftime(session_start, '%Y-%m-%d') AS day,
          |  CAST(count(*) AS BIGINT) AS n_sessions,
          |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
          |  (CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000)
          |    // CAST(count(*) AS BIGINT) AS bounce_bp
          |FROM se GROUP BY 1""".stripMargin)),

    // train/eval firewall: hash split, then drop from TRAIN anything
    // sharing a distinct 3-shingle with the test slice — the static
    // make-your-own-eval-safe op (q116 guards near-dup leakage; this
    // guards verbatim n-gram leakage)
    Entry("q189_firewalled_split", (s, d) => {
      val split = operators.Sampling.datasetSplit(
        t(s, d, "documents"), "doc_id")
      val clean = operators.Decontamination.decontaminate(
        split.filter(col("split") === "train"),
        split.filter(col("split") === "test").select("doc_id", "text"),
        "text", n = 3)
      split.groupBy(col("split"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .join(broadcast(clean
            .agg(count(lit(1)).cast("long").as("__clean"))
            .withColumn("split", lit("train"))),
          Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          coalesce(col("__clean"), col("n_docs")).as("n_after_firewall"))
    },
      // q68's hash-bucket split + q66's distinct-shingle overlap as
      // the train-side anti-join
      Some(
        s"""WITH s AS (
           |  SELECT doc_id, text,
           |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id, text,
           |          (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 + 100) % 100 AS b
           |        FROM documents)),
           |g3 AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sgl
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |ev AS (
           |  SELECT DISTINCT g3.sgl FROM g3
           |  JOIN s ON s.doc_id = g3.doc_id AND s.split = 'test'),
           |bad AS (
           |  SELECT DISTINCT g3.doc_id FROM g3
           |  JOIN ev USING (sgl)
           |  JOIN s ON s.doc_id = g3.doc_id AND s.split = 'train'),
           |base AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs
           |         FROM s GROUP BY 1),
           |cl AS (SELECT CAST(count(*) AS BIGINT) AS c FROM s
           |       WHERE split = 'train'
           |         AND doc_id NOT IN (SELECT doc_id FROM bad))
           |SELECT split, n_docs,
           |  CASE WHEN split = 'train' THEN (SELECT c FROM cl)
           |       ELSE n_docs END AS n_after_firewall
           |FROM base""".stripMargin)),

    // the manifest handed to the trainer: per (epoch, shard) doc and
    // token totals of the q135 deterministic shuffle plan
    Entry("q181_epoch_manifest", (s, d) => {
      val docs = t(s, d, "documents")
      operators.Sampling.epochShards(docs, "doc_id", epochs = 2, shards = 8)
        .join(docs.select(col("doc_id"),
          TextFns.bpeishTokenCount(col("text")).as("__t")), "doc_id")
        .groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("__t")).cast("long").as("n_tokens"))
    },
      // q135's epoch/shard assignment joined back to token counts —
      // the per-(epoch, shard) training manifest
      Some(
        """WITH e AS (SELECT doc_id, unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS epoch FROM documents),
          |k AS (SELECT doc_id, epoch,
          |        md5('epoch' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)) AS order_key
          |      FROM e),
          |a AS (SELECT doc_id, epoch,
          |        CAST(('0x' || substr(order_key, 1, 15)) AS BIGINT) % 8 AS shard
          |      FROM k),
          |tok AS (SELECT doc_id,
          |        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS t
          |      FROM documents)
          |SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(t) AS BIGINT) AS n_tokens
          |FROM a JOIN tok USING (doc_id)
          |GROUP BY 1, 2""".stripMargin)),

    // market-basket pair affinity over order lineitems: top-30
    // co-purchased part pairs by support, lift in exact basis points;
    // the head cut is a TakeOrderedAndProject under a total
    // (support desc, pair) order
    Entry("q211_basket_affinity", (s, d) =>
      operators.Basket.pairAffinity(t(s, d, "lineitem"),
          "l_orderkey", "l_partkey", minPairs = 2L)
        .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
        .limit(30),
      // pair supports from per-order distinct part pairs; lift by the
      // identical BIGINT floor formula; same (support desc, pair) head
      Some(
        """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
          |ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS ni FROM b GROUP BY 1),
          |p AS (
          |  SELECT x.l_partkey AS item_a, y.l_partkey AS item_b,
          |    CAST(count(*) AS BIGINT) AS n_ab
          |  FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
          |    AND x.l_partkey < y.l_partkey
          |  GROUP BY 1, 2 HAVING n_ab >= 2)
          |SELECT item_a, item_b, n_ab,
          |  ia.ni AS n_a, ib.ni AS n_b,
          |  n_ab * nb.n * 10000 // (ia.ni * ib.ni) AS lift_bp
          |FROM p
          |JOIN ic ia ON ia.l_partkey = item_a
          |JOIN ic ib ON ib.l_partkey = item_b, nb
          |ORDER BY n_ab DESC, item_a, item_b LIMIT 30""".stripMargin)),

    // k-anonymity release-risk audit over the (nation, segment)
    // quasi-identifier: equivalence-class size histogram with per-size
    // violation flags at k=10 — two hash aggregates (q173's
    // counts-of-counts shape), all integers
    Entry("q226_k_anonymity", (s, d) =>
      operators.Audit.kAnonymity(t(s, d, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10L),
      Some(
        """WITH ec AS (
          |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS sz
          |  FROM customer GROUP BY 1, 2)
          |SELECT sz AS class_size, CAST(count(*) AS BIGINT) AS n_classes,
          |  CAST(sz * count(*) AS BIGINT) AS n_rows,
          |  sz < 10 AS violates_k
          |FROM ec GROUP BY sz""".stripMargin)),

    // sentence-respecting ~64-token chunks (the RAG-prep shape): the
    // chunk id is floor(exact-prefix-sum / budget), so no sentence is
    // ever split and the assignment is engine-replayable
    Entry("q229_sentence_chunks", (s, d) =>
      operators.Packing.sentenceChunks(t(s, d, "documents"),
        "text", "doc_id", tokenBudget = 64L),
      // same filtered-split order, same bpe-ish token count, same
      // prefix-sum // budget chunk id
      Some(
        """WITH s AS (
          |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS sent_idx,
          |    unnest(parts) AS sent
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(text, '[.!?]\s+'),
          |                      x -> len(x) > 0) AS parts
          |        FROM documents)),
          |t AS (
          |  SELECT doc_id, sent_idx,
          |    CAST(len(regexp_extract_all(sent, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok
          |  FROM s),
          |c AS (
          |  SELECT doc_id, tok,
          |    COALESCE(CAST(sum(tok) OVER (PARTITION BY doc_id ORDER BY sent_idx
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS bef
          |  FROM t)
          |SELECT doc_id, CAST(bef // 64 AS BIGINT) AS chunk_id,
          |  CAST(count(*) AS BIGINT) AS n_sentences,
          |  CAST(sum(tok) AS BIGINT) AS n_tokens
          |FROM c GROUP BY 1, 2""".stripMargin)),

    // the skewness-attack companion (privacy trio with q226/q227):
    // per-class total-variation distance of the priority distribution
    // from the global one, pround6+DECIMAL-summed, flagged above 0.05
    Entry("q228_t_closeness", (s, d) =>
      operators.Audit.tCloseness(
        t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey")),
        Seq("c_nationkey", "c_mktsegment"), "o_orderpriority", maxTv = 0.05)
        .withColumn("tv", Rounding.pround(col("tv"), 4)),
      // identical contribution formula; the grid joins the
      // nature-bounded sensitive-value table onto every class
      Some(
        s"""WITH j AS (
           |  SELECT c_nationkey, c_mktsegment, o_orderpriority
           |  FROM customer JOIN orders ON c_custkey = o_custkey),
           |cs AS (
           |  SELECT c_nationkey, c_mktsegment, o_orderpriority,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM j GROUP BY 1, 2, 3),
           |ct AS (
           |  SELECT c_nationkey, c_mktsegment, CAST(sum(c) AS BIGINT) AS n
           |  FROM cs GROUP BY 1, 2),
           |gs AS (SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS cg
           |       FROM cs GROUP BY 1),
           |gt AS (SELECT CAST(sum(cg) AS BIGINT) AS nn FROM gs),
           |grid AS (SELECT * FROM ct, gs, gt),
           |tv AS (
           |  SELECT g.c_nationkey, g.c_mktsegment, g.n,
           |    CAST(floor(0.5 * abs(
           |      CAST(COALESCE(cs.c, 0) AS DOUBLE) / CAST(g.n AS DOUBLE) -
           |      CAST(g.cg AS DOUBLE) / CAST(g.nn AS DOUBLE)
           |    ) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS tvc
           |  FROM grid g
           |  LEFT JOIN cs ON cs.c_nationkey = g.c_nationkey
           |    AND cs.c_mktsegment = g.c_mktsegment
           |    AND cs.o_orderpriority = g.o_orderpriority)
           |SELECT c_nationkey, c_mktsegment,
           |  CAST(max(n) AS BIGINT) AS class_size,
           |  ${pround("CAST(sum(tvc) AS DOUBLE)", 4)} AS tv,
           |  CAST(sum(tvc) AS DOUBLE) > 0.05 AS violates_t
           |FROM tv GROUP BY 1, 2""".stripMargin)),

    // the homogeneity-attack companion: per (nation, segment) class,
    // distinct order-priority diversity — big-but-homogeneous classes
    // surface as (large class_size, diversity < l) rows
    Entry("q227_l_diversity", (s, d) =>
      operators.Audit.lDiversity(
        t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey")),
        Seq("c_nationkey", "c_mktsegment"), "o_orderpriority", l = 3L),
      // NULL sensitive values count as one distinct value (engine
      // contract, matching t-closeness); o_orderpriority is NOT NULL
      // so the correction term is 0 here, but the oracle carries it to
      // keep the semantic contract aligned
      Some(
        """WITH ec AS (
          |  SELECT c_nationkey, c_mktsegment,
          |    CAST(count(*) AS BIGINT) AS sz,
          |    CAST(count(DISTINCT o_orderpriority)
          |         + CASE WHEN count(*) > count(o_orderpriority) THEN 1 ELSE 0 END
          |         AS BIGINT) AS div
          |  FROM customer JOIN orders ON c_custkey = o_custkey
          |  GROUP BY 1, 2)
          |SELECT sz AS class_size, div AS diversity,
          |  CAST(count(*) AS BIGINT) AS n_classes,
          |  div < 3 AS violates_l
          |FROM ec GROUP BY 1, 2""".stripMargin)),

    // cohort LTV triangle: customers by first-purchase month, revenue
    // by integer months-since-cohort age — exact DECIMAL sums, month
    // arithmetic as year*12+month (no fractional intervals)
    Entry("q240_cohort_ltv", (s, d) =>
      operators.Cohorts.cohortLtv(t(s, d, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice"),
      // first-purchase month via one keyed aggregate; integer month
      // age; exact DECIMAL revenue rounded only on output
      Some(
        """WITH f AS (
          |  SELECT o_custkey, min(o_orderdate) AS c FROM orders GROUP BY 1),
          |j AS (
          |  SELECT o.o_custkey, o.o_orderdate, o.o_totalprice, f.c
          |  FROM orders o JOIN f USING (o_custkey))
          |SELECT CAST(year(c) AS BIGINT) AS cohort_year,
          |  CAST(month(c) AS BIGINT) AS cohort_month,
          |  CAST(year(o_orderdate) * 12 + month(o_orderdate)
          |    - year(c) * 12 - month(c) AS BIGINT) AS age_months,
          |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
          |  CAST(count(*) AS BIGINT) AS n_orders,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
          |FROM j GROUP BY 1, 2, 3""".stripMargin)),

    // approximate-FD audit source -> lang: per source the majority
    // language, g3 violation count, and strength in basis points;
    // majority ties break to the smallest value (min(struct(-c, dep)))
    Entry("q254_fd_strength", (s, d) =>
      operators.Audit.fdStrength(t(s, d, "documents"),
        Seq("source"), "lang"),
      // majority via row_number over (count desc, lang) — the same
      // (max count, tie -> smallest value) order as min(struct(-c, d))
      Some(
        """WITH p AS (
          |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          |  FROM documents GROUP BY 1, 2),
          |r AS (
          |  SELECT source, lang, c,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY c DESC, lang) AS rn
          |  FROM p),
          |m AS (
          |  SELECT source, CAST(sum(c) AS BIGINT) AS n_rows,
          |    CAST(count(*) AS BIGINT) AS n_dep_values
          |  FROM p GROUP BY 1)
          |SELECT m.source, m.n_rows, m.n_dep_values,
          |  r.lang AS majority_value, r.c AS n_majority,
          |  CAST(m.n_rows - r.c AS BIGINT) AS n_violations,
          |  CAST(r.c * 10000 // m.n_rows AS BIGINT) AS strength_bp
          |FROM m JOIN r ON r.source = m.source AND r.rn = 1""".stripMargin)),

    // deterministic weighted sample without replacement: 50 docs by
    // Efraimidis-Spirakis keys with md5-derived u — ln(u)/w top-n,
    // no RNG, engine-replayable
    Entry("q259_weighted_sample", (s, d) =>
      operators.Sampling.weightedSample(
        t(s, d, "documents")
          .select(col("doc_id"),
            size(functions.TextFns.tokens(col("text"))).cast("long")
              .as("n_tok")),
        "doc_id", "n_tok", n = 50),
      // same md5('wrs|key') 48-bit u and ln(u)/w score; plain global
      // top-50 on DuckDB's single node
      Some(
        s"""WITH d AS (
           |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS w
           |  FROM documents),
           |k AS (
           |  SELECT doc_id, w,
           |    CAST(('0x' || substr(md5('wrs' || '|' ||
           |      CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
           |  FROM d WHERE w > 0),
           |s AS (
           |  SELECT doc_id, w,
           |    ln((CAST(h AS DOUBLE) + 1.0) / 281474976710656.0) /
           |      CAST(w AS DOUBLE) AS sc
           |  FROM k)
           |SELECT doc_id, w AS weight, ${pround("sc", 6)} AS es_score
           |FROM s ORDER BY sc DESC, doc_id LIMIT 50""".stripMargin)),

    // recency-weighted engagement leaderboard: top-10 users by
    // half-life-decayed value sum (T = corpus max ts, 7-day half
    // life); pround6 contributions, DECIMAL-exact totals
    Entry("q260_decayed_scores", (s, d) =>
      operators.Resample.decayedScores(t(s, d, "events"),
        "user_id", "ts", "value", halfLifeDays = 7.0)
        .orderBy(col("decayed").desc, col("user_id"))
        .limit(10),
      // fixed T = max(ts); per-event pround6 contribution with the
      // exact ln2 literal, DECIMAL(18,6) sums, top-10 total order
      Some(
        """WITH t AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
          |c AS (
          |  SELECT user_id,
          |    CAST(floor(value * exp(CAST(epoch_us(ts) - tmax AS DOUBLE) /
          |      604800000000.0 * 0.6931471805599453) * 1000000 + 0.5)
          |      / 1000000 AS DECIMAL(18,6)) AS c6
          |  FROM events, t),
          |g AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |    CAST(sum(c6) AS DOUBLE) AS decayed
          |  FROM c GROUP BY 1)
          |SELECT user_id, n_events, decayed
          |FROM g ORDER BY decayed DESC, user_id LIMIT 10""".stripMargin)),

    // Theil-Sen robust daily-volume trend per event type — median of
    // pairwise slopes over the day-bounded series, next to q163's OLS
    Entry("q261_theil_sen", (s, d) =>
      operators.Resample.theilSen(
        t(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("x"))
          .agg(count(lit(1)).cast("long").as("y")),
        "event_type", "x", "y"),
      // all pairwise slopes within each day-bounded series; median by
      // row_number/count over (m+1)//2 and m//2+1; midpoint mean
      Some(
        """WITH d AS (
          |  SELECT event_type, epoch_us(ts) // 86400000000 AS x,
          |    CAST(count(*) AS BIGINT) AS y
          |  FROM events GROUP BY 1, 2),
          |p AS (
          |  SELECT a.event_type,
          |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
          |  FROM d a JOIN d b
          |    ON a.event_type = b.event_type AND a.x < b.x),
          |r AS (
          |  SELECT event_type, s,
          |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY s)
          |      AS BIGINT) AS rn,
          |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
          |  FROM p)
          |SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
          |  floor(sum(s) / count(*) * 1000000 + 0.5) / 1000000 AS slope
          |FROM r WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
          |GROUP BY 1""".stripMargin)),

    // last-touch revenue attribution: each purchase credited to the
    // user's latest preceding non-purchase event type via the verified
    // as-of backward join; exact DECIMAL revenue
    Entry("q263_last_touch", (s, d) => {
      val ev = t(s, d, "events")
      operators.AsOfJoin.backward(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts"), col("event_type")),
        Seq("user_id"), "ts", Map("event_type" -> "channel"))
        .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
        .agg(count(lit(1)).cast("long").as("n_purchases"),
          dsum(col("value")).as("revenue"))
    },
      // DuckDB ASOF: latest non-purchase touch with ts <= purchase ts
      Some(
        """WITH p AS (SELECT user_id, ts, value FROM events
          |  WHERE event_type = 'purchase'),
          |tch AS (SELECT user_id, ts, event_type FROM events
          |  WHERE event_type <> 'purchase'),
          |a AS (
          |  SELECT p.value, t.event_type AS channel
          |  FROM p ASOF LEFT JOIN tch t
          |    ON p.user_id = t.user_id AND p.ts >= t.ts)
          |SELECT coalesce(channel, 'none') AS channel,
          |  CAST(count(*) AS BIGINT) AS n_purchases,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
          |    AS revenue
          |FROM a GROUP BY 1""".stripMargin)),

    // "also bought" shelf: item-item cosine² top-5 over order-basket
    // co-occurrence — rational score, exact-integer ranking
    Entry("q280_item_cosine", (s, d) =>
      operators.Basket.cosineTopK(t(s, d, "lineitem"),
        "l_orderkey", "l_partkey", k = 5, minPairs = 2L),
      Some(
        """WITH bi AS (
          |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
          |  FROM lineitem),
          |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni
          |       FROM bi GROUP BY 1),
          |p AS (SELECT a.i AS ia, bb.i AS ib,
          |        CAST(count(*) AS BIGINT) AS nab
          |      FROM bi a JOIN bi bb ON a.b = bb.b AND a.i < bb.i
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |d AS (SELECT ia, ib, nab FROM p
          |      UNION ALL SELECT ib, ia, nab FROM p),
          |sc AS (SELECT d.ia AS item_id, d.ib AS partner, d.nab AS n_ab,
          |        CAST(CAST(d.nab AS HUGEINT) * d.nab * 100000000
          |          // (CAST(ca.ni AS HUGEINT) * cb.ni) AS BIGINT)
          |          AS cos2_e8
          |       FROM d JOIN ic ca ON d.ia = ca.i
          |         JOIN ic cb ON d.ib = cb.i)
          |SELECT item_id, partner, n_ab, cos2_e8,
          |  CAST(rn AS BIGINT) AS rank
          |FROM (SELECT *, row_number() OVER (PARTITION BY item_id
          |        ORDER BY cos2_e8 DESC, n_ab DESC, partner) AS rn
          |      FROM sc)
          |WHERE rn <= 5""".stripMargin)),

    // lead-lag discovery: cross-correlation of daily order placements
    // against daily shipments at lags -7..7 — |r| peaks at the
    // order-to-ship lead time
    Entry("q282_cross_corr", (s, d) => {
      val xs = t(s, d, "orders")
        .groupBy(unix_date(to_date(col("o_orderdate"))).cast("long")
          .as("d"))
        .agg(count(lit(1)).cast("long").as("x"))
      val ys = t(s, d, "lineitem")
        .groupBy(unix_date(to_date(col("l_shipdate"))).cast("long")
          .as("d"))
        .agg(count(lit(1)).cast("long").as("y"))
      operators.Resample.crossCorr(xs, ys, "d", "x", "y", maxLag = 7)
        .select(col("lag"), col("n_pairs"), Rounding.pround(col("r"), 6).as("r"))
    },
      Some(
        s"""WITH xs AS (
           |  SELECT CAST(date_diff('day', DATE '1970-01-01',
           |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM orders GROUP BY 1),
           |ys AS (
           |  SELECT CAST(date_diff('day', DATE '1970-01-01',
           |      CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
           |    CAST(count(*) AS BIGINT) AS y
           |  FROM lineitem GROUP BY 1),
           |l AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lag),
           |g AS (
           |  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(xs.x) AS BIGINT) AS sa,
           |    CAST(sum(ys.y) AS BIGINT) AS sb,
           |    CAST(sum(xs.x * ys.y) AS BIGINT) AS sab,
           |    CAST(sum(xs.x * xs.x) AS BIGINT) AS saa,
           |    CAST(sum(ys.y * ys.y) AS BIGINT) AS sbb
           |  FROM xs CROSS JOIN l JOIN ys ON ys.d = xs.d + l.lag
           |  GROUP BY 1)
           |SELECT lag, n_pairs,
           |  ${pround("CASE WHEN CAST(n_pairs * saa - sa * sa AS DOUBLE) > 0 AND CAST(n_pairs * sbb - sb * sb AS DOUBLE) > 0 THEN CAST(n_pairs * sab - sa * sb AS DOUBLE) / (sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE)) * sqrt(CAST(n_pairs * sbb - sb * sb AS DOUBLE))) ELSE 0.0 END", 6)} AS r
           |FROM g""".stripMargin)),

    // SPC p-chart over the daily returned-line proportion — all-integer
    // control card, variable-n Shewhart limits around the global rate
    Entry("q284_p_chart", (s, d) =>
      operators.Audit.pChart(
        t(s, d, "lineitem")
          .select(unix_date(to_date(col("l_shipdate"))).cast("long")
            .as("ship_day"),
            when(col("l_returnflag") === "R", 1L)
              .otherwise(0L).as("ret")),
        "ship_day", "ret")
        .withColumn("out_of_control",
          col("out_of_control").cast("long")),
      Some(
        """WITH pd AS (
          |  SELECT CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(l_shipdate AS DATE)) AS BIGINT) AS period,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN l_returnflag = 'R'
          |      THEN 1 ELSE 0 END) AS BIGINT) AS k
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
          |      CAST(sum(k) AS BIGINT) AS tk FROM pd),
          |sel AS (
          |  SELECT period, n, k,
          |    CAST(CAST(k AS HUGEINT) * 1000000 // n AS BIGINT) AS rate_e6,
          |    CAST(floor((CAST(tk AS DOUBLE) / tn
          |      + 3.0 * sqrt(CAST(tk AS DOUBLE) / tn
          |        * (1.0 - CAST(tk AS DOUBLE) / tn) / n)) * 1e6 + 0.5)
          |      AS BIGINT) AS ucl_e6,
          |    CAST(floor(greatest(0.0, CAST(tk AS DOUBLE) / tn
          |      - 3.0 * sqrt(CAST(tk AS DOUBLE) / tn
          |        * (1.0 - CAST(tk AS DOUBLE) / tn) / n)) * 1e6 + 0.5)
          |      AS BIGINT) AS lcl_e6
          |  FROM pd, t)
          |SELECT period, n, k, rate_e6, ucl_e6, lcl_e6,
          |  CAST(CASE WHEN rate_e6 > ucl_e6 OR rate_e6 < lcl_e6
          |    THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
          |FROM sel""".stripMargin)),

    // demand elasticity per brand: log-log OLS of daily quantity on
    // the daily average unit price (e4-cent units — slope and r² are
    // scale-invariant), the zipfFit discipline grouped
    Entry("q289_price_elasticity", (s, d) => {
      val daily = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), to_date(col("l_shipdate")).as("__day"))
        .agg((sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")) * 10000).cast("long").as("__rev"),
          sum(col("l_quantity").cast("long")).cast("long").as("__qty"))
      operators.Resample.logLogSlope(
        daily.select(col("p_brand"),
          (col("__rev").cast("double") / col("__qty").cast("double"))
            .as("price"),
          col("__qty").cast("double").as("qty")),
        "p_brand", "price", "qty")
        .select(col("p_brand"), col("n_points"),
          col("slope").as("elasticity"), col("r2"))
    },
      Some(
        """WITH daily AS (
          |  SELECT p_brand, CAST(l_shipdate AS DATE) AS day,
          |    CAST(sum(CAST(l_extendedprice * (1 - l_discount)
          |      AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev,
          |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          |  FROM lineitem JOIN part ON p_partkey = l_partkey
          |  GROUP BY 1, 2),
          |p AS (
          |  SELECT p_brand,
          |    floor(ln(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE))
          |      * 1000000 + 0.5) / 1000000 AS x,
          |    floor(ln(CAST(qty AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS y
          |  FROM daily
          |  WHERE CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE) > 0
          |    AND qty > 0),
          |sm AS (
          |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_points,
          |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
          |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
          |    CAST(sum(CAST(floor(x * x * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
          |    CAST(sum(CAST(floor(x * y * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
          |    CAST(sum(CAST(floor(y * y * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(18,6))) AS DOUBLE) AS syy
          |  FROM p GROUP BY 1)
          |SELECT p_brand, n_points,
          |  CASE WHEN CAST(n_points AS DOUBLE) * sxx - sx * sx <> 0.0 THEN
          |    floor((CAST(n_points AS DOUBLE) * sxy - sx * sy) /
          |      (CAST(n_points AS DOUBLE) * sxx - sx * sx)
          |      * 1000000 + 0.5) / 1000000 END AS elasticity,
          |  CASE WHEN CAST(n_points AS DOUBLE) * sxx - sx * sx <> 0.0
          |        AND CAST(n_points AS DOUBLE) * syy - sy * sy <> 0.0 THEN
          |    floor(((CAST(n_points AS DOUBLE) * sxy - sx * sy) *
          |      (CAST(n_points AS DOUBLE) * sxy - sx * sy)) /
          |      ((CAST(n_points AS DOUBLE) * sxx - sx * sx) *
          |       (CAST(n_points AS DOUBLE) * syy - sy * sy))
          |      * 1000000 + 0.5) / 1000000 END AS r2
          |FROM sm""".stripMargin)),

    // period-over-period movement matrix: order-frequency bands
    // before/after the 1995 wall, churn (to 0) and acquisition
    // (from 0) cells included — deterministic integer cuts, no
    // quantile boundary
    Entry("q290_segment_migration", (s, d) =>
      operators.Cohorts.segmentMigration(
        t(s, d, "orders").select(col("o_custkey"),
          to_date(col("o_orderdate")).as("od")),
        "o_custkey", "od", lit("1995-01-01").cast("date")),
      Some(
        """WITH a AS (
          |  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
          |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1995-01-01'
          |  GROUP BY 1),
          |b AS (
          |  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
          |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
          |  GROUP BY 1),
          |j AS (
          |  SELECT COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
          |  FROM a FULL OUTER JOIN b ON a.k = b.k)
          |SELECT
          |  CAST(CASE WHEN ca >= 1 THEN 1 ELSE 0 END
          |    + CASE WHEN ca >= 2 THEN 1 ELSE 0 END
          |    + CASE WHEN ca >= 4 THEN 1 ELSE 0 END
          |    + CASE WHEN ca >= 7 THEN 1 ELSE 0 END AS BIGINT) AS seg_from,
          |  CAST(CASE WHEN cb >= 1 THEN 1 ELSE 0 END
          |    + CASE WHEN cb >= 2 THEN 1 ELSE 0 END
          |    + CASE WHEN cb >= 4 THEN 1 ELSE 0 END
          |    + CASE WHEN cb >= 7 THEN 1 ELSE 0 END AS BIGINT) AS seg_to,
          |  CAST(count(*) AS BIGINT) AS n_keys
          |FROM j GROUP BY 1, 2""".stripMargin)),

    // operational in-flight card: open order lines (placed, not yet
    // shipped) per delta day via the bucketed sweep-line prefix
    Entry("q291_open_orders", (s, d) =>
      operators.Resample.concurrency(
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(unix_date(to_date(col("o_orderdate"))).cast("long")
            .as("start_day"),
            unix_date(to_date(col("l_shipdate"))).cast("long")
              .as("end_day")),
        "start_day", "end_day"),
      Some(
        """WITH iv AS (
          |  SELECT CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(o_orderdate AS DATE)) AS BIGINT) AS s,
          |    CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(l_shipdate AS DATE)) AS BIGINT) AS e
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
          |d AS (
          |  SELECT day, CAST(sum(dd) AS BIGINT) AS delta FROM (
          |    SELECT s AS day, 1 AS dd FROM iv WHERE e > s
          |    UNION ALL
          |    SELECT e, -1 FROM iv WHERE e > s) u
          |  GROUP BY 1)
          |SELECT day, CAST(sum(delta) OVER (ORDER BY day
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |  AS n_open
          |FROM d""".stripMargin)),

    // NRR waterfall: month-over-month customer revenue decomposed into
    // new / expansion / contraction / churned cents — the bridge
    // identity reconciles adjacent month totals exactly
    Entry("q295_revenue_bridge", (s, d) =>
      operators.Cohorts.revenueBridge(
        t(s, d, "orders").select(col("o_custkey"),
          (year(to_date(col("o_orderdate"))) * 12 +
            month(to_date(col("o_orderdate")))).cast("long").as("mon"),
          col("o_totalprice")),
        "o_custkey", "mon", "o_totalprice"),
      Some(
        """WITH kv AS (
          |  SELECT o_custkey AS k,
          |    CAST(year(CAST(o_orderdate AS DATE)) * 12
          |      + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS p,
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
          |      AS BIGINT) AS c
          |  FROM orders GROUP BY 1, 2),
          |j AS (
          |  SELECT COALESCE(cur.p, prev.p + 1) AS period,
          |    cur.c AS vc, prev.c AS vp
          |  FROM kv cur FULL OUTER JOIN kv prev
          |    ON cur.k = prev.k AND cur.p = prev.p + 1),
          |m AS (SELECT CAST(max(p) AS BIGINT) AS mx FROM kv)
          |SELECT period,
          |  CAST(sum(CASE WHEN vp IS NULL THEN vc ELSE 0 END) AS BIGINT)
          |    AS new_cents,
          |  CAST(sum(CASE WHEN vc IS NOT NULL AND vp IS NOT NULL
          |    AND vc > vp THEN vc - vp ELSE 0 END) AS BIGINT)
          |    AS expansion_cents,
          |  CAST(sum(CASE WHEN vc IS NOT NULL AND vp IS NOT NULL
          |    AND vc < vp THEN vp - vc ELSE 0 END) AS BIGINT)
          |    AS contraction_cents,
          |  CAST(sum(CASE WHEN vc IS NULL THEN vp ELSE 0 END) AS BIGINT)
          |    AS churned_cents,
          |  CAST(sum(CASE WHEN vp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_new,
          |  CAST(sum(CASE WHEN vc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_churned
          |FROM j, m WHERE period <= mx GROUP BY 1""".stripMargin)),

    // leakage-safe temporal training table: features strictly before
    // the 2024-01-21 wall, purchase label in the following week,
    // label-window-only users excluded
    Entry("q273_temporal_labels", (s, d) =>
      operators.Cohorts.temporalLabels(t(s, d, "events"),
        "user_id", "ts", "event_type", "purchase",
        "2024-01-21", "2024-01-28")
        .withColumnRenamed("user", "user_id"),
      // fixed timestamp walls; label-window-only users excluded by the
      // inner feature aggregate
      Some(
        """WITH fw AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
          |      END) AS BIGINT) AS n_target,
          |    CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
          |      AS n_active_days,
          |    max(epoch_us(ts) // 86400000000) AS ld
          |  FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
          |  GROUP BY 1),
          |lw AS (
          |  SELECT DISTINCT user_id FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'
          |    AND ts < TIMESTAMP '2024-01-28 00:00:00'
          |    AND event_type = 'purchase')
          |SELECT fw.user_id, fw.n_events, fw.n_target, fw.n_active_days,
          |  CAST(date_diff('day', DATE '1970-01-01', DATE '2024-01-21')
          |    - fw.ld AS BIGINT) AS recency_days,
          |  CAST(CASE WHEN lw.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
          |    AS label
          |FROM fw LEFT JOIN lw ON fw.user_id = lw.user_id""".stripMargin)),

    // exact rolling 7-day active users per day — the WAU curve by the
    // coverage explode (no sketch, no self-join, no per-day rescan)
    Entry("q270_rolling_actives", (s, d) =>
      operators.Cohorts.rollingActives(t(s, d, "events"),
        "user_id", "ts", window = 7),
      // each distinct (user, day) covers days [d, d+7); day-d actives
      // are the distinct covering users, trimmed at the data's max day
      Some(
        """WITH du AS (
          |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
          |  FROM events),
          |mx AS (SELECT max(d) AS m FROM du),
          |cov AS (
          |  SELECT DISTINCT user_id, d + g AS cd
          |  FROM du, (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS g) w)
          |SELECT cd AS day, CAST(count(*) AS BIGINT) AS n_active
          |FROM cov, mx WHERE cd <= m GROUP BY 1""".stripMargin)),

    // per-day session conversion: share of 30-min sessions containing
    // a purchase, by session-start day — exact bp floor division
    Entry("q271_session_conversion", (s, d) =>
      operators.Sessionize.withSessionIds(
        t(s, d, "events"), "user_id", "ts", gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(unix_micros(col("ts"))).as("__t0"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("__cv"))
        .groupBy(call_function("div", col("__t0"), lit(86400000000L))
          .as("day"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("__cv")).cast("long").as("n_converting"))
        .withColumn("rate_bp", call_function("div",
          col("n_converting") * 10000L, col("n_sessions"))),
      // q148's session replication at 1800s; per-session purchase
      // flag max-reduced, per-start-day exact bp
      Some(
        """WITH g AS (
          |  SELECT user_id, ts, event_type,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
          |              > 1800
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts, event_type,
          |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
          |                  ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM g),
          |se AS (
          |  SELECT user_id, sid, min(epoch_us(ts)) AS t0,
          |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          |      AS cv
          |  FROM s GROUP BY 1, 2),
          |dd AS (
          |  SELECT t0 // 86400000000 AS day,
          |    CAST(count(*) AS BIGINT) AS n_sessions,
          |    CAST(sum(cv) AS BIGINT) AS n_converting
          |  FROM se GROUP BY 1)
          |SELECT day, n_sessions, n_converting,
          |  CAST(n_converting * 10000 // n_sessions AS BIGINT) AS rate_bp
          |FROM dd""".stripMargin)),

    // trailing-7-day volume deviation per event type: exact integer
    // basis points vs the preceding week's sum — the no-doubles
    // anomaly screen over the day-bounded daily series
    Entry("q268_volume_deviation", (s, d) =>
      operators.Resample.trailingDeviation(
        t(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).cast("long").as("c")),
        "event_type", "day", "c", window = 7),
      // same ROWS BETWEEN window PRECEDING AND 1 PRECEDING trailing
      // sum; integer bp, full-window + nonzero-sum rows only
      Some(
        """WITH d AS (
          |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM events GROUP BY 1, 2),
          |w AS (
          |  SELECT event_type, day, c,
          |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
          |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
          |      AS trailing_sum,
          |    count(c) OVER (PARTITION BY event_type ORDER BY day
          |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tn
          |  FROM d)
          |SELECT event_type, day, c AS n, trailing_sum,
          |  CAST(c * 7 * 10000 // trailing_sum - 10000 AS BIGINT) AS dev_bp
          |FROM w WHERE tn = 7 AND trailing_sum > 0""".stripMargin)),

    // deterministic negative sampling: 2 md5-drawn candidate parts per
    // (customer, bought-part) positive, user-positives rejected by
    // anti-join — the reproducible training-pair generator
    Entry("q265_negative_samples", (s, d) => {
      val pos = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      operators.Sampling.negativeSamples(pos, "o_custkey", "l_partkey",
        t(s, d, "part"), "p_partkey", k = 2)
        .withColumnRenamed("o_custkey", "custkey")
    },
      // same md5('neg|u|i|j') 48-bit draw modulo the max part id;
      // rejection by NOT EXISTS against the user's positives
      Some(
        """WITH pos AS (
          |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
          |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
          |mx AS (SELECT CAST(max(p_partkey) AS BIGINT) AS m FROM part),
          |c AS (
          |  SELECT u, i, j,
          |    CAST(('0x' || substr(md5('neg' || '|' ||
          |      CAST(u AS VARCHAR) || '|' || CAST(i AS VARCHAR) || '|' ||
          |      CAST(j AS VARCHAR)), 1, 12)) AS BIGINT) % m + 1 AS cand
          |  FROM pos, mx, (SELECT unnest([1, 2]) AS j) dr)
          |SELECT u AS custkey, CAST(cand AS BIGINT) AS neg_item,
          |  CAST(j AS BIGINT) AS draw
          |FROM c WHERE NOT EXISTS (
          |  SELECT 1 FROM pos p WHERE p.u = c.u AND p.i = c.cand)"""
        .stripMargin)),

    // sessions-as-baskets affinity: which event types co-occur within
    // one 30-min session beyond their base rates (q211's machinery on
    // the q101 session grain; exact bp lift)
    Entry("q266_session_affinity", (s, d) =>
      operators.Basket.pairAffinity(
        operators.Sessionize.withSessionIds(
          t(s, d, "events"), "user_id", "ts", gapSeconds = 1800)
          .select(concat_ws("#", col("user_id"), col("session_id"))
            .as("basket"), col("event_type")),
        "basket", "event_type", minPairs = 2L),
      // q148's session replication at a 1800s gap; sessions become
      // baskets (user#sid), q211's affinity SQL over event types
      Some(
        """WITH g AS (
          |  SELECT user_id, ts, event_type,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
          |              > 1800
          |         THEN 1 ELSE 0 END AS ns
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, event_type,
          |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
          |                  ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM g),
          |b AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || '#' ||
          |    CAST(sid AS VARCHAR) AS bk, event_type FROM s),
          |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM b),
          |ic AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ni
          |       FROM b GROUP BY 1),
          |p AS (
          |  SELECT x.event_type AS item_a, y.event_type AS item_b,
          |    CAST(count(*) AS BIGINT) AS n_ab
          |  FROM b x JOIN b y ON x.bk = y.bk
          |    AND x.event_type < y.event_type
          |  GROUP BY 1, 2 HAVING n_ab >= 2)
          |SELECT item_a, item_b, n_ab, ia.ni AS n_a, ib.ni AS n_b,
          |  CAST(n_ab * nb.n * 10000 // (ia.ni * ib.ni) AS BIGINT)
          |    AS lift_bp
          |FROM p JOIN ic ia ON ia.event_type = item_a
          |JOIN ic ib ON ib.event_type = item_b, nb""".stripMargin)),

    // deterministic PPS systematic sample: ~100 docs proportional to
    // token count — content-stable hash order, BIGINT stride-boundary
    // crossings, no RNG (the reproducible "sample by size" primitive)
    Entry("q244_pps_sample", (s, d) =>
      operators.Sampling.ppsSample(
        t(s, d, "documents")
          .select(col("doc_id"),
            size(functions.TextFns.tokens(col("text"))).cast("long")
              .as("n_tok")),
        "doc_id", "n_tok", n = 100L),
      // the same md5('pps|key') order and integer stride crossings —
      // plain global window on DuckDB's single node
      Some(
        s"""WITH d AS (
           |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS w FROM documents),
           |k AS (
           |  SELECT doc_id, w, md5('pps' || '|' || CAST(doc_id AS VARCHAR)) AS sk
           |  FROM d WHERE w > 0),
           |t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM k),
           |c AS (
           |  SELECT doc_id, w,
           |    sum(w) OVER (ORDER BY sk, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM k)
           |SELECT doc_id, w AS weight,
           |  CAST(cum // (tot // 100) - (cum - w) // (tot // 100) AS BIGINT) AS n_hits
           |FROM c, t
           |WHERE cum // (tot // 100) > (cum - w) // (tot // 100)""".stripMargin)),

    // Holt double-exponential forecast per event type over the q156
    // daily series: level + trend fold (alpha = beta = 0.5, exact
    // halvings in one fixed op order), one-step forecast = level+trend
    Entry("q242_holt_forecast", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("dv"))
      operators.Resample.holt(daily, "event_type", "day", "dv")
        .select(col("event_type"), col("n_points").as("n_days"),
          Rounding.pround(col("level"), 4).as("level"),
          Rounding.pround(col("trend"), 4).as("trend"),
          Rounding.pround(col("forecast"), 4).as("forecast"))
    },
      // the identical level/trend recurrence replayed as a recursive
      // CTE — newLevel recomputed verbatim in the trend slot, exactly
      // as the engine's fold does (deterministic IEEE ops, same order)
      Some(
        s"""WITH RECURSIVE daily AS (
           |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dv
           |  FROM events GROUP BY 1, 2),
           |v AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           |    list(dv ORDER BY day) AS l
           |  FROM daily GROUP BY 1),
           |h AS (
           |  SELECT event_type, n_days, l, 1 AS k,
           |    CAST(l[1] AS DOUBLE) AS lev, CAST(0 AS DOUBLE) AS tr
           |  FROM v
           |  UNION ALL
           |  SELECT event_type, n_days, l, k + 1,
           |    0.5 * l[k+1] + 0.5 * (lev + tr),
           |    0.5 * ((0.5 * l[k+1] + 0.5 * (lev + tr)) - lev) + 0.5 * tr
           |  FROM h WHERE k < n_days)
           |SELECT event_type, n_days,
           |  ${pround("lev", 4)} AS level, ${pround("tr", 4)} AS trend,
           |  ${pround("lev + tr", 4)} AS forecast
           |FROM h WHERE k = n_days""".stripMargin)),

    // Nelson–Aalen cumulative hazard over the SAME churn observations
    // as q232 — the additive companion curve (no exp, no infinity
    // path): cum_hazard = exact DECIMAL sum of pround6'd d/n steps
    Entry("q235_nelson_aalen", (s, d) =>
      operators.Survival.nelsonAalen(
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("__first"),
            max(col("o_orderdate")).as("__last"))
          .select(
            datediff(col("__last"), col("__first")).cast("long").as("dur"),
            when(col("__last") < lit("1998-03-01").cast("date"), 1L)
              .otherwise(0L).as("churned")),
        "dur", "churned", bucketWidth = 256L),
      // q232's at-risk CTEs with the additive contribution d/n — the
      // output is the exact decimal running sum, no exp
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
          |    CAST(floor(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
          |      * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS contrib
          |  FROM r)
          |SELECT duration, n_risk, n_events, n_censored,
          |  CAST(sum(contrib) OVER (ORDER BY duration) AS DOUBLE) AS cum_hazard
          |FROM c""".stripMargin)),

    // directed association rules over the q211 baskets: both
    // orientations of every co-occurrence pair with asymmetric
    // confidence (n_ab/n_antecedent in exact basis points) — the
    // cross-sell view where A→B strong / B→A weak IS the signal;
    // head = top-40 by (confidence desc, rule), a total order
    Entry("q237_association_rules", (s, d) =>
      operators.Basket.associationRules(t(s, d, "lineitem"),
          "l_orderkey", "l_partkey", minPairs = 2L)
        .orderBy(col("confidence_bp").desc, col("antecedent"),
          col("consequent"))
        .limit(40),
      // q211's pair CTEs, then both rule orientations with the
      // asymmetric integer confidence; top-40 under a total order
      Some(
        """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
          |ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS ni FROM b GROUP BY 1),
          |p AS (
          |  SELECT x.l_partkey AS item_a, y.l_partkey AS item_b,
          |    CAST(count(*) AS BIGINT) AS n_ab
          |  FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
          |    AND x.l_partkey < y.l_partkey
          |  GROUP BY 1, 2 HAVING n_ab >= 2),
          |e AS (
          |  SELECT item_a, item_b, n_ab, ia.ni AS n_a, ib.ni AS n_b,
          |    n_ab * nb.n * 10000 // (ia.ni * ib.ni) AS lift_bp
          |  FROM p
          |  JOIN ic ia ON ia.l_partkey = item_a
          |  JOIN ic ib ON ib.l_partkey = item_b, nb),
          |r AS (
          |  SELECT item_a AS antecedent, item_b AS consequent, n_ab,
          |    n_a AS n_antecedent, n_b AS n_consequent,
          |    n_ab * 10000 // n_a AS confidence_bp, lift_bp
          |  FROM e
          |  UNION ALL
          |  SELECT item_b, item_a, n_ab, n_b, n_a,
          |    n_ab * 10000 // n_b, lift_bp
          |  FROM e)
          |SELECT * FROM r
          |ORDER BY confidence_bp DESC, antecedent, consequent
          |LIMIT 40""".stripMargin)),

    // Kaplan–Meier churn curve over customer active lifetimes:
    // duration = days between a customer's first and last order,
    // churned (event=1) iff the last order predates 1998-03-01 (a
    // fixed cutoff ~5 months before the dataset's edge), else
    // right-censored. Log-space pround6 contributions, DECIMAL-summed
    // (the q146 discipline applied to a product); bucketWidth 256
    // exercises the cross-bucket driver-prefix path on ~2.4k distinct
    // day durations
    Entry("q232_kaplan_meier", (s, d) =>
      operators.Survival.kaplanMeier(
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("__first"),
            max(col("o_orderdate")).as("__last"))
          .select(
            datediff(col("__last"), col("__first")).cast("long").as("dur"),
            when(col("__last") < lit("1998-03-01").cast("date"), 1L)
              .otherwise(0L).as("churned")),
        "dur", "churned", bucketWidth = 256L),
      // KM product re-expressed as exp(sum(ln)) with the SAME pround6 +
      // DECIMAL(18,6) contribution discipline; windows run over distinct
      // durations so RANGE/ROWS framing cannot diverge. DuckDB ln() is
      // natural log (log() is base-10 there — the reverse of Spark).
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
          |  SELECT duration, n_risk, n_events, n_censored,
          |    CAST(sum(contrib) OVER (ORDER BY duration) AS DOUBLE) AS csum,
          |    max(z) OVER (ORDER BY duration) AS zany
          |  FROM c)
          |SELECT duration, n_risk, n_events, n_censored,
          |  CASE WHEN zany = 1 THEN 0.0
          |    ELSE floor(exp(csum) * 1000000 + 0.5) / 1000000 END AS survival
          |FROM f""".stripMargin))
  )
}
