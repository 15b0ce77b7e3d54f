package graft
package queries

import graft.functions.{Rounding, TextFns}
import graft.operators.Dedup
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — training-data pipeline: dedup, decontamination and text operators. */
object PipelineTextQueries {

  lazy val entries: Seq[Entry] = Seq(
    Entry("q20_exact_dedup", (s, d) =>
      Dedup.exactClusters(t(s, d, "documents"), "text", "doc_id"),
      Some(
        """SELECT md5(lower(text)) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
          |FROM documents GROUP BY 1""".stripMargin)),

    Entry("q21_minhash_pairs", (s, d) =>
      Dedup.minhashCandidates(t(s, d, "documents"), "text", "doc_id",
        bands = 3, rowsPerBand = 2),
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin)),

    Entry("q22_simhash", (s, d) => {
      // native per-row signature expression (SimHash16Sig) — identical
      // values to the oracle's unnest+vote form, no explode, no shuffle.
      // Token-less docs have a null signature and are dropped, same
      // absence semantics as the oracle's unnest.
      Dedup.simhashSignatures(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc").as("doc_id"), col("sig").as("simhash"))
    },
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |votes AS (
           |  SELECT doc_id, r.j,
           |    sum(CASE WHEN substr(md5(token), r.j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v
           |  FROM toks, unnest(range(1, 17)) AS r(j) GROUP BY doc_id, r.j)
           |SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN 1 << (16 - j) ELSE 0 END) AS BIGINT) AS simhash
           |FROM votes GROUP BY doc_id""".stripMargin)),

    Entry("q23_jaccard_verify", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.ngramJaccard(docs, "text", "doc_id",
        Dedup.minhashCandidates(docs, "text", "doc_id", bands = 3, rowsPerBand = 2))
    },
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
           |  GROUP BY c.id_a, c.id_b)
           |SELECT c.id_a, c.id_b,
           |  CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - CAST(COALESCE(i.i, 0) AS DOUBLE)) AS jaccard
           |FROM cand c
           |LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
           |JOIN (SELECT doc_id, len(sset) AS n FROM shs) sa ON sa.doc_id = c.id_a
           |JOIN (SELECT doc_id, len(sset) AS n FROM shs) sb ON sb.doc_id = c.id_b""".stripMargin)),

    // minCosine is calibrated to the synthetic embeddings (max pairwise
    // cosine ~0.51, no planted near-dups): 0.3 keeps the gate NON-vacuous
    // (>0 pairs at sf0.01) so an all-rows-dropped regression can't pass.
    // planesPerBand=8 fits this tiny corpus (band 0 reproduces the
    // pre-banding 8-plane bucket, so candidates only GROW vs round 3);
    // the library default is 16 planes/band — the 100-TB shape.
    Entry("q26_embedding_neardup", (s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "embedding", "vec_id",
          bands = 4, planesPerBand = 8, dims = 64, minCosine = 0.3)
        .withColumn("cosine", Rounding.pround(col("cosine"), 4)),
      Some(
        s"""$embeddingPairsSql
           |SELECT id_a, id_b, ${pround("c2", 4)} AS cosine FROM p WHERE c2 >= 0.3""".stripMargin)),

    Entry("q27_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "text", "doc_id", maxHamming = 3),
      // mirrors Dedup.simhashSignatures64/simhashPairs: 64-bit signature
      // as four 16-bit band values (band b = hex digits [4b+1, 4b+4] of
      // md5(token)), band equi-join, Hamming = sum of per-band popcounts
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |votes AS (
           |  SELECT doc_id, r1.b, r2.j,
           |    sum(CASE WHEN (CAST(('0x' || substr(md5(token), r1.b * 4 + 1, 4)) AS BIGINT) >> r2.j) & 1 = 1
           |             THEN 1 ELSE -1 END) AS v
           |  FROM toks, unnest(range(0, 4)) AS r1(b), unnest(range(0, 16)) AS r2(j)
           |  GROUP BY doc_id, r1.b, r2.j),
           |bandsig AS (
           |  SELECT doc_id, b, CAST(sum(CASE WHEN v >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS s
           |  FROM votes GROUP BY doc_id, b),
           |sigs AS (
           |  SELECT doc_id,
           |    max(CASE WHEN b = 0 THEN s END) AS s0, max(CASE WHEN b = 1 THEN s END) AS s1,
           |    max(CASE WHEN b = 2 THEN s END) AS s2, max(CASE WHEN b = 3 THEN s END) AS s3
           |  FROM bandsig GROUP BY doc_id),
           |banded AS (
           |  SELECT doc_id, s0, s1, s2, s3,
           |    CAST(r.b AS VARCHAR) || ':' || CAST((CASE r.b WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END) AS VARCHAR) AS band
           |  FROM sigs, unnest(range(0, 4)) AS r(b))
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
           |    + bit_count(xor(a.s2, b.s2)) + bit_count(xor(a.s3, b.s3)) AS INTEGER) AS hamming
           |FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
           |    + bit_count(xor(a.s2, b.s2)) + bit_count(xor(a.s3, b.s3)) <= 3""".stripMargin)),

    Entry("q30_lang_id", (s, d) => {
      t(s, d, "documents").select(col("doc_id"), col("lang").as("lang_actual"),
        TextFns.langId(col("text")).as("lang_pred"))
    },
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |m(lang, w) AS (VALUES $markerValues),
           |scores AS (
           |  SELECT t.doc_id, m.lang, count(*) AS sc
           |  FROM toks t JOIN m ON t.token = m.w GROUP BY t.doc_id, m.lang),
           |best AS (
           |  SELECT doc_id, lang FROM scores
           |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, lang ASC) = 1)
           |SELECT d.doc_id, d.lang AS lang_actual, COALESCE(b.lang, 'und') AS lang_pred
           |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id""".stripMargin)),

    Entry("q57_lang_id_ngram", (s, d) => {
      t(s, d, "documents").select(col("doc_id"), col("lang").as("lang_actual"),
        TextFns.langIdNgram(col("text")).as("lang_pred"))
    },
      Some({
        val langs = TextFns.langTrigramProfiles.keys.toSeq.sorted
        def profile(l: String) =
          TextFns.langTrigramProfiles(l).map(g => "'" + g + "'").mkString("[", ", ", "]")
        val scoreCols = langs.map(l =>
          s"len(list_filter(grams, g -> list_contains(${profile(l)}, g))) AS s_$l").mkString(",\n  ")
        // tie-break: >= against later languages = alphabetically first wins
        val caseExpr = langs.zipWithIndex.map { case (l, i) =>
          val laterGe = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
          val conds = (laterGe :+ s"s_$l > 0").mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }.mkString("\n    ")
        s"""WITH g AS (
           |  SELECT doc_id, lang,
           |    list_transform(range(1, len(' ' || lower(text) || ' ') - 1),
           |      i -> substr(' ' || lower(text) || ' ', i, 3)) AS grams
           |  FROM documents),
           |sc AS (SELECT doc_id, lang, $scoreCols FROM g)
           |SELECT doc_id, lang AS lang_actual,
           |  CASE $caseExpr ELSE 'und' END AS lang_pred
           |FROM sc""".stripMargin
      })),

    Entry("q58_pii_counts", (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextFns.emailCount(col("text")).as("n_emails"),
        TextFns.urlCount(col("text")).as("n_urls"))
    },
      Some(
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls
          |FROM documents""".stripMargin)),

    Entry("q31_quality_score", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        TextFns.wsTokenCount(col("text")).as("n_tokens"),
        Rounding.pround(TextFns.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        Rounding.pround(TextFns.avgTokenLen(col("text")), 4).as("avg_token_len"),
        Rounding.pround(TextFns.punctRatio(col("text")), 4).as("punct_ratio"),
        Rounding.pround(TextFns.qualityScore(col("text")), 4).as("quality"))
    },
      Some(
        s"""WITH base AS (SELECT doc_id, text, $toksSql AS t FROM documents),
           |feat AS (
           |  SELECT doc_id, text, len(t) AS n_tokens,
           |    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains($stopwordList, x))) AS DOUBLE) / len(t) ELSE 0.0 END AS swr,
           |    CASE WHEN len(t) > 0 THEN CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum') AS DOUBLE) / len(t) ELSE 0.0 END AS atl,
           |    CASE WHEN len(text) > 0 THEN CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) ELSE 0.0 END AS pr
           |  FROM base)
           |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  ${pround("swr", 4)} AS stopword_ratio,
           |  ${pround("atl", 4)} AS avg_token_len,
           |  ${pround("pr", 4)} AS punct_ratio,
           |  ${pround(
             """greatest(least(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
               |    + (1.0 - abs(swr - 0.25) * 2.0) * 0.3
               |    + (1.0 - least(abs(atl - 5.0) / 5.0, 1.0)) * 0.3, 1.0), 0.0)""".stripMargin, 4)} AS quality
           |FROM feat""".stripMargin)),

    Entry("q32_token_count", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        TextFns.wsTokenCount(col("text")).as("ws_tokens"),
        TextFns.bpeishTokenCount(col("text")).as("bpeish_tokens"))
    },
      Some(
        s"""SELECT doc_id,
           |  CAST(len($toksSql) AS BIGINT) AS ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpeish_tokens
           |FROM documents""".stripMargin)),

    Entry("q33_fingerprint", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        TextFns.fingerprint(col("text"), 8).as("fp"),
        graft.expressions.GraftFunctions.distinctGramCount(col("text"), 8)
          .cast("long").as("n_grams"))
    },
      Some(
        """WITH g AS (
          |  SELECT doc_id,
          |    list_transform(range(1, len(text) - 6), i -> substr(lower(text), i, 8)) AS grams
          |  FROM documents)
          |SELECT doc_id, list_min(list_transform(grams, x -> md5(x))) AS fp,
          |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_grams
          |FROM g""".stripMargin)),

    // benchmark decontamination: every-10th doc plays the eval set; the
    // remaining corpus reports how many of its distinct word trigrams
    // appear anywhere in the eval set (n=3 explicitly — the operator
    // default is the GPT-3-style 13-gram, far too selective for these
    // short synthetic docs)
    Entry("q66_decontamination", (s, d) => {
      val docs = t(s, d, "documents")
      operators.Decontamination.overlap(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", n = 3)
    },
      Some(
        s"""WITH cg AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % 10 <> 0)),
           |eg AS (
           |  SELECT DISTINCT unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT $toksSql AS t FROM documents WHERE doc_id % 10 = 0))
           |SELECT doc_id, count(*) AS n_shared
           |FROM cg JOIN eg USING (s) GROUP BY doc_id""".stripMargin)),

    // cross-source near-dup matrix: q21's candidate pairs attributed
    // to unordered source pairs — which feeds copy which
    Entry("q94_source_overlap", (s, d) =>
      operators.Dedup.crossSourceOverlap(
        t(s, d, "documents"), "text", "doc_id", "source",
        bands = 3, rowsPerBand = 2),
      // q21's pair CTE + two id joins for attribution; (least,
      // greatest) canonicalizes the unordered source pair
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
           |SELECT least(da.source, db.source) AS source_a,
           |       greatest(da.source, db.source) AS source_b,
           |       count(*) AS n_pairs
           |FROM cand
           |JOIN documents da ON da.doc_id = cand.id_a
           |JOIN documents db ON db.doc_id = cand.id_b
           |GROUP BY 1, 2""".stripMargin)),

    // the BPE merge statistic: top adjacent char pairs weighted by
    // word frequency — one corpus pass builds the vocab, pair counting
    // runs vocabulary-bounded
    Entry("q92_bpe_pairs", (s, d) =>
      operators.Bpe.pairStats(t(s, d, "documents"), "text", k = 30),
      // pair expansion over the word-frequency table (not the corpus);
      // the top-30 cut is deterministic via the (total, pair) order
      Some(
        s"""WITH w AS (
           |  SELECT w, count(*) AS cnt
           |  FROM (SELECT unnest(t) AS w FROM (SELECT $toksSql AS t FROM documents))
           |  GROUP BY w HAVING len(w) >= 2),
           |p AS (
           |  SELECT substr(w.w, CAST(t.i AS INT), 2) AS pair, w.w, w.cnt
           |  FROM w, LATERAL (SELECT unnest(range(1, len(w.w))) AS i) t)
           |SELECT pair, count(DISTINCT w) AS n_words, CAST(sum(cnt) AS BIGINT) AS total
           |FROM p GROUP BY pair
           |ORDER BY total DESC, pair ASC LIMIT 30""".stripMargin)),

    // unigram-LM fluency score (perplexity-filter stand-in): mean
    // log10 corpus frequency of each doc's tokens
    Entry("q90_lm_score", (s, d) =>
      operators.TfIdf.lmScore(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          Rounding.pround(col("lm_score"), 4).as("lm_score")),
      // unigram counts re-join the exploded tokens; per-doc mean of
      // log10(count) — both engines' log10 are correctly rounded on
      // small-integer inputs, and pround absorbs ulp noise
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(t) AS term
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
           |SELECT doc_id, count(*) AS n_tokens,
           |  ${pround("avg(log10(cnt))", 4)} AS lm_score
           |FROM tok JOIN c USING (term)
           |GROUP BY doc_id""".stripMargin)),

    // the contamination report from the benchmark's side: per eval
    // example (every 10th doc), how many of its distinct trigrams the
    // remaining corpus holds — the "is this benchmark still
    // trustworthy" table, complementing q66's per-train-doc view
    Entry("q89_eval_contamination", (s, d) => {
      val docs = t(s, d, "documents")
      operators.Decontamination.evalContamination(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", n = 3)
        .select(col("eval_id"), col("n_grams"), col("n_contaminated"),
          Rounding.pround(col("contamination_rate"), 4).as("contamination_rate"))
    },
      // per-eval-example leak table: each eval trigram left-joins the
      // corpus' matched-gram set; count(hit) over the left join = how
      // many of the example's grams leaked
      Some(
        s"""WITH eg AS (
           |  SELECT doc_id AS eval_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % 10 = 0)),
           |hit AS (
           |  SELECT DISTINCT cg.s FROM (
           |    SELECT unnest(list_distinct($shinglesSql)) AS s
           |    FROM (SELECT $toksSql AS t FROM documents WHERE doc_id % 10 <> 0)) cg
           |  JOIN (SELECT DISTINCT s FROM eg) e USING (s))
           |SELECT eval_id, count(*) AS n_grams, count(hit.s) AS n_contaminated,
           |  ${pround("CAST(count(hit.s) AS DOUBLE) / count(*)", 4)} AS contamination_rate
           |FROM eg LEFT JOIN hit USING (s)
           |GROUP BY eval_id""".stripMargin)),

    // paragraph-level exact dedup with reassembly (RefinedWeb/C4
    // boilerplate removal): the synthetic texts have no newlines, so
    // " line " plays the paragraph separator — occurrences segment
    // each doc into 1-6 "paragraphs", 6% of which repeat across docs
    // at sf0.001
    Entry("q88_paragraph_dedup", (s, d) =>
      operators.Dedup.dedupParagraphs(
        t(s, d, "documents"), "text", "doc_id", sep = " line "),
      // keep-first = min over (doc_id, idx) — stated as a row_number
      // window here (fine for an oracle), while the engine uses the
      // skew-safe min(struct) aggregation; reassembly re-joins kept
      // paragraphs in position order with the separator
      Some(
        """WITH p AS (
          |  SELECT doc_id, u.para, u.idx
          |  FROM (SELECT doc_id, string_split(text, ' line ') AS l FROM documents) d,
          |  LATERAL (SELECT unnest(l) AS para, unnest(range(1, len(l)+1)) AS idx) u
          |  WHERE trim(u.para) <> ''),
          |kept AS (
          |  SELECT doc_id, idx, para FROM p
          |  QUALIFY row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) = 1)
          |SELECT doc_id, string_agg(para, ' line ' ORDER BY idx) AS text_dedup,
          |       count(*) AS n_paras_kept
          |FROM kept GROUP BY doc_id""".stripMargin)),

    // within-document span cleanup: same machinery as q88 but scoped
    // per doc — repeated "paragraphs" inside one doc collapse, while
    // cross-doc repeats survive
    Entry("q103_paragraph_dedup_local", (s, d) =>
      operators.Dedup.dedupParagraphs(
        t(s, d, "documents"), "text", "doc_id", sep = " line ",
        global = false),
      // q88's shape with the winner key scoped per document
      Some(
        """WITH p AS (
          |  SELECT doc_id, u.para, u.idx
          |  FROM (SELECT doc_id, string_split(text, ' line ') AS l FROM documents) d,
          |  LATERAL (SELECT unnest(l) AS para, unnest(range(1, len(l)+1)) AS idx) u
          |  WHERE trim(u.para) <> ''),
          |kept AS (
          |  SELECT doc_id, idx, para FROM p
          |  QUALIFY row_number() OVER (PARTITION BY doc_id, md5(para) ORDER BY idx) = 1)
          |SELECT doc_id, string_agg(para, ' line ' ORDER BY idx) AS text_dedup,
          |       count(*) AS n_paras_kept
          |FROM kept GROUP BY doc_id""".stripMargin)),

    // within-doc n-gram repetition stats (Gopher repetition-gate
    // signals) via the native one-pass expression; the oracle is the
    // relational explode -> count-per-gram -> re-aggregate form the
    // expression replaces (which shuffles the corpus' gram volume twice)
    Entry("q67_word_gram_stats", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.expressions.GraftFunctions.wordGramStats(col("text"), 3).as("st"))
        .select(col("doc_id"),
          col("st.n_grams").cast("long").as("n_grams"),
          col("st.n_distinct").cast("long").as("n_distinct"),
          col("st.top_count").cast("long").as("top_count"))
    },
      // the relational explode->count form WordGramStats collapses into
      // one per-row pass; docs with < 3 tokens have zero grams -> (0,0,0)
      Some(
        s"""WITH g AS (
           |  SELECT doc_id, unnest($shinglesSql) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |pc AS (SELECT doc_id, s, count(*) AS c FROM g GROUP BY doc_id, s),
           |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           |          CAST(count(*) AS BIGINT) AS n_distinct,
           |          CAST(max(c) AS BIGINT) AS top_count
           |        FROM pc GROUP BY doc_id)
           |SELECT d.doc_id,
           |  COALESCE(a.n_grams, 0) AS n_grams,
           |  COALESCE(a.n_distinct, 0) AS n_distinct,
           |  COALESCE(a.top_count, 0) AS top_count
           |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin)),

    // transitive clusters over the embedding near-dup graph — the
    // ANN-side composition of banding + components (its text-side twin
    // is q46's near-dup stage): SRP band candidates verified by cosine
    // become edges, one survivor label (min vec_id) per cluster
    Entry("q70_embedding_components", (s, d) => {
      val pairs = operators.Dedup.embeddingNearDups(
        t(s, d, "embeddings"), "embedding", "vec_id",
        bands = 4, planesPerBand = 8, dims = 64, minCosine = 0.3)
      operators.Components.connectedComponents(pairs)
    },
      // transitive clusters over the embedding near-dup graph: q26's
      // pair list as edges, resolved by the same recursive
      // min-reachable-id walk as q65's oracle
      // unrolled relax+shortcut label propagation (ccUnrolledSql) in
      // place of the former transitive-closure walk, whose
      // O(Σ component²) row count blew up at sf1.0 when SRP buckets
      // percolate — this form is rounds × |E| and sf1.0-feasible
      Some(
        s"""$embeddingPairsSql,
           |half AS (SELECT id_a, id_b FROM p WHERE c2 >= 0.3),
           |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM half
           |          UNION SELECT id_b, id_a FROM half),
           |${ccUnrolledSql("edges", "l")}
           |SELECT node, root AS component FROM lm""".stripMargin)),

    // PII redaction — email spans then URLs rewritten to typed
    // placeholders with the same portable regexes q58 counts with; the
    // oracle reproduces the rewritten text byte-for-byte
    Entry("q74_pii_redaction", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        functions.TextFns.redactPii(col("text")).as("redacted")),
      Some(
        """SELECT doc_id,
          |  regexp_replace(
          |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    'https?://[^\s]+', '<URL>', 'g') AS redacted
          |FROM documents""".stripMargin)),

    // per-doc salient terms by tf-idf: one (doc,term) aggregate reused
    // for document frequencies, corpus size as a broadcast one-row agg,
    // top-3 via rank-limited window; rational smoothed idf so the
    // 4-decimal score hash is engine-portable (see TfIdf scaladoc)
    Entry("q77_tfidf_terms", (s, d) =>
      operators.TfIdf.topTerms(t(s, d, "documents"), "text", "doc_id", k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          Rounding.pround(col("score"), 4).as("score")),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |scored AS (
           |  SELECT doc_id, term, tf, df, tf * (n + 1.0) / (df + 1.0) AS score
           |  FROM tf JOIN idf USING (term) CROSS JOIN n),
           |r AS (SELECT *, row_number() OVER (
           |  PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM scored)
           |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           |  CAST(df AS BIGINT) AS df, ${pround("score", 4)} AS score
           |FROM r WHERE rk <= 3""".stripMargin)),

    // cross-doc duplicate 5-word spans (exact-substring-dedup candidate
    // stage): native distinct-shingle expansion, one span aggregate
    Entry("q78_dup_spans", (s, d) =>
      operators.Dedup.dupSpans(t(s, d, "documents"), "text", "doc_id",
        n = 5, minDocs = 2),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
           |g AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, len(t) - 3),
           |    i -> list_aggregate(t[i:i+4], 'string_agg', ' ')))) AS span
           |  FROM t WHERE len(t) >= 5)
           |SELECT span, count(*) AS n_docs, min(doc_id) AS min_doc
           |FROM g GROUP BY span HAVING count(*) >= 2""".stripMargin)),

    // cross-batch token budgets: documents arrive in two ticks (doc_id
    // parity), each screened against the per-source tokens already
    // spent — the oracle restates the two-phase admission explicitly
    // (phase-1 window, spent totals, phase-2 window with offset).
    // EAGER BY NECESSITY: tick 2 budgets against state tick 1 COMMITS,
    // so both acceptBatch calls (localCheckpoint + state swap) run when
    // the builder is invoked, and the returned frame re-reads their
    // checkpointed results. A harness that times only the returned
    // plan's execution therefore measures state-read cost, not the
    // screen itself — Bench times the builder call + the action
    // together, so its q82 number includes the real work.
    Entry("q82_streaming_budget", (s, d) => {
      val st = invocationStateDir("q82", "spent")
      val toks = t(s, d, "documents")
        .withColumn("n", functions.TextFns.bpeishTokenCount(col("text")))
        .select("doc_id", "source", "n")
      def tick(parity: Int) = streaming.StreamingBudget.acceptBatch(
        toks.filter(col("doc_id") % 2 === parity),
        "doc_id", "source", col("n"), budget = 1000L, st)
      tick(0).unionByName(tick(1)).select("doc_id", "source")
    },
      // two-phase admission: tick-1 rows (even ids) budget from zero;
      // their accepted token sums become tick-2's per-source offsets
      Some(
        """WITH tok AS (
          |  SELECT doc_id, source,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n
          |  FROM documents),
          |b1 AS (
          |  SELECT doc_id, source, n,
          |    COALESCE(SUM(n) OVER (PARTITION BY source
          |      ORDER BY md5('budget' || '|' || CAST(doc_id AS VARCHAR)), doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          |  FROM tok WHERE doc_id % 2 = 0),
          |a1 AS (SELECT doc_id, source, n FROM b1 WHERE cb < 1000),
          |sp AS (SELECT source, SUM(n) AS spent FROM a1 GROUP BY source),
          |b2 AS (
          |  SELECT t.doc_id, t.source,
          |    COALESCE(s.spent, 0) + COALESCE(SUM(t.n) OVER (PARTITION BY t.source
          |      ORDER BY md5('budget' || '|' || CAST(t.doc_id AS VARCHAR)), t.doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          |  FROM (SELECT * FROM tok WHERE doc_id % 2 = 1) t
          |  LEFT JOIN sp s ON t.source = s.source)
          |SELECT doc_id, source FROM a1
          |UNION ALL
          |SELECT doc_id, source FROM b2 WHERE cb < 1000""".stripMargin)),

    // vocabulary coverage: top-50 corpus terms as the vocab (ties cut
    // deterministically by term), per-doc OOV counts and rate
    Entry("q85_oov_rates", (s, d) =>
      operators.TfIdf.oovRates(t(s, d, "documents"), "text", "doc_id",
        vocabSize = 50)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          Rounding.pround(col("oov_rate"), 4).as("oov_rate")),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
           |cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
           |vocab AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT 50),
           |j AS (
           |  SELECT t.doc_id,
           |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM toks t LEFT JOIN vocab v USING (term))
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(oov) AS BIGINT) AS n_oov,
           |  ${pround("sum(oov) * 1.0 / count(*)", 4)} AS oov_rate
           |FROM j GROUP BY doc_id""".stripMargin)),

    // near-dup ROI report: per transitive candidate component, the
    // surviving doc, cluster size, and tokens the collapse saves —
    // composes q21's candidates, q65's components, q32's token count
    Entry("q98_dedup_roi", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = operators.Dedup.minhashCandidates(
        docs, "text", "doc_id", bands = 3, rowsPerBand = 2)
      val comp = operators.Components.connectedComponents(pairs)
      val toks = docs.select(col("doc_id").as("node"),
        functions.TextFns.bpeishTokenCount(col("text")).as("__n"))
      comp.join(toks, "node")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("node")).as("survivor_id"),
          sum(when(col("node") =!= col("component"), col("__n"))
            .otherwise(0L)).as("tokens_dropped"))
    },
      // q21's candidates -> transitive components -> per-cluster
      // survivor and token savings
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
           |${ccUnrolledSql("edges", "dr")},
           |comp AS (SELECT node, root AS component FROM drm),
           |tok AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n
           |  FROM documents)
           |SELECT component, count(*) AS n_docs, min(node) AS survivor_id,
           |  CAST(sum(CASE WHEN node <> component THEN n ELSE 0 END) AS BIGINT) AS tokens_dropped
           |FROM comp JOIN tok ON tok.doc_id = comp.node
           |GROUP BY component""".stripMargin)),

    // canonical normalization pass: the dedup-prep transform, output
    // as (id, normalized length, content hash) so the oracle pins the
    // exact normalized bytes without shipping them twice
    Entry("q104_normalize", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        char_length(functions.TextFns.normalize(col("text"))).cast("long")
          .as("norm_len"),
        md5(functions.TextFns.normalize(col("text"))).as("norm_md5")),
      // lower -> control chars to spaces -> collapse runs -> trim;
      // \x escapes are RE2- and java.util.regex-identical here
      Some(
        """SELECT doc_id,
          |  CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS norm_len,
          |  md5(trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_md5
          |FROM documents""".stripMargin)),

    // C4-style blocklist screen: per-source doc counts vs docs hitting
    // the blocklist (one native tally over the anchored alternation)
    Entry("q102_blocklist_screen", (s, d) =>
      t(s, d, "documents")
        .withColumn("__hits",
          functions.TextFns.blocklistCount(col("text"),
            Seq("slow", "dup", "error")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__hits") > 0, 1L).otherwise(0L)).as("n_blocked"),
          sum(col("__hits")).as("n_hits")),
      // whole-word alternation, RE2-compatible; len(extract_all) is
      // the portable form of the native tally
      Some(
        """WITH h AS (
          |  SELECT source,
          |    CAST(len(regexp_extract_all(text, '\b(?:slow|dup|error)\b')) AS BIGINT) AS hits
          |  FROM documents)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
          |  CAST(sum(hits) AS BIGINT) AS n_hits
          |FROM h GROUP BY source""".stripMargin)),

    // vocabulary drift between the even/odd corpus halves: top terms
    // by absolute token-share shift (the distribution-drift monitor)
    Entry("q100_vocab_drift", (s, d) => {
      val docs = t(s, d, "documents")
      operators.TfIdf.vocabDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", k = 20)
        .select(col("term"),
          Rounding.pround(col("share_a"), 6).as("share_a"),
          Rounding.pround(col("share_b"), 6).as("share_b"),
          Rounding.pround(col("delta"), 6).as("delta"))
    },
      // identical IEEE share arithmetic on both sides, so the
      // unrounded |delta| cut picks the same 20 terms
      Some(
        s"""WITH ca AS (
           |  SELECT term, count(*) AS c
           |  FROM (SELECT unnest(t) AS term FROM (SELECT $toksSql AS t FROM documents WHERE doc_id % 2 = 0))
           |  GROUP BY term),
           |cb AS (
           |  SELECT term, count(*) AS c
           |  FROM (SELECT unnest(t) AS term FROM (SELECT $toksSql AS t FROM documents WHERE doc_id % 2 = 1))
           |  GROUP BY term),
           |j AS (
           |  SELECT COALESCE(ca.term, cb.term) AS term,
           |    CAST(COALESCE(ca.c, 0) AS DOUBLE) / (SELECT sum(c) FROM ca) AS share_a,
           |    CAST(COALESCE(cb.c, 0) AS DOUBLE) / (SELECT sum(c) FROM cb) AS share_b
           |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term)
           |SELECT term, ${pround("share_a", 6)} AS share_a,
           |  ${pround("share_b", 6)} AS share_b,
           |  ${pround("share_b - share_a", 6)} AS delta
           |FROM j
           |ORDER BY abs(share_b - share_a) DESC, term ASC LIMIT 20""".stripMargin)),

    // Zipf-tail card: types + token mass per power-of-two frequency
    // class (hapax = class 0); two hash aggregates, no windows
    Entry("q174_freq_spectrum", (s, d) =>
      operators.TfIdf.freqSpectrum(t(s, d, "documents"), "text", "source"),
      // (source, term) counts -> power-of-two class rollup; the class
      // is len(bin(c))-1, integer on both engines
      Some(
        s"""WITH c AS (
           |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT source, unnest($toksSql) AS term FROM documents)
           |  GROUP BY 1, 2)
           |SELECT source,
           |  CAST(len(bin(c)) - 1 AS BIGINT) AS freq_class,
           |  CAST(count(*) AS BIGINT) AS n_types,
           |  CAST(sum(c) AS BIGINT) AS token_mass
           |FROM c GROUP BY 1, 2""".stripMargin)),

    // is quality anti-correlated with duplication? exact-dup rate per
    // linear-quality band — score bands via floor of the exact double
    // ratio (negative-safe), dup membership by md5 multiplicity
    Entry("q175_dup_lift", (s, d) => {
      val scored = t(s, d, "documents").select(
        col("doc_id"),
        floor(TextFns.linearQualityScore(col("text")).cast("double") / 500.0)
          .cast("long").as("band"),
        md5(col("text")).as("__h"))
      val mult = scored.groupBy(col("__h"))
        .agg(count(lit(1)).cast("long").as("__n"))
      scored.join(mult, "__h")
        .groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("__n") > 1L, 1L).otherwise(0L)).cast("long")
            .as("n_dup"))
        .select(col("band"), col("n_docs"), col("n_dup"),
          call_function("div", col("n_dup") * 10000L, col("n_docs"))
            .as("dup_bp"))
    },
      // q129's exact integer score, banded by floor of the exact
      // double ratio (negative-safe on both engines); dup membership
      // by md5(text) multiplicity
      Some(
        s"""WITH f AS (
           |  SELECT doc_id, md5(text) AS h,
           |    CAST(len($toksSql) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter($toksSql, x -> list_contains($stopwordList, x))) AS BIGINT) AS stop_cnt,
           |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS punct_cnt,
           |    CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS non_ws,
           |    CAST(len(text) AS BIGINT) AS n_chars
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id, h,
           |    CAST(80 * least(n_tok, 50)
           |      - abs((stop_cnt * 10000) // greatest(n_tok, 1) - 2500)
           |      - 2 * ((punct_cnt * 10000) // greatest(n_chars, 1))
           |      - abs((non_ws * 100) // greatest(n_tok, 1) - 500) AS BIGINT) AS score
           |  FROM f),
           |m AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY 1),
           |b AS (
           |  SELECT CAST(floor(CAST(score AS DOUBLE) / 500.0) AS BIGINT) AS band,
           |    CASE WHEN m.n > 1 THEN 1 ELSE 0 END AS is_dup
           |  FROM sc JOIN m USING (h))
           |SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(is_dup) AS BIGINT) AS n_dup,
           |  (CAST(sum(is_dup) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT) AS dup_bp
           |FROM b GROUP BY 1""".stripMargin)),

    // hub-structure card: degree assortativity of the candidate graph
    // — Pearson over (deg(u), deg(v)) per directed edge; negative =
    // hub-and-spoke (collision stars), positive = clique families.
    // BIGINT-exact sums, IEEE sqrt, one division (q172's machinery)
    Entry("q195_assortativity", (s, d) => {
      val cand = Dedup.minhashCandidates(t(s, d, "documents"), "text", "doc_id")
      val edges = cand.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg"))
      val agg = edges
        .join(deg.select(col("src"), col("deg").as("__dx")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("__dy")), "dst")
        .agg(count(lit(1)).cast("long").as("n_edges"),
          sum(col("__dx")).cast("long").as("__sx"),
          sum(col("__dy")).cast("long").as("__sy"),
          sum(col("__dx") * col("__dy")).cast("long").as("__sxy"),
          sum(col("__dx") * col("__dx")).cast("long").as("__sxx"),
          sum(col("__dy") * col("__dy")).cast("long").as("__syy"))
      val num = (col("n_edges") * col("__sxy") - col("__sx") * col("__sy"))
        .cast("double")
      val dx = (col("n_edges") * col("__sxx") - col("__sx") * col("__sx"))
        .cast("double")
      val dy = (col("n_edges") * col("__syy") - col("__sy") * col("__sy"))
        .cast("double")
      agg.select(col("n_edges"),
        Rounding.pround(when(dx > 0.0 && dy > 0.0, num / (sqrt(dx) * sqrt(dy)))
          .otherwise(lit(0.0)), 6).as("assortativity"))
    },
      // q21 candidates -> symmetric edges -> per-edge endpoint degrees
      // -> the six exact sums; operand order mirrored
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
           |  FROM bk a JOIN bk b
           |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |edges AS (SELECT src, dst FROM cand UNION SELECT dst, src FROM cand),
           |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
           |g AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
           |    CAST(sum(a.deg) AS BIGINT) AS sx, CAST(sum(b.deg) AS BIGINT) AS sy,
           |    CAST(sum(a.deg * b.deg) AS BIGINT) AS sxy,
           |    CAST(sum(a.deg * a.deg) AS BIGINT) AS sxx,
           |    CAST(sum(b.deg * b.deg) AS BIGINT) AS syy
           |  FROM edges e JOIN deg a ON a.src = e.src JOIN deg b ON b.src = e.dst)
           |SELECT n_edges,
           |  ${pround("CASE WHEN CAST(n_edges * sxx - sx * sx AS DOUBLE) > 0 AND CAST(n_edges * syy - sy * sy AS DOUBLE) > 0 THEN CAST(n_edges * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE))) ELSE 0.0 END", 6)} AS assortativity
           |FROM g""".stripMargin)),

    // tokenizer-budget knob: corpus token coverage at three vocab
    // sizes — each cut is a TakeOrderedAndProject over the ONE
    // checkpointed vocabulary-bounded count table
    Entry("q193_vocab_coverage", (s, d) => {
      val cnt = t(s, d, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).cast("long").as("__c"))
        .localCheckpoint(true)
      val tot = cnt.agg(sum(col("__c")).cast("long").as("__tot"))
      Seq(100, 1000, 5000).map { k =>
        cnt.orderBy(col("__c").desc, col("term")).limit(k)
          .agg(sum(col("__c")).cast("long").as("covered"))
          .select(lit(k.toLong).as("vocab_size"), col("covered"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(tot))
        .select(col("vocab_size"), col("covered"),
          call_function("div", col("covered") * 10000L, col("__tot"))
            .as("coverage_bp"))
    },
      // rank the vocabulary once, sweep the three cuts
      Some(
        s"""WITH c AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT unnest($toksSql) AS term FROM documents)
           |  GROUP BY 1),
           |t AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM c),
           |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk FROM c),
           |k AS (SELECT unnest([100, 1000, 5000]) AS vocab_size),
           |cov AS (
           |  SELECT k.vocab_size,
           |    CAST(sum(CASE WHEN r.rk <= k.vocab_size THEN r.c ELSE 0 END) AS BIGINT) AS covered
           |  FROM r, k GROUP BY 1)
           |SELECT CAST(vocab_size AS BIGINT) AS vocab_size, covered,
           |  covered * 10000 // t.tot AS coverage_bp
           |FROM cov, t""".stripMargin)),

    // which near-dup verifier disagrees: per banded candidate pair the
    // three screens (Jaccard >= 0.5, SimHash Hamming <= 3, containment
    // >= 0.8) as INTEGER-exact flags, cross-tabbed — 3i >= na+nb and
    // 5i >= 4·min(na,nb) are cross-multiplied, divisionless
    Entry("q190_verifier_matrix", (s, d) => {
      val docs = t(s, d, "documents")
      val cand = Dedup.minhashCandidates(docs, "text", "doc_id")
      val sets = docs.select(col("doc_id").as("doc"),
        graft.expressions.GraftFunctions.distinctWordShingles(col("text"), 3)
          .as("sh"))
      val withSets = cand
        .join(sets.withColumnRenamed("doc", "id_a")
          .withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed("doc", "id_b")
          .withColumnRenamed("sh", "sh_b"), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("__i"),
          size(col("sh_a")).cast("long").as("__na"),
          size(col("sh_b")).cast("long").as("__nb"))
      val packed = Dedup.simhashSignatures64(docs, "text", "doc_id")
        .select(col("doc"),
          (0 until 4).map(b => shiftleft(col(s"s$b"), 16 * b))
            .reduce(_ bitwiseOR _).as("__sig"))
      withSets
        .join(packed.select(col("doc").as("id_a"), col("__sig").as("__pa")), "id_a")
        .join(packed.select(col("doc").as("id_b"), col("__sig").as("__pb")), "id_b")
        .select(
          when(col("__i") * 3L >= col("__na") + col("__nb"), 1L)
            .otherwise(0L).as("jaccard_05"),
          when(bit_count(col("__pa").bitwiseXOR(col("__pb"))) <= 3, 1L)
            .otherwise(0L).as("hamming_3"),
          when(col("__i") * 5L >= least(col("__na"), col("__nb")) * 4L, 1L)
            .otherwise(0L).as("containment_08"))
        .groupBy(col("jaccard_05"), col("hamming_3"), col("containment_08"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
    },
      // q21 candidates + q23 intersection sizes + q27's 64-bit simhash
      // sigs; all three flags integer-exact (cross-multiplied)
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
           |  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS i
           |  FROM cand c JOIN sh ea ON ea.doc_id = c.id_a JOIN sh eb ON eb.doc_id = c.id_b AND eb.s = ea.s
           |  GROUP BY c.id_a, c.id_b),
           |toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |votes AS (
           |  SELECT doc_id, r1.b, r2.j,
           |    sum(CASE WHEN (CAST(('0x' || substr(md5(token), r1.b * 4 + 1, 4)) AS BIGINT) >> r2.j) & 1 = 1
           |             THEN 1 ELSE -1 END) AS v
           |  FROM toks, unnest(range(0, 4)) AS r1(b), unnest(range(0, 16)) AS r2(j)
           |  GROUP BY doc_id, r1.b, r2.j),
           |bandsig AS (
           |  SELECT doc_id, b, CAST(sum(CASE WHEN v >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS s
           |  FROM votes GROUP BY doc_id, b),
           |sigs4 AS (
           |  SELECT doc_id,
           |    max(CASE WHEN b = 0 THEN s END) AS s0, max(CASE WHEN b = 1 THEN s END) AS s1,
           |    max(CASE WHEN b = 2 THEN s END) AS s2, max(CASE WHEN b = 3 THEN s END) AS s3
           |  FROM bandsig GROUP BY doc_id),
           |flags AS (
           |  SELECT
           |    CASE WHEN COALESCE(i.i, 0) * 3 >= sa.n + sb.n THEN 1 ELSE 0 END AS jaccard_05,
           |    CASE WHEN bit_count(xor(pa.s0, pb.s0)) + bit_count(xor(pa.s1, pb.s1))
           |            + bit_count(xor(pa.s2, pb.s2)) + bit_count(xor(pa.s3, pb.s3)) <= 3
           |         THEN 1 ELSE 0 END AS hamming_3,
           |    CASE WHEN COALESCE(i.i, 0) * 5 >= least(sa.n, sb.n) * 4 THEN 1 ELSE 0 END AS containment_08
           |  FROM cand c
           |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
           |  JOIN (SELECT doc_id, CAST(len(sset) AS BIGINT) AS n FROM shs) sa ON sa.doc_id = c.id_a
           |  JOIN (SELECT doc_id, CAST(len(sset) AS BIGINT) AS n FROM shs) sb ON sb.doc_id = c.id_b
           |  JOIN sigs4 pa ON pa.doc_id = c.id_a
           |  JOIN sigs4 pb ON pb.doc_id = c.id_b)
           |SELECT CAST(jaccard_05 AS BIGINT) AS jaccard_05,
           |  CAST(hamming_3 AS BIGINT) AS hamming_3,
           |  CAST(containment_08 AS BIGINT) AS containment_08,
           |  CAST(count(*) AS BIGINT) AS n_pairs
           |FROM flags GROUP BY 1, 2, 3""".stripMargin)),

    // dedup knob table: pair and touched-doc counts of the ONE banded
    // candidate set at four Jaccard thresholds — read before pinning
    // a cut (q165's sweep idea applied to near-dup)
    Entry("q188_threshold_sweep", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccard(docs, "text", "doc_id",
        Dedup.minhashCandidates(docs, "text", "doc_id",
          bands = 3, rowsPerBand = 2))
      pairs
        .select(col("id_a"), col("id_b"), col("jaccard"),
          explode(array(lit(0.3), lit(0.5), lit(0.7), lit(0.9)))
            .as("threshold"))
        .filter(col("jaccard") >= col("threshold"))
        .select(col("threshold"),
          explode(array(col("id_a"), col("id_b"))).as("__doc"))
        .groupBy(col("threshold"))
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("__doc")).cast("long").as("n_docs"))
    },
      // q23's verified jaccard per candidate pair, swept at four
      // thresholds; docs counted once per threshold via the pair
      // explode (count(*)/2 pairs is exact — every pair adds 2 rows)
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
           |    CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - CAST(COALESCE(i.i, 0) AS DOUBLE)) AS jaccard
           |  FROM cand c
           |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
           |  JOIN (SELECT doc_id, len(sset) AS n FROM shs) sa ON sa.doc_id = c.id_a
           |  JOIN (SELECT doc_id, len(sset) AS n FROM shs) sb ON sb.doc_id = c.id_b),
           |sw AS (
           |  SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS threshold, id_a, id_b, jaccard
           |  FROM j),
           |f AS (
           |  SELECT threshold, unnest([id_a, id_b]) AS doc
           |  FROM sw WHERE jaccard >= threshold)
           |SELECT threshold, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
           |FROM f GROUP BY 1""".stripMargin)),

    // positional phrase search via the inverted-index join: postings
    // filtered to the phrase's terms, adjacency = equi-join on
    // (doc, pos − offset); exact occurrence counts per matching doc
    Entry("q238_phrase_search", (s, d) =>
      operators.TextIndex.phraseMatches(t(s, d, "documents"),
        "text", "doc_id", "value table"),
      // sliding bigram check over the SAME token list the engine
      // indexes — occurrence counts are exact integers
      Some(
        s"""WITH d AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |m AS (SELECT doc_id,
           |  CAST(len(list_filter(range(1, len(ts)),
           |    i -> ts[i] = 'value' AND ts[i+1] = 'table')) AS BIGINT) AS n_matches
           |  FROM d)
           |SELECT doc_id, n_matches FROM m WHERE n_matches >= 1""".stripMargin)),

    // greedy coverage-maximizing selection: the 3 docs that jointly
    // cover the most 3-shingles (facility-location greedy, the
    // diverse-subset selector) — exact integer gains, (gain desc, id)
    // tie order, unrolled-round oracle
    Entry("q247_greedy_coverage", (s, d) =>
      operators.Selection.greedyCoverage(t(s, d, "documents"),
        "text", "doc_id", k = 3, shingleN = 3)
        .withColumnRenamed("doc", "doc_id"),
      // the greedy rounds unrolled: argmax by (new-shingle count desc,
      // id), covered set accumulates; a round with no positive-gain
      // doc emits no row (the engine's early stop)
      Some(
        s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
           |gr AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS g FROM d),
           |w1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM gr
           |       GROUP BY 1 ORDER BY nc DESC, doc_id LIMIT 1),
           |c1 AS (SELECT DISTINCT g FROM gr JOIN w1 USING (doc_id)),
           |w2 AS (SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS nc FROM gr
           |       WHERE gr.g NOT IN (SELECT g FROM c1)
           |         AND gr.doc_id NOT IN (SELECT doc_id FROM w1)
           |       GROUP BY 1 ORDER BY nc DESC, doc_id LIMIT 1),
           |c2 AS (SELECT g FROM c1
           |       UNION SELECT gr.g FROM gr JOIN w2 USING (doc_id)),
           |w3 AS (SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS nc FROM gr
           |       WHERE gr.g NOT IN (SELECT g FROM c2)
           |         AND gr.doc_id NOT IN (SELECT doc_id FROM w1)
           |         AND gr.doc_id NOT IN (SELECT doc_id FROM w2)
           |       GROUP BY 1 ORDER BY nc DESC, doc_id LIMIT 1),
           |c3 AS (SELECT g FROM c2
           |       UNION SELECT gr.g FROM gr JOIN w3 USING (doc_id))
           |SELECT CAST(1 AS BIGINT) AS round, doc_id, nc AS new_grams,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total
           |FROM w1
           |UNION ALL SELECT 2, doc_id, nc,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c2) FROM w2
           |UNION ALL SELECT 3, doc_id, nc,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c3) FROM w3""".stripMargin)),

    // Zipf-law OLS fit on (ln rank, ln count) of the top-60 terms:
    // exact (count desc, term) ranks via a K-row broadcast self-join
    // (no single-partition window), pround6 + DECIMAL(18,6) sums
    Entry("q255_zipf_fit", (s, d) =>
      operators.TfIdf.zipfFit(t(s, d, "documents"), "text", topK = 60),
      // same (count desc, term) top-60 cut and rank; x/y/x2/xy/y2
      // pround6 -> DECIMAL(18,6) sums; slope/intercept/r2 in the same
      // fixed double operation order
      Some(
        s"""WITH tok AS (SELECT unnest($toksSql) AS term FROM documents),
           |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
           |      FROM tok GROUP BY 1),
           |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 60),
           |r AS (SELECT cnt, CAST(row_number() OVER (
           |        ORDER BY cnt DESC, term) AS BIGINT) AS rank FROM top),
           |p AS (SELECT
           |    floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS x,
           |    floor(ln(CAST(cnt AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS y
           |  FROM r),
           |sm AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
           |    CAST(sum(CAST(floor(x * x * 1000000 + 0.5) / 1000000
           |      AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
           |    CAST(sum(CAST(floor(x * y * 1000000 + 0.5) / 1000000
           |      AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
           |    CAST(sum(CAST(floor(y * y * 1000000 + 0.5) / 1000000
           |      AS DECIMAL(18,6))) AS DOUBLE) AS syy
           |  FROM p)
           |SELECT n AS n_terms,
           |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0.0 THEN
           |    floor((CAST(n AS DOUBLE) * sxy - sx * sy) /
           |      (CAST(n AS DOUBLE) * sxx - sx * sx) * 1000000 + 0.5)
           |      / 1000000 END AS slope,
           |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0.0 THEN
           |    floor((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
           |      (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) /
           |      CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 END
           |    AS intercept,
           |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0.0
           |        AND CAST(n AS DOUBLE) * syy - sy * sy <> 0.0 THEN
           |    floor(((CAST(n AS DOUBLE) * sxy - sx * sy) *
           |      (CAST(n AS DOUBLE) * sxy - sx * sy)) /
           |      ((CAST(n AS DOUBLE) * sxx - sx * sx) *
           |       (CAST(n AS DOUBLE) * syy - sy * sy)) * 1000000 + 0.5)
           |      / 1000000 END AS r2
           |FROM sm""".stripMargin)),

    // maximal-marginal-relevance pick of 3 vectors against query
    // vec 0 (lambda 0.7): relevance vs redundancy greedy, every
    // cosine bit-exact (q24 contract), unrolled-round oracle
    Entry("q258_mmr_selection", (s, d) => {
      val emb = t(s, d, "embeddings")
      operators.Selection.mmr(emb.filter(col("vec_id") =!= 0),
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 3, lambda = 0.7)
    },
      // three unrolled MMR rounds; every cosine is the q24 bit-exact
      // formula, scores on UNROUNDED doubles, (score desc, id) ties
      Some(
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings WHERE vec_id <> 0),
           |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q
           |  FROM embeddings WHERE vec_id = 0),
           |r AS (SELECT vec_id, v,
           |    list_dot_product(q, v) / (sqrt(list_dot_product(q, q)) *
           |      sqrt(list_dot_product(v, v))) AS rel
           |  FROM c, qv),
           |w1 AS (SELECT vec_id, v, rel, 0.0 AS ms,
           |    0.7 * rel - (1.0 - 0.7) * 0.0 AS score
           |  FROM r ORDER BY score DESC, vec_id LIMIT 1),
           |s2 AS (SELECT r.vec_id, r.v, r.rel,
           |    list_dot_product(w1.v, r.v) /
           |      (sqrt(list_dot_product(w1.v, w1.v)) *
           |       sqrt(list_dot_product(r.v, r.v))) AS ms
           |  FROM r, w1 WHERE r.vec_id <> w1.vec_id),
           |w2 AS (SELECT vec_id, v, rel, ms,
           |    0.7 * rel - (1.0 - 0.7) * ms AS score
           |  FROM s2 ORDER BY score DESC, vec_id LIMIT 1),
           |s3 AS (SELECT r.vec_id, r.rel,
           |    greatest(
           |      list_dot_product(w1.v, r.v) /
           |        (sqrt(list_dot_product(w1.v, w1.v)) *
           |         sqrt(list_dot_product(r.v, r.v))),
           |      list_dot_product(w2.v, r.v) /
           |        (sqrt(list_dot_product(w2.v, w2.v)) *
           |         sqrt(list_dot_product(r.v, r.v)))) AS ms
           |  FROM r, w1, w2
           |  WHERE r.vec_id <> w1.vec_id AND r.vec_id <> w2.vec_id),
           |w3 AS (SELECT vec_id, rel, ms,
           |    0.7 * rel - (1.0 - 0.7) * ms AS score
           |  FROM s3 ORDER BY score DESC, vec_id LIMIT 1)
           |SELECT CAST(1 AS BIGINT) AS round, vec_id,
           |  ${pround("rel", 6)} AS relevance, ${pround("ms", 6)} AS max_sim,
           |  ${pround("score", 6)} AS mmr_score FROM w1
           |UNION ALL SELECT 2, vec_id, ${pround("rel", 6)},
           |  ${pround("ms", 6)}, ${pround("score", 6)} FROM w2
           |UNION ALL SELECT 3, vec_id, ${pround("rel", 6)},
           |  ${pround("ms", 6)}, ${pround("score", 6)} FROM w3""".stripMargin)),

    // TextRank keyword centrality: weighted PageRank over the
    // adjacent-token co-occurrence graph (undirected, pair-count
    // weights, singleton pairs pruned) — q230's integer fixpoint on
    // a text-derived graph
    Entry("q294_textrank", (s, d) => {
      val bi = t(s, d, "documents")
        .select(functions.TextFns.tokens(col("text")).as("__t"))
        .select(explode(functions.TextFns.wordShingles(col("__t"), 2))
          .as("s"))
        .select(split(col("s"), " ").as("p"))
        .select(least(element_at(col("p"), 1), element_at(col("p"), 2))
          .as("id_a"),
          greatest(element_at(col("p"), 1), element_at(col("p"), 2))
            .as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).cast("long").as("w"))
        .filter(col("w") >= 2L)
      operators.PageRank.weightedRanks(bi, iterations = 3)
    },
      Some({
        val rounds = (1 to 3).map { k =>
          s"""r$k AS (
             |  SELECT n.node, n.strength,
             |    CAST(150000 + COALESCE(s.inflow, 0) AS BIGINT) AS rank
             |  FROM (SELECT node, strength FROM r0) n
             |  LEFT JOIN (
             |    SELECT e.dst AS node,
             |      CAST(sum((r.rank * 85 * e.w) // (100 * r.strength)) AS BIGINT) AS inflow
             |    FROM edges e JOIN r${k - 1} r ON r.node = e.src
             |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH tk AS (SELECT $toksSql AS t FROM documents),
           |bg AS (
           |  SELECT unnest(list_transform(range(1, len(t)),
           |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
           |  FROM tk),
           |pr AS (
           |  SELECT least(p.w1, p.w2) AS a, greatest(p.w1, p.w2) AS b2,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM bg WHERE p.w1 <> p.w2
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |edges AS (SELECT a AS src, b2 AS dst, w FROM pr
           |          UNION ALL SELECT b2, a, w FROM pr),
           |r0 AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS strength,
           |       CAST(1000000 AS BIGINT) AS rank FROM edges GROUP BY 1),
           |$rounds
           |SELECT node, strength, rank FROM r3""".stripMargin
      })),

    // multi-source BFS layers over the near-dup candidate graph: how
    // far a seed cohort (doc_id % 13 == 0 graph nodes) spreads through
    // q21's banding in <= 3 hops — exact set computation, unrolled
    // oracle rounds
    Entry("q245_bfs_layers", (s, d) => {
      val pairs = Dedup.minhashCandidates(t(s, d, "documents"),
        "text", "doc_id", bands = 3, rowsPerBand = 2)
      val nodes = pairs.select(col("id_a").as("n"))
        .unionAll(pairs.select(col("id_b").as("n"))).distinct()
      operators.Bfs.layers(pairs, "id_a", "id_b",
        nodes.filter(col("n") % 13 === 0), "n", maxDepth = 3)
        .withColumnRenamed("node", "doc_id")
    },
      // q21's candidate pairs as a symmetric edge list, three unrolled
      // frontier rounds (exact set computation — no scores, no ties)
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |hh AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM hh GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |      FROM bk a JOIN bk b
           |      ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |e AS (SELECT id_a AS src, id_b AS dst FROM p
           |      UNION SELECT id_b, id_a FROM p),
           |l0 AS (SELECT DISTINCT src AS node FROM e WHERE src % 13 = 0),
           |l1 AS (SELECT DISTINCT e.dst AS node FROM e
           |       JOIN l0 ON e.src = l0.node
           |       WHERE e.dst NOT IN (SELECT node FROM l0)),
           |l2 AS (SELECT DISTINCT e.dst AS node FROM e
           |       JOIN l1 ON e.src = l1.node
           |       WHERE e.dst NOT IN (SELECT node FROM l0)
           |         AND e.dst NOT IN (SELECT node FROM l1)),
           |l3 AS (SELECT DISTINCT e.dst AS node FROM e
           |       JOIN l2 ON e.src = l2.node
           |       WHERE e.dst NOT IN (SELECT node FROM l0)
           |         AND e.dst NOT IN (SELECT node FROM l1)
           |         AND e.dst NOT IN (SELECT node FROM l2))
           |SELECT node AS doc_id, CAST(0 AS BIGINT) AS dist FROM l0
           |UNION ALL SELECT node, 1 FROM l1
           |UNION ALL SELECT node, 2 FROM l2
           |UNION ALL SELECT node, 3 FROM l3""".stripMargin)),

    // boilerplate-hub ranking over the near-dup candidate graph: HITS
    // on the doc <-> LSH-band-bucket bipartite graph (q21's banding
    // config), restricted to buckets holding >= 2 docs — the template
    // families the q126 skew audit only counts get ranked (bucket
    // authority = how boilerplate-central the family is, doc hub = how
    // template-saturated the doc is). Node ids are strings (docs cast)
    // so both roles share one column; same BIGINT fixpoint as q215
    Entry("q234_neardup_hits", (s, d) => {
      val keyed = Dedup.minhashBandKeys(
        Dedup.minhashSignatures(t(s, d, "documents"), "text", "doc_id", 6),
        bands = 3, rowsPerBand = 2)
      val crowded = keyed.groupBy(col("band_key"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2).select("band_key")
      val edges = keyed.join(crowded, Seq("band_key"), "left_semi")
        .select(col("doc").cast("string").as("doc_id"), col("band_key"))
      operators.Hits.bipartiteHits(edges, "doc_id", "band_key",
        iterations = 2)
    },
      // q21's banding CTEs feed the crowded-bucket bipartite edge
      // list; then q215's unrolled 2-round HITS fixpoint (BIGINT
      // renorm with integer flooring — bit-identical on any engine)
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |hh AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM hh GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |crowded AS (SELECT band_key FROM bk GROUP BY 1 HAVING count(*) >= 2),
           |e AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS h, band_key AS a
           |      FROM bk JOIN crowded USING (band_key)),
           |s1h AS (SELECT h, CAST(count(*) AS BIGINT) * 1000000 AS raw FROM e GROUP BY 1),
           |s1hm AS (SELECT max(raw) AS m FROM s1h),
           |s1hn AS (SELECT h, raw * 1000000 // m AS score FROM s1h, s1hm),
           |s1a AS (SELECT a, CAST(sum(score) AS BIGINT) AS raw
           |  FROM e JOIN s1hn USING (h) GROUP BY 1),
           |s1am AS (SELECT max(raw) AS m FROM s1a),
           |s1an AS (SELECT a, raw * 1000000 // m AS score FROM s1a, s1am),
           |s2h AS (SELECT h, CAST(sum(score) AS BIGINT) AS raw
           |  FROM e JOIN s1an USING (a) GROUP BY 1),
           |s2hm AS (SELECT max(raw) AS m FROM s2h),
           |s2hn AS (SELECT h, raw * 1000000 // m AS score FROM s2h, s2hm),
           |s2a AS (SELECT a, CAST(sum(score) AS BIGINT) AS raw
           |  FROM e JOIN s2hn USING (h) GROUP BY 1),
           |s2am AS (SELECT max(raw) AS m FROM s2a),
           |s2an AS (SELECT a, raw * 1000000 // m AS score FROM s2a, s2am)
           |SELECT 'hub' AS role, h AS node, score FROM s2hn
           |UNION ALL
           |SELECT 'auth' AS role, a AS node, score FROM s2an""".stripMargin))
  )
}
