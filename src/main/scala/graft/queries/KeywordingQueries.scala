package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — keywording & vocabulary-growth tier (round-12). */
object KeywordingQueries {

  lazy val entries: Seq[Entry] = Seq(
    // what PHRASES define this corpus? RAKE top-20: stopword-free
    // runs by window cumsum, word degree/frequency scores, phrase =
    // sum of member words — the multi-word companion to q77's tf-idf
    Entry("q377_rake_keywords", (s, d) =>
      operators.TfIdf.rakeKeywords(t(s, d, "documents"),
        "text", "doc_id", k = 20, minWords = 2),
      // phrase boundaries by the stopword-indicator cumsum (1-based
      // positions here, 0-based in Spark — only the ORDER matters);
      // word scores exact-rational p6, phrase scores DECIMAL sums of
      // the member-word scores (duplicates within a phrase count)
      Some(
        s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
           |pos AS (
           |  SELECT doc_id, pos, t[pos] AS w
           |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos
           |        FROM d)),
           |st AS (
           |  SELECT doc_id, pos, w,
           |    CASE WHEN list_contains($stopwordList, w) THEN 1 ELSE 0 END
           |      AS isstop
           |  FROM pos),
           |ph AS (
           |  SELECT doc_id, pos, w, isstop,
           |    CAST(sum(isstop) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS phid
           |  FROM st),
           |phr AS (
           |  SELECT doc_id, phid,
           |    string_agg(w, ' ' ORDER BY pos) AS phrase,
           |    CAST(count(*) AS BIGINT) AS len
           |  FROM ph WHERE isstop = 0 GROUP BY 1, 2),
           |wstat AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
           |    CAST(sum(len) AS BIGINT) AS deg
           |  FROM (SELECT unnest(string_split(phrase, ' ')) AS w, len
           |        FROM phr)
           |  GROUP BY 1),
           |wsc AS (
           |  SELECT w, ${pround("CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)",
             6)} AS ws6
           |  FROM wstat),
           |dp AS (
           |  SELECT phrase, CAST(max(len) AS BIGINT) AS n_words,
           |    CAST(count(*) AS BIGINT) AS n_occurrences
           |  FROM phr GROUP BY 1 HAVING max(len) >= 2),
           |sc AS (
           |  SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
           |    CAST(max(n_occurrences) AS BIGINT) AS n_occurrences,
           |    CAST(CAST(sum(CAST(ws6 AS DECIMAL(18,6))) AS DECIMAL(38,6))
           |      AS DOUBLE) AS score
           |  FROM (SELECT phrase, n_words, n_occurrences,
           |          unnest(string_split(phrase, ' ')) AS w
           |        FROM dp) x
           |  JOIN wsc USING (w) GROUP BY 1)
           |SELECT phrase, n_words, n_occurrences, score
           |FROM sc ORDER BY score DESC, phrase LIMIT 20""".stripMargin)),

    // will the vocabulary SATURATE? Heaps'-law fit per source over 8
    // id-order checkpoints — β near 1 means every new doc brings new
    // tokens (and the tokenizer budget never stabilizes)
    Entry("q378_heaps_law", (s, d) =>
      operators.TfIdf.heapsLaw(t(s, d, "documents"),
        "text", "doc_id", "source", points = 8),
      // id-proportional checkpoints by exact integer division; V from
      // token first-ids, N from per-doc totals; DISTINCT (x, y) pairs
      // fit once (small ids repeat checkpoints); the hurst fit shape
      Some(
        s"""WITH d AS (
           |  SELECT source AS g, doc_id AS id, $toksSql AS t
           |  FROM documents WHERE source IS NOT NULL),
           |mx AS (SELECT g, CAST(max(id) AS BIGINT) AS mx FROM d GROUP BY 1),
           |cps AS (
           |  SELECT g, i, mx * i // 8 AS c
           |  FROM mx CROSS JOIN (SELECT unnest(range(1, 9)) AS i)),
           |fs AS (
           |  SELECT g, w, CAST(min(id) AS BIGINT) AS fid
           |  FROM (SELECT g, id, unnest(t) AS w FROM d) GROUP BY 1, 2),
           |v AS (
           |  SELECT fs.g, cps.c, CAST(count(*) AS BIGINT) AS v
           |  FROM fs JOIN cps ON cps.g = fs.g WHERE fs.fid <= cps.c
           |  GROUP BY 1, 2),
           |pd AS (SELECT g, id, CAST(len(t) AS BIGINT) AS n FROM d),
           |nt AS (
           |  SELECT pd.g, cps.c, CAST(sum(n) AS BIGINT) AS nt
           |  FROM pd JOIN cps ON cps.g = pd.g WHERE pd.id <= cps.c
           |  GROUP BY 1, 2),
           |xy AS (
           |  SELECT DISTINCT v.g,
           |    ${pround("ln(CAST(nt AS DOUBLE))", 6)} AS x6,
           |    ${pround("ln(CAST(v AS DOUBLE))", 6)} AS y6
           |  FROM v JOIN nt ON nt.g = v.g AND nt.c = v.c
           |  WHERE v > 0 AND nt > 0),
           |ft AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n_checkpoints,
           |    CAST(sum(CAST(x6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sx,
           |    CAST(sum(CAST(y6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sy,
           |    CAST(sum(CAST(CAST(x6 AS DECIMAL(19,6)) *
           |      CAST(y6 AS DECIMAL(19,6)) AS DECIMAL(38,12)))
           |      AS DECIMAL(38,12)) AS sxy,
           |    CAST(sum(CAST(CAST(x6 AS DECIMAL(19,6)) *
           |      CAST(x6 AS DECIMAL(19,6)) AS DECIMAL(38,12)))
           |      AS DECIMAL(38,12)) AS sxx
           |  FROM xy GROUP BY 1 HAVING count(*) >= 2),
           |bt AS (
           |  SELECT g, n_checkpoints, sx, sy,
           |    ${pround("(CAST(n_checkpoints AS DOUBLE) * " +
             "CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * " +
             "CAST(sy AS DOUBLE)) / (CAST(n_checkpoints AS DOUBLE) * " +
             "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * " +
             "CAST(sx AS DOUBLE))", 6)} AS beta
           |  FROM ft)
           |SELECT g AS source, n_checkpoints, beta,
           |  ${pround("exp((CAST(sy AS DOUBLE) - beta * " +
             "CAST(sx AS DOUBLE)) / CAST(n_checkpoints AS DOUBLE))", 6)}
           |    AS k_coef
           |FROM bt""".stripMargin)),

    // q368's tail gauge kept live: additive (n, Σe, Σe²) per
    // (flag, threshold), card via the shared meanExcessFromMoments
    // closing. Batch 0 is a read-only per-session fixture (q223
    // lesson): one real merge per invocation.
    Entry("q379_streaming_tail", (s, d) => {
      def li = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice"), col("l_orderkey"))
      val th = Seq(20000.0, 40000.0, 60000.0, 80000.0)
      val st = stateFixture("q379", s, d) { p =>
        streaming.StreamingTail.acceptBatch(
          li.filter(col("l_orderkey") % 2 === 0), "l_returnflag",
          "l_extendedprice", th, p)
      }
      val merged = streaming.StreamingTail.mergeBatch(
        li.filter(col("l_orderkey") % 2 === 1), "l_returnflag",
        "l_extendedprice", th, st)
      streaming.StreamingTail.tailView(merged, "l_returnflag")
    },
      // additive (n, Σe, Σe²) per fixed threshold under any batch
      // split = the one-shot excess moments, and both cards read the
      // shared meanExcessFromMoments closing
      Some(ReliabilityTailQueries.q368Oracle))
  )
}
