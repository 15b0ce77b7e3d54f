package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — retrieval & record-linkage tier (round-12). */
object RetrievalLinkageQueries {

  // q366_capture_recapture's oracle, shared verbatim by q373_streaming_capture
  // indicators fold per (group, key) first; Chapman estimate by
  // exact floored HUGEINT division, SE the one p6 double
  private[queries] lazy val q366Oracle: String =
        s"""WITH e AS (
           |  SELECT event_type AS g, user_id AS k,
           |    CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0
           |      THEN 1 ELSE 0 END AS a,
           |    CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1
           |      THEN 1 ELSE 0 END AS b
           |  FROM events),
           |pk AS (
           |  SELECT g, k, CAST(max(a) AS BIGINT) AS ia,
           |    CAST(max(b) AS BIGINT) AS ib
           |  FROM e GROUP BY 1, 2),
           |c AS (
           |  SELECT g, CAST(sum(ia) AS BIGINT) AS n1,
           |    CAST(sum(ib) AS BIGINT) AS n2,
           |    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS m
           |  FROM pk WHERE ia = 1 OR ib = 1 GROUP BY 1)
           |SELECT g AS event_type, n1, n2, m,
           |  CASE WHEN m > 0 THEN
           |    CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1
           |      AS BIGINT) END AS n_hat,
           |  CASE WHEN m > 0 THEN
           |    ${pround("sqrt(CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * " +
             "(n1 - m) * (n2 - m) AS DOUBLE) / " +
             "CAST(CAST(m + 1 AS HUGEINT) * (m + 1) * (m + 2) AS DOUBLE))",
             6)} END AS se
           |FROM c""".stripMargin

  lazy val entries: Seq[Entry] = Seq(
    // which docs best answer a multi-term query? Okapi BM25 top-10
    // for the fixed query {hash, join, stream}: scan-resident term
    // filter, broadcast df/(N,T) attach, p6 per-term contributions
    Entry("q364_bm25", (s, d) =>
      operators.TfIdf.bm25(t(s, d, "documents"), "text", "doc_id",
        Seq("hash", "join", "stream"), k = 10),
      // the BM25 constants are the SAME Scala doubles the Spark plan
      // folds (shortest-repr round-trip), so both engines divide by
      // bit-identical operands; df counted on matched docs
      Some({
        val k1 = 1.2; val b = 0.75
        val cTop = (k1 + 1).toString
        val cK = (k1 * (1 - b)).toString
        val cB = (k1 * b).toString
        s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
           |dd AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM d),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
           |  CAST(sum(dl) AS BIGINT) AS tl FROM dd),
           |tm AS (
           |  SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, dl, unnest(t) AS w FROM dd)
           |  WHERE w IN ('hash', 'join', 'stream') GROUP BY 1, 2, 3),
           |dfs AS (SELECT w, CAST(count(*) AS BIGINT) AS df
           |  FROM tm GROUP BY 1),
           |sc AS (
           |  SELECT tm.doc_id,
           |    CAST(${pround("ln((CAST(nd AS DOUBLE) - CAST(df AS DOUBLE)" +
             " + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
             s"(CAST(tf AS DOUBLE) * $cTop) / " +
             s"(CAST(tf AS DOUBLE) + $cK + $cB * " +
             "(CAST(dl * nd AS DOUBLE) / CAST(tl AS DOUBLE)))", 6)}
           |      AS DECIMAL(18,6)) AS c6
           |  FROM tm JOIN dfs USING (w) CROSS JOIN tot)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(CAST(sum(c6) AS DECIMAL(38,6)) AS DOUBLE) AS score
           |FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
      })),

    // which catalog names are probable typo twins? blocked
    // sorted-neighborhood over normalized part names: lead()-window
    // neighborhoods (O(keys·w), never a pair join), edit distance <= 3
    Entry("q365_sorted_neighborhood", (s, d) =>
      operators.FuzzyJoin.sortedNeighborhood(t(s, d, "part"),
        "p_name", "p_partkey", window = 5, maxDist = 3),
      // the oracle affords the per-block pair enumeration the Spark
      // side avoids (lead()-window neighborhoods); same normalized
      // keys, min-id representatives, binary key order
      Some(
        s"""WITH keyed AS (
           |  SELECT regexp_replace(lower(trim(p_name)), '[^a-z0-9 ]', '',
           |      'g') AS key,
           |    CAST(min(p_partkey) AS BIGINT) AS mid
           |  FROM part WHERE p_name IS NOT NULL
           |  GROUP BY 1 HAVING len(key) > 0),
           |rn AS (
           |  SELECT key, mid, substr(key, 1, 1) AS blk,
           |    row_number() OVER (PARTITION BY substr(key, 1, 1)
           |      ORDER BY key) AS r
           |  FROM keyed)
           |SELECT a.mid AS id_a, b.mid AS id_b, a.key AS key_a,
           |  b.key AS key_b, CAST(b.r - a.r AS BIGINT) AS rank_gap,
           |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
           |FROM rn a JOIN rn b ON b.blk = a.blk AND b.r > a.r
           |  AND b.r <= a.r + 5
           |WHERE levenshtein(a.key, b.key) <= 3""".stripMargin)),

    // how many users exist beyond the ones we SAW? Chapman
    // capture-recapture per event type from the even-day/odd-day
    // observation windows — exact floored estimate, p6 SE
    Entry("q366_capture_recapture", (s, d) =>
      operators.Profile.captureRecapture(
        t(s, d, "events").select(col("event_type"), col("user_id"),
          (expr("unix_micros(ts) div 86400000000") % 2 === 0)
            .cast("long").as("in_a"),
          (expr("unix_micros(ts) div 86400000000") % 2 === 1)
            .cast("long").as("in_b")),
        "event_type", "user_id", "in_a", "in_b"),
      Some(q366Oracle))
  )
}
