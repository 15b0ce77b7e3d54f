package graft
package queries

import graft.functions.{TextFns, VectorFns}

/** Oracle-side helpers shared by the query families: SQL fragments and
  * builders that the DuckDB oracles of several queries interpolate.
  */
object OracleSide {

  val toksSql = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"
  val shinglesSql = // 3-word shingles over t (token list)
    "list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
  val slotSql = "CAST(floor((floor(epoch(ts)) + 450) / 900) * 900 AS BIGINT)"
  def slotFmt(fmt: String) = s"strftime(make_timestamp($slotSql * 1000000), '$fmt')"
  val markerValues = TextFns.langMarkers.toSeq.sortBy(_._1)
    .flatMap { case (l, ws) => ws.map(w => s"('$l','$w')") }.mkString(", ")
  val stopwordList = TextFns.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  // portable double rounding — must mirror functions.Rounding.pround exactly
  def pround(x: String, s: Int) = { val f = "1" + "0" * s; s"floor(($x) * $f + 0.5) / $f" }
  // MinHash two-halves scheme — must mirror Dedup.minhashSignatures:
  // h1/h2 = first/second 60 bits of md5(shingle), hash_i = h1 + i*h2
  val h1Sql = "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)"
  val h2Sql = "CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT)"
  def sigColsSql(k: Int) =
    (0 until k).map(i => s"min(h1 + $i * h2) AS mh$i").mkString(", ")
  def bandKeysSql(bands: Int, r: Int) = (0 until bands).map { b =>
    val parts = (0 until r).map(i => s"mh${b * r + i}").mkString(", '|', ")
    s"concat('b$b', '|', $parts)"
  }.mkString("[", ", ", "]")

  // mirrors CurationPipeline.run: quality gate -> marker-LID 'en' gate
  // -> min-id exact dedup -> MinHash-LSH candidates (q21's CTE shape
  // over the surviving set) -> near-dup losers under either keep
  // policy. transitive=true is run()'s default: one survivor (the min
  // id) per connected COMPONENT of the candidate graph, expressed as
  // the unrolled hash-to-min contraction (ccUnrolledSql — the
  // recursive walk cost 236/216 s for q46/q64 at sf1.0).
  // transitive=false is the greedy pairwise policy (drop the larger id
  // of every candidate pair) — what the per-batch streaming screen
  // implements, since a stream never sees the whole candidate graph.
  // corpusWhere restricts the screened corpus; evalWhere (when set)
  // inserts the decontamination stage between the language gate and
  // exact dedup — same position as StreamingCuration.screenBatch —
  // dropping docs that share any distinct 3-word shingle with the
  // eval slice (registerEvalSet n=3 / decontMinShared=1)
  def curationSql(transitive: Boolean, corpusWhere: String = "TRUE",
                  evalWhere: Option[String] = None): String = {
    val losersSql =
      if (transitive)
        s"""cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
          |edges AS MATERIALIZED (SELECT src, dst FROM cand UNION SELECT dst, src FROM cand),
          |${ccUnrolledSql("edges", "cu")},
          |losers AS (SELECT node AS doc_id FROM cum WHERE node <> root)""".stripMargin
      else
        "losers AS (SELECT DISTINCT b.doc_id FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)"
    val decontStage = evalWhere.map { w =>
      s"""eg AS (SELECT DISTINCT unnest(list_distinct($shinglesSql)) AS s
         |       FROM (SELECT $toksSql AS t FROM documents WHERE $w)),
         |lg AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
         |       FROM (SELECT doc_id, t FROM langkept)),
         |contaminated AS (SELECT doc_id FROM lg JOIN eg USING (s) GROUP BY doc_id),
         |decont AS (SELECT * FROM langkept
         |           WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),""".stripMargin
    }.getOrElse("")
    val exactSrc = if (evalWhere.isDefined) "decont" else "langkept"
    s"""WITH RECURSIVE base AS (SELECT doc_id, text, lang, n_chars, $toksSql AS t FROM documents WHERE $corpusWhere),
       |feat AS (
       |  SELECT doc_id, text, lang, n_chars, t, len(t) AS n_tokens,
       |    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains($stopwordList, x))) AS DOUBLE) / len(t) ELSE 0.0 END AS swr,
       |    CASE WHEN len(t) > 0 THEN CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum') AS DOUBLE) / len(t) ELSE 0.0 END AS atl,
       |    CASE WHEN len(text) > 0 THEN CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) ELSE 0.0 END AS pr
       |  FROM base),
       |quality AS (
       |  SELECT * FROM feat
       |  WHERE n_tokens >= 5 AND pr <= 0.3
       |    AND greatest(least(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
       |      + (1.0 - abs(swr - 0.25) * 2.0) * 0.3
       |      + (1.0 - least(abs(atl - 5.0) / 5.0, 1.0)) * 0.3, 1.0), 0.0) >= 0.2),
       |qt AS (SELECT doc_id, unnest(t) AS token FROM quality),
       |m(ml, w) AS (VALUES $markerValues),
       |scores AS (SELECT qt.doc_id, m.ml, count(*) AS sc FROM qt JOIN m ON qt.token = m.w GROUP BY qt.doc_id, m.ml),
       |best AS (SELECT doc_id, ml FROM scores
       |         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, ml ASC) = 1),
       |langkept AS (SELECT q.* FROM quality q JOIN best b ON q.doc_id = b.doc_id AND b.ml = 'en'),
       |$decontStage
       |exact AS (SELECT * FROM $exactSrc
       |          QUALIFY row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) = 1),
       |sh AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
       |       FROM (SELECT doc_id, t FROM exact)),
       |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
       |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
       |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
       |$losersSql
       |SELECT doc_id, lang, n_chars FROM exact
       |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin
  }

  // mirrors Dedup.embeddingNearDups (banded SRP): per-band packed
  // sign bits with the literal plane constants (VectorFns.srpCoef —
  // same md5 derivation, plane index b*r+j), candidates = DISTINCT
  // pairs sharing any band key, verified by unrounded cosine in `p`.
  // Shared prefix for q26 (the pair list) and q70 (transitive
  // components over those pairs).
  // the [band keys] list shared by q26/q70 (pairs) and q108 (stream):
  // per-band packed sign bits with the literal plane constants
  lazy val embBandKeyList: String = {
    def bandKeySql(b: Int, r: Int) = {
      val value = (0 until r).map { j =>
        val plane = (0 until 64).map(d => VectorFns.srpCoef(b * r + j, d))
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $plane) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"'$b:' || CAST(($value) AS VARCHAR)"
    }
    (0 until 4).map(b => bandKeySql(b, 8)).mkString(", ")
  }
  lazy val embeddingPairsSql: String = {
    val keys = embBandKeyList
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, unnest([$keys]) AS band_key FROM e),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT c.id_a, c.id_b,
       |    list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS c2
       |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b)""".stripMargin
  }

  /** Unrolled hash-to-min contraction connected components over a
    * symmetric `edges(src, dst)` CTE — the sf1.0-feasible
    * replacement for the transitive-closure walk (whose row count
    * is O(Σ component²) BY CONSTRUCTION and blows up when SRP
    * buckets percolate). Plain min-label propagation was measured
    * at +1..2 hops/round on the percolated chain topology (41
    * rounds at sf0.1 — labels stall at local-minimum basin
    * boundaries), so each round instead:
    *
    *  1. hooks every super-node to the min of itself and its
    *     neighbors (h),
    *  2. flattens h by `comps` self-compositions (h ↦ h∘h squares
    *     the jump, so sorted pointer chains compress 2^comps per
    *     round — the one topology hooking alone walks linearly),
    *  3. contracts the edge set to (h(src), h(dst)) distinct pairs
    *     (basins MERGE, so per-component cluster count drops
    *     geometrically — 5 rounds on the real sf0.1 graph, 8 on a
    *     4,000-node shuffled path), and
    *  4. composes h into the original-node root mapping.
    *
    * A fixpoint of hook+contract on symmetric edges is exactly the
    * per-component min (hook-stability across an edge forces equal
    * labels; labels never leave the component and never exceed own
    * id), and a round shortfall can only MISMATCH the hash gate —
    * never silently pass — so the static bound is self-diagnosing.
    * Work per round is |E_r| + comps·|V_r| join rows, both
    * shrinking geometrically; once the edge set is empty, the
    * remaining rounds are no-ops on empty relations.
    *
    * Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    * round references its predecessor several times — inlining
    * would expand the plan exponentially in the round count.
    *
    * Emits CTE text; final mapping in `<p>m`(node, root), which
    * GUARDS convergence: if the contracted edge relation is still
    * non-empty after the static round budget, every mapping row
    * raises error() naming the shortfall. Without the sentinel a
    * too-coarse mapping surfaced as a generic hash-gate mismatch —
    * hard to attribute to non-convergence vs a real defect
    * (round-13 advisor); with it the failure mode is an explicit
    * "raise rounds" message.
    */
  def ccUnrolledSql(edgesCte: String, p: String, rounds: Int = 10,
                    comps: Int = 10): String = {
    val init = Seq(
      s"${p}e0 AS MATERIALIZED (SELECT src, dst FROM $edgesCte)",
      s"${p}m0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS root FROM $edgesCte)")
    val rs = (1 to rounds).flatMap { r =>
      val hook =
        s"""${p}h${r}_0 AS MATERIALIZED (
           |  SELECT u.node, least(u.node, coalesce(nb.mn, u.node)) AS lab
           |  FROM (SELECT DISTINCT src AS node FROM ${p}e${r - 1}) u
           |  LEFT JOIN (SELECT src AS node, min(dst) AS mn
           |             FROM ${p}e${r - 1} GROUP BY src) nb
           |    ON nb.node = u.node)""".stripMargin
      val flat = (1 to comps).map { c =>
        s"""${p}h${r}_$c AS MATERIALIZED (
           |  SELECT a.node, coalesce(b.lab, a.lab) AS lab
           |  FROM ${p}h${r}_${c - 1} a
           |  LEFT JOIN ${p}h${r}_${c - 1} b ON b.node = a.lab)""".stripMargin
      }
      val compose =
        s"""${p}m$r AS MATERIALIZED (
           |  SELECT m.node, coalesce(h.lab, m.root) AS root
           |  FROM ${p}m${r - 1} m
           |  LEFT JOIN ${p}h${r}_$comps h ON h.node = m.root)""".stripMargin
      val contract =
        s"""${p}e$r AS MATERIALIZED (
           |  SELECT DISTINCT hu.lab AS src, hv.lab AS dst
           |  FROM ${p}e${r - 1} e
           |  JOIN ${p}h${r}_$comps hu ON hu.node = e.src
           |  JOIN ${p}h${r}_$comps hv ON hv.node = e.dst
           |  WHERE hu.lab <> hv.lab)""".stripMargin
      (hook +: flat) :+ compose :+ contract
    }
    // convergence sentinel: consumers read <p>m, whose rows error()
    // when <p>e<rounds> is non-empty — the CASE keeps error() lazy
    // so a converged run never evaluates it
    val guard =
      s"""${p}m AS MATERIALIZED (
         |  SELECT node,
         |    CASE WHEN (SELECT count(*) FROM ${p}e$rounds) = 0 THEN root
         |         ELSE error('cc oracle $p: edges remain after $rounds contraction rounds - raise rounds') END AS root
         |  FROM ${p}m$rounds)""".stripMargin
    (init ++ rs :+ guard).mkString(",\n")
  }

}
