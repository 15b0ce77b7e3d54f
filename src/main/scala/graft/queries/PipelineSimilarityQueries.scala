package graft
package queries

import graft.functions.{Rounding, TextFns, VectorFns}
import graft.operators.{Dedup, Similarity}
import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — training-data pipeline: similarity, embedding and graph operators. */
object PipelineSimilarityQueries {

  // q65_components's oracle, shared verbatim by q69_streaming_components
  // min reachable id IS the component id on an undirected graph —
  // the recursive walk enumerates (node, reachable id) pairs and the
  // aggregate takes the fixpoint's minimum, independently of how the
  // Spark side's pointer jumping converges
  private[queries] lazy val q65Oracle: String =
        """WITH RECURSIVE
          |e AS (SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 8 < 5),
          |edges AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
          |walk(node, lab) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.src, w.lab FROM edges e JOIN walk w ON w.node = e.dst)
          |SELECT node, min(lab) AS component FROM walk GROUP BY node""".stripMargin

  lazy val entries: Seq[Entry] = Seq(
    Entry("q24_ann_bruteforce", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3)
        .withColumn("cos_sim", Rounding.pround(col("cos_sim"), 4))
    },
      Some(
        s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_sim
          |  FROM q, c WHERE query_id <> neighbor_id),
          |ranked AS (
          |  SELECT query_id, neighbor_id, cos_sim,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          |  FROM scored)
          |SELECT query_id, rank, neighbor_id, ${pround("cos_sim", 4)} AS cos_sim
          |FROM ranked WHERE rank <= 3""".stripMargin)),

    Entry("q25_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", "label", k = 3, nprobe = 2)
        .withColumn("cos_sim", Rounding.pround(col("cos_sim"), 4))
    },
      // mirrors Similarity.ivfTopK with the label as the coarse cell:
      // element-wise-mean centroids, nprobe=2 routing (ties to cell asc),
      // per-cell scan, top-3 by cosine (ties to neighbor_id asc)
      Some(
        s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |ex AS (SELECT label, unnest(v) AS x, unnest(range(1, 1 + len(v))) AS pos FROM e),
           |cent AS (SELECT label AS cell, pos, avg(x) AS m FROM ex GROUP BY label, pos),
           |centroid AS (SELECT cell, list(m ORDER BY pos) AS c FROM cent GROUP BY cell),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
           |routed AS (
           |  SELECT query_id, qv, cell,
           |    list_dot_product(qv, c) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c, c))) AS c_sim
           |  FROM q, centroid),
           |probes AS (
           |  SELECT query_id, qv, cell FROM routed
           |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY c_sim DESC, cell ASC) <= 2),
           |scored AS (
           |  SELECT p.query_id, e.vec_id AS neighbor_id,
           |    list_dot_product(p.qv, e.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos_sim
           |  FROM probes p JOIN e ON e.label = p.cell
           |  WHERE p.query_id <> e.vec_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos_sim,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, ${pround("cos_sim", 4)} AS cos_sim
           |FROM ranked WHERE rank <= 3""".stripMargin)),

    // learned-cell IVF, GRADUATED to a hash oracle (round 11): the
    // replayable spherical-Lloyd fit (deterministic smallest-id init,
    // two unrollable assignment rounds) replaces the MLlib k-means||
    // fit in the ENTRY — the oracle replays both rounds as CTEs, the
    // PageRank discipline. `kmeansIvfTopK` (the MLlib path) remains
    // the production alternative, recall-gated in SimilaritySpec.
    Entry("q34_ann_kmeans", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.sphericalLloydIvfTopK(emb.filter(col("vec_id") < 10),
          emb, "vec_id", "embedding", k = 3, nCells = 8, nprobe = 3,
          iters = 2)
        .withColumn("cos_sim", Rounding.pround(col("cos_sim"), 4))
    },
      // the replayable spherical-Lloyd fit unrolled round-by-round
      // (the PageRank discipline): smallest-id init, argmax-cosine
      // assignment (ties -> smallest cell, same order as the engine's
      // max(struct(sim, -cell))), per-dim mean rebuild, then the q25
      // routing/scan body over the final assignment
      Some(
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |init AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
           |  FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
           |a0 AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT e.vec_id, e.v, i.cell,
           |      list_dot_product(e.v, i.c) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(i.c, i.c))) AS s
           |    FROM e, init i)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) = 1),
           |cx1 AS (
           |  SELECT cell, pos, avg(x) AS m
           |  FROM (SELECT cell, unnest(v) AS x,
           |          unnest(range(1, 1 + len(v))) AS pos FROM a0)
           |  GROUP BY cell, pos),
           |cent1 AS (SELECT cell, list(m ORDER BY pos) AS c FROM cx1 GROUP BY cell),
           |a1 AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT e.vec_id, e.v, c1.cell,
           |      list_dot_product(e.v, c1.c) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c1.c, c1.c))) AS s
           |    FROM e, cent1 c1)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) = 1),
           |cx2 AS (
           |  SELECT cell, pos, avg(x) AS m
           |  FROM (SELECT cell, unnest(v) AS x,
           |          unnest(range(1, 1 + len(v))) AS pos FROM a1)
           |  GROUP BY cell, pos),
           |cent2 AS (SELECT cell, list(m ORDER BY pos) AS c FROM cx2 GROUP BY cell),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
           |routed AS (
           |  SELECT query_id, qv, cell,
           |    list_dot_product(qv, c) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c, c))) AS c_sim
           |  FROM q, cent2),
           |probes AS (
           |  SELECT query_id, qv, cell FROM routed
           |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY c_sim DESC, cell ASC) <= 3),
           |scored AS (
           |  SELECT p.query_id, a1.vec_id AS neighbor_id,
           |    list_dot_product(p.qv, a1.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a1.v, a1.v))) AS cos_sim
           |  FROM probes p JOIN a1 ON a1.cell = p.cell
           |  WHERE p.query_id <> a1.vec_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos_sim,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, ${pround("cos_sim", 4)} AS cos_sim
           |FROM ranked WHERE rank <= 3""".stripMargin)),

    // ANN preprocessing: center on the corpus mean, L2-normalize;
    // output pins the distance-to-mean and the first normalized
    // component so the oracle hashes the whole transform
    Entry("q105_embed_center", (s, d) =>
      operators.Similarity.centerAndNormalize(
          t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          Rounding.pround(col("center_dist"), 4).as("center_dist"),
          // guarded: ANSI element_at throws on an empty vector, where
          // the oracle's cv[1] quietly yields null
          Rounding.pround(when(size(col("embedding_cn")) > 0,
            element_at(col("embedding_cn"), 1)), 4).as("first_dim")),
      // per-dim means rebuilt in index order; centered list via the
      // (x, i) index lambda; norm = in-order list_aggregate sum, same
      // accumulation order as the Spark HOF
      Some(
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |m AS (SELECT i, avg(x) AS mx
           |      FROM (SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e)
           |      GROUP BY i),
           |mv AS (SELECT list(mx ORDER BY i) AS mvec FROM m),
           |c AS (
           |  SELECT vec_id,
           |    list_transform(v, (x, i) -> x - mvec[i]) AS cv
           |  FROM e, mv),
           |n AS (
           |  SELECT vec_id, cv,
           |    sqrt(list_aggregate(list_transform(cv, x -> x * x), 'sum')) AS nrm
           |  FROM c)
           |SELECT vec_id, ${pround("nrm", 4)} AS center_dist,
           |  ${pround("CASE WHEN nrm > 0 THEN cv[1] / nrm ELSE cv[1] END", 4)} AS first_dim
           |FROM n""".stripMargin)),

    // int8 quantization audit: per-vector reconstruction RMSE and max
    // abs error against the corpus' per-dim uint8 grid
    Entry("q106_quantize_error", (s, d) =>
      operators.Similarity.quantizeError8(
          t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          Rounding.pround(col("rmse"), 6).as("rmse"),
          Rounding.pround(col("max_abs_err"), 6).as("max_abs_err")),
      // token-for-token mirror of quantizeError8's arithmetic tree
      Some(
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |b AS (SELECT i, min(x) AS lo, max(x) AS hi
           |      FROM (SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e)
           |      GROUP BY i),
           |bl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM b),
           |r AS (
           |  SELECT vec_id,
           |    list_transform(v, (x, i) ->
           |      x - (lo[i] + (CASE WHEN hi[i] > lo[i]
           |                    THEN floor((x - lo[i]) / (hi[i] - lo[i]) * 255.0 + 0.5)
           |                    ELSE 0.0 END) / 255.0 * (hi[i] - lo[i]))) AS err
           |  FROM e, bl)
           |SELECT vec_id,
           |  ${pround("sqrt(list_aggregate(list_transform(err, x -> x * x), 'sum') / len(err))", 6)} AS rmse,
           |  ${pround("list_max(list_transform(err, x -> abs(x)))", 6)} AS max_abs_err
           |FROM r""".stripMargin)),

    // rows-only check (binary media payloads have no SQL oracle): real
    // javax.imageio PNG decode + javax.sound WAV decode + RIFF/AVI
    // MJPEG demux over a deterministic synthetic media table. GRADUATED
    // to a real DuckDB oracle in round 15: every decode path still runs
    // (PNG pixels, WAV frames, AVI demux + JPEG frames), and the
    // projection keeps exactly the columns an engine WITHOUT the codecs
    // can recompute from the generation recipe — PNG pixel stats are
    // lossless (the gradient formula IS the decoded luminance), WAV
    // PCM is a replayable LCG, AVI dims/duration are the avih header
    // the generator wrote. What stays codec-private — deflate'd PNG
    // byte sizes, lossy JPEG pixels — is NULLed here and remains
    // content-pinned by MultimodalSpec, so the oracle checks decode
    // CORRECTNESS, not encoder byte-for-byte artifacts.
    Entry("q29_media_features", (s, _) =>
      operators.Multimodal.extractFeatures(
          operators.Multimodal.syntheticMedia(s, 200), dims = 16, batchSize = 32)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("sample_rate"), col("duration_ms"),
          when(col("kind") === "audio", col("n_bytes")).as("wav_bytes"),
          when(col("kind") =!= "video",
            Rounding.pround(element_at(col("features"), 1).cast("double"), 4)).as("f0")),
      // q29 is self-generating (no input table): the oracle REPLAYS the
      // generation recipe and checks the DECODED values against it.
      // java.util.Random(i)'s two nextInt(64) draws are the 48-bit LCG
      // (x*25214903917+11 mod 2^48; nextInt of a power of two takes the
      // top bits: (64*(seed>>17))>>31) — HUGEINT keeps the 2^82 products
      // exact. PNG luminance is lossless, so bin-0 mass is the exact
      // pixel-formula count ((x*31+y*17+7i) mod 256 < 16). WAV samples
      // replay the 64-bit LCG under mod 2^64 (recursive CTE, one state
      // step per sample; bin 0 = state < 2^60 since the emitted short is
      // the state's top 16 bits). The float32 ratio is reproduced with
      // REAL arithmetic before the portable pround. AVI dims/duration
      // come straight from the generator's avih formulas. Codec-private
      // bytes (deflate size, lossy JPEG pixels) are NULL on both sides.
      Some(
        """WITH RECURSIVE ids AS (SELECT unnest(generate_series(0,199)) AS i),
          |rnd AS (
          |  SELECT i, (xor(CAST(i AS HUGEINT), 25214903917) % 281474976710656) AS s0 FROM ids),
          |rnd1 AS (SELECT i, ((s0*25214903917+11) % 281474976710656) AS s1 FROM rnd),
          |rnd2 AS (SELECT i, s1, ((s1*25214903917+11) % 281474976710656) AS s2 FROM rnd1),
          |dims AS (SELECT i,
          |    16 + CAST((64 * (s1 // 131072)) // 2147483648 AS INTEGER) AS w,
          |    16 + CAST((64 * (s2 // 131072)) // 2147483648 AS INTEGER) AS h
          |  FROM rnd2),
          |px AS (
          |  SELECT i, h, unnest(generate_series(0, w-1)) AS x
          |  FROM dims WHERE i % 3 = 0),
          |pxy AS (
          |  SELECT i, x, unnest(generate_series(0, h-1)) AS y FROM px),
          |pix AS (
          |  SELECT i,
          |    count(*) FILTER (WHERE ((x*31 + y*17 + i*7) % 256) < 16) AS c0,
          |    count(*) AS n
          |  FROM pxy GROUP BY i),
          |lcg AS (
          |  SELECT i, 0 AS k,
          |    CAST(i AS HUGEINT)*2654435761 + 1 AS s,
          |    16*40*(1 + i%5) AS n
          |  FROM ids WHERE i % 3 = 1
          |  UNION ALL
          |  SELECT i, k+1, (s*6364136223846793005 + 1442695040888963407) % 18446744073709551616, n
          |  FROM lcg WHERE k < n),
          |aud AS (
          |  SELECT i,
          |    count(*) FILTER (WHERE s < 1152921504606846976) AS c0,
          |    count(*) AS n
          |  FROM lcg WHERE k >= 1 GROUP BY i)
          |SELECT
          |  CAST(d.i AS BIGINT) AS media_id,
          |  CASE d.i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          |  CASE WHEN d.i % 3 = 1 THEN 0 ELSE d.w END AS width,
          |  CASE WHEN d.i % 3 = 1 THEN 0 ELSE d.h END AS height,
          |  CASE WHEN d.i % 3 = 1 THEN 16000 ELSE 0 END AS sample_rate,
          |  CAST(CASE d.i % 3 WHEN 0 THEN 0 WHEN 1 THEN 40*(1 + d.i%5)
          |       ELSE 1000*(1 + d.i%5) END AS BIGINT) AS duration_ms,
          |  CAST(CASE WHEN d.i % 3 = 1 THEN 44 + 2*16*40*(1 + d.i%5) END AS BIGINT) AS wav_bytes,
          |  CASE WHEN d.i % 3 = 2 THEN NULL
          |       ELSE floor(CAST(CAST(coalesce(p.c0, a.c0) AS REAL) /
          |                       CAST(coalesce(p.n, a.n) AS REAL) AS DOUBLE)*10000 + 0.5)/10000
          |  END AS f0
          |FROM dims d LEFT JOIN pix p ON p.i = d.i LEFT JOIN aud a ON a.i = d.i""".stripMargin)),

    // transitive dedup closure over a planted candidate graph: chain
    // edges doc_id -> doc_id+1 wherever doc_id % 8 < 5 build 6-node
    // paths, so the ends of each chain NEVER share an edge and only
    // transitive propagation (min-label + pointer jumping) can collapse
    // them — exactly the A~B~C case pairwise resolution misses. The
    // result frame is an eager localCheckpoint; its blocks are released
    // by the ContextCleaner once the caller drops it (q46 discipline).
    // localEdgeLimit = 0: this is the DISTRIBUTED algorithm's
    // verification query — at test scale factors the graph is small
    // enough that the driver union-find fast path would otherwise
    // answer, and the iterative min-label + pointer-jumping loop is
    // the code a 100-TB run exercises
    Entry("q65_components", (s, d) => {
      val edges = t(s, d, "documents")
        .filter(col("doc_id") % 8 < 5)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      operators.Components.connectedComponents(edges, localEdgeLimit = 0L)
    },
      Some(q65Oracle)),

    // dup-cluster size histogram over q65's component assignment: a
    // few huge clusters vs a long tail of pairs need different
    // remediation
    Entry("q95_cluster_sizes", (s, d) => {
      val edges = t(s, d, "documents")
        .filter(col("doc_id") % 8 < 5)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      operators.Components.sizeHistogram(
        operators.Components.connectedComponents(edges, localEdgeLimit = 0L))
    },
      // q65's recursive closure + two bounded aggregations
      Some(
        """WITH RECURSIVE
          |e AS (SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 8 < 5),
          |edges AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
          |walk(node, lab) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.src, w.lab FROM edges e JOIN walk w ON w.node = e.dst),
          |comp AS (SELECT node, min(lab) AS component FROM walk GROUP BY node),
          |sz AS (SELECT component, count(*) AS size FROM comp GROUP BY component)
          |SELECT size, count(*) AS n_clusters FROM sz GROUP BY size""".stripMargin)),

    // graph-density screen: the 2-core of the banded candidate graph
    // (4 peeling rounds — fixpoint on this corpus, spec-asserted) —
    // duplicate FAMILIES survive, hub-and-spoke collision stars peel
    Entry("q176_kcore", (s, d) =>
      operators.KCore.kcore(
        Dedup.minhashCandidates(t(s, d, "documents"), "text", "doc_id"),
        k = 2, rounds = 4),
      // q127's candidate-graph CTEs + four unrolled peeling rounds:
      // each round keeps nodes with degree >= 2 and induces the
      // subgraph — integer-only, so round-for-round engine-exact
      Some({
        val rounds = (1 to 4).map { i =>
          s"""k$i AS (SELECT src AS node FROM e${i - 1}
             |  GROUP BY src HAVING count(*) >= 2),
             |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
             |  JOIN k$i a ON a.node = e.src
             |  JOIN k$i b ON b.node = e.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s
           |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
           |h AS (SELECT doc_id, $h1Sql AS h1, $h2Sql AS h2 FROM sh),
           |sig AS (SELECT doc_id, ${sigColsSql(6)} FROM h GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest(${bandKeysSql(3, 2)}) AS band_key FROM sig),
           |cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
           |  FROM bk a JOIN bk b
           |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |e0 AS (SELECT src, dst FROM cand UNION SELECT dst, src FROM cand),
           |$rounds
           |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           |FROM e4 GROUP BY src""".stripMargin
      })),

    // multi-probe SRP ANN: each query probes its home bucket + all 6
    // Hamming-1 buckets — recall recovered query-side while the
    // corpus index stays one bucket per vector
    Entry("q178_multiprobe_srp", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.srpMultiProbeTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3, planes = 6, dims = 64)
        .withColumn("cos_sim", Rounding.pround(col("cos_sim"), 4))
    },
      // 6-plane SRP bucket (srpCoef-mirrored), probes = home bucket
      // XOR one-bit masks; corpus keeps ONE bucket per vector
      Some({
        val bucketExpr = (0 until 6).map { p =>
          val plane = (0 until 64).map(d => VectorFns.srpCoef(p, d))
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(v, $plane) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |b AS (SELECT vec_id, v, CAST($bucketExpr AS BIGINT) AS b0 FROM e),
           |q AS (SELECT vec_id, v, b0 FROM b WHERE vec_id < 10),
           |probes AS (
           |  SELECT vec_id, v,
           |    xor(b0, CAST(unnest([0, 1, 2, 4, 8, 16, 32]) AS BIGINT)) AS bucket
           |  FROM q),
           |scored AS (
           |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    list_dot_product(p.v, c.v) / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos_sim
           |  FROM probes p JOIN b c ON c.b0 = p.bucket AND c.vec_id <> p.vec_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos_sim,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, ${pround("cos_sim", 4)} AS cos_sim
           |FROM ranked WHERE rank <= 3""".stripMargin
      })),

    // what am I about to delete: per near-dup cluster size, keeper,
    // quality and length spread — the pre-dedup review card (integer
    // quality, so the whole row set is hash-exact)
    Entry("q180_cluster_audit", (s, d) => {
      val docs = t(s, d, "documents")
      // default localEdgeLimit: the banded candidate set is far under
      // the 2M-edge bound here, so the union-find fast path applies
      // (q65/q69 pin the distributed min-label path explicitly)
      val comp = operators.Components.connectedComponents(
        Dedup.minhashCandidates(docs, "text", "doc_id"))
      comp.join(docs.select(col("doc_id").as("node"),
          TextFns.linearQualityScore(col("text")).as("__q"), col("n_chars")),
          "node")
        .groupBy(col("component"))
        .agg(count(lit(1)).cast("long").as("size"),
          min(col("node")).as("keeper"),
          min(col("__q")).cast("long").as("min_quality"),
          max(col("__q")).cast("long").as("max_quality"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
    },
      // q21's candidate CTEs + the unrolled hash-to-min contraction
      // (ccUnrolledSql — the recursive walk is O(Σ component²) and
      // cost 207 s at sf1.0 on the percolated LSH graph) + the q129
      // integer score — per-cluster audit aggregates
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
           |edges AS MATERIALIZED (SELECT src, dst FROM cand UNION SELECT dst, src FROM cand),
           |${ccUnrolledSql("edges", "ca")},
           |comp AS (SELECT node, root AS component FROM cam),
           |f AS (
           |  SELECT doc_id,
           |    CAST(len($toksSql) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter($toksSql, x -> list_contains($stopwordList, x))) AS BIGINT) AS stop_cnt,
           |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS punct_cnt,
           |    CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS non_ws,
           |    CAST(len(text) AS BIGINT) AS n_chars_t
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |    CAST(80 * least(n_tok, 50)
           |      - abs((stop_cnt * 10000) // greatest(n_tok, 1) - 2500)
           |      - 2 * ((punct_cnt * 10000) // greatest(n_chars_t, 1))
           |      - abs((non_ws * 100) // greatest(n_tok, 1) - 500) AS BIGINT) AS score
           |  FROM f)
           |SELECT component, CAST(count(*) AS BIGINT) AS size,
           |  CAST(min(c.node) AS BIGINT) AS keeper,
           |  CAST(min(s.score) AS BIGINT) AS min_quality,
           |  CAST(max(s.score) AS BIGINT) AS max_quality,
           |  CAST(min(d.n_chars) AS BIGINT) AS min_chars,
           |  CAST(max(d.n_chars) AS BIGINT) AS max_chars
           |FROM comp c
           |JOIN sc s ON s.doc_id = c.node
           |JOIN documents d ON d.doc_id = c.node
           |GROUP BY component""".stripMargin)),

    // golden-record merge: q144's fuzzy matches as edges, transitive
    // components, one canonical record per entity cluster
    Entry("q196_golden_record", (s, d) => {
      val part = t(s, d, "part")
      val pairs = operators.FuzzyJoin
        .nearestMatch(part, "p_name", "p_partkey", maxDist = 3)
        .select(col("id").as("id_a"), col("match_id").as("id_b"))
      operators.Components.connectedComponents(pairs)
        .join(part.select(col("p_partkey").as("node"),
          lower(trim(col("p_name"))).as("__nm")), "node")
        .groupBy(col("component"))
        .agg(count(lit(1)).cast("long").as("n_records"),
          min(col("__nm")).as("canonical_name"))
    },
      // q144's nearest-match pairs as edges + the q65 recursive
      // min-label walk; canonical = lexicographic min member name.
      // The edge CTE uses q144's distinct-name form (same rationale:
      // the record-level self-join was quadratic in block density)
      // the per-tick closure is the unrolled hash-to-min contraction
      // (ccUnrolledSql) — the former WITH RECURSIVE transitive-closure
      // walk is O(Σ component²) rows by construction, and edit-
      // distance chains over TPC-H's 5-color part names percolate
      // large components at sf1.0 (731 s; the contraction is bounded
      // by rounds × |E|)
      Some(
        s"""WITH p AS (
          |  SELECT p_partkey AS id, lower(trim(p_name)) AS nm FROM part),
          |d AS (
          |  SELECT nm, min(id) AS id1,
          |    min(CASE WHEN rn = 2 THEN id END) AS id2,
          |    count(*) AS c
          |  FROM (SELECT nm, id,
          |          row_number() OVER (PARTITION BY nm ORDER BY id) AS rn
          |        FROM p)
          |  GROUP BY nm),
          |dn AS (SELECT d.*, regexp_split_to_array(nm, '\\s+')[1] AS blk FROM d),
          |x AS (
          |  SELECT a.nm, b.id1 AS xid, levenshtein(a.nm, b.nm) AS dist
          |  FROM dn a JOIN dn b ON a.blk = b.blk AND a.nm <> b.nm),
          |bx AS (
          |  SELECT nm, xid, dist,
          |    row_number() OVER (PARTITION BY nm ORDER BY dist, xid) AS rn
          |  FROM x WHERE dist <= 3),
          |e0 AS (
          |  SELECT p.id AS src,
          |    CASE WHEN d.c > 1
          |         THEN (CASE WHEN p.id = d.id1 THEN d.id2 ELSE d.id1 END)
          |         ELSE bx.xid END AS dst
          |  FROM p JOIN d USING (nm)
          |  LEFT JOIN (SELECT nm, xid FROM bx WHERE rn = 1) bx USING (nm)
          |  WHERE d.c > 1 OR bx.xid IS NOT NULL),
          |edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
          |${ccUnrolledSql("edges", "gr")},
          |comp AS (SELECT node, root AS component FROM grm)
          |SELECT component, CAST(count(*) AS BIGINT) AS n_records,
          |  min(p.nm) AS canonical_name
          |FROM comp JOIN p ON p.id = comp.node
          |GROUP BY 1""".stripMargin)),

    // representation-collapse screen: dominant second-moment direction
    // by INTEGER power iteration — quantized components, BIGINT matrix
    // sums, max-abs renormalization; engine-exact where float PCA
    // never is (driver holds only the 64x64 matrix)
    Entry("q182_dominant_direction", (s, d) =>
      operators.Pca.dominantDirection(
        t(s, d, "embeddings"), "embedding", dims = 64),
      // mirrors Pca.dominantDirection: quantize -> BIGINT second-moment
      // matrix -> five unrolled max-abs-normalized matvec rounds
      Some({
        val rounds = (1 to 5).map { r =>
          s"""w$r AS (SELECT p.i, CAST(sum(p.c * v${r - 1}.v) AS BIGINT) AS w
             |  FROM p JOIN v${r - 1} ON v${r - 1}.i = p.j GROUP BY p.i),
             |m$r AS (SELECT max(abs(w)) AS m FROM w$r),
             |v$r AS (SELECT w$r.i,
             |  CAST(CASE WHEN m$r.m > 0
             |    THEN floor(CAST(w$r.w AS DOUBLE) * 4096.0 / CAST(m$r.m AS DOUBLE))
             |    ELSE 0 END AS BIGINT) AS v
             |  FROM w$r, m$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |q AS (SELECT list_transform(v, x -> CAST(floor(x * 128.0 + 0.5) AS BIGINT)) AS xq FROM e),
           |idx AS (SELECT CAST(range AS BIGINT) AS i FROM range(1, 65)),
           |p AS (SELECT i.i, j.i AS j,
           |    CAST(sum(q.xq[i.i] * q.xq[j.i]) AS BIGINT) AS c
           |  FROM q, idx i, idx j GROUP BY 1, 2),
           |v0 AS (SELECT i, CAST(4096 AS BIGINT) AS v FROM idx),
           |$rounds
           |SELECT v5.i AS dim, v5.v AS loading, p.c AS energy
           |FROM v5 JOIN p ON p.i = v5.i AND p.j = v5.i""".stripMargin
      })),

    // graph-density screen over the near-dup candidate graph: local
    // clustering coefficient — cliques (coeff 10000) are boilerplate
    // families, low-coeff hubs are hot-bucket noise (q126's subject,
    // measured per node instead of per bucket)
    Entry("q210_clustering_coeff", (s, d) =>
      operators.Triangles.localClusteringBp(
        Dedup.minhashCandidates(t(s, d, "documents"), "text", "doc_id",
          bands = 3, rowsPerBand = 2),
        "id_a", "id_b"),
      // q157's candidate-edge CTE + symmetric degrees; the coefficient
      // is the same BIGINT floor expression (// in DuckDB, DIV in Spark)
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
           |deg AS (
           |  SELECT node, CAST(count(*) AS BIGINT) AS degree
           |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
           |  GROUP BY 1),
           |tri AS (
           |  SELECT ab.a, ab.b, bc.b AS c
           |  FROM e ab JOIN e bc ON bc.a = ab.b
           |  WHERE EXISTS (SELECT 1 FROM e ac WHERE ac.a = ab.a AND ac.b = bc.b)),
           |nt AS (
           |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
           |  FROM (SELECT unnest([a, b, c]) AS node FROM tri)
           |  GROUP BY 1)
           |SELECT deg.node, degree, CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
           |  coalesce(n_tri, 0) * 20000 // (degree * (degree - 1)) AS coeff_bp
           |FROM deg LEFT JOIN nt ON deg.node = nt.node
           |WHERE degree >= 2""".stripMargin)),

    // bipartite influence: HITS hubs (customers) / authorities
    // (suppliers) over the who-buys-from-whom graph, two integer
    // power-iteration rounds — q127's engine-exact discipline on a
    // DIRECTED bipartite graph
    Entry("q215_hits", (s, d) =>
      operators.Hits.bipartiteHits(
        t(s, d, "lineitem")
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_suppkey")),
        "o_custkey", "l_suppkey", iterations = 2),
      // two HITS rounds unrolled; round-1 hub inflow is deg * unit
      // because every authority starts at unit
      Some(
        """WITH e AS (
          |  SELECT DISTINCT o_custkey AS h, l_suppkey AS a
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |h1 AS (SELECT h, CAST(count(*) AS BIGINT) * 1000000 AS raw FROM e GROUP BY 1),
          |hm1 AS (SELECT max(raw) AS m FROM h1),
          |h1n AS (SELECT h, raw * 1000000 // m AS score FROM h1, hm1),
          |a1 AS (SELECT a, CAST(sum(score) AS BIGINT) AS raw
          |  FROM e JOIN h1n USING (h) GROUP BY 1),
          |am1 AS (SELECT max(raw) AS m FROM a1),
          |a1n AS (SELECT a, raw * 1000000 // m AS score FROM a1, am1),
          |h2 AS (SELECT h, CAST(sum(score) AS BIGINT) AS raw
          |  FROM e JOIN a1n USING (a) GROUP BY 1),
          |hm2 AS (SELECT max(raw) AS m FROM h2),
          |h2n AS (SELECT h, raw * 1000000 // m AS score FROM h2, hm2),
          |a2 AS (SELECT a, CAST(sum(score) AS BIGINT) AS raw
          |  FROM e JOIN h2n USING (h) GROUP BY 1),
          |am2 AS (SELECT max(raw) AS m FROM a2),
          |a2n AS (SELECT a, raw * 1000000 // m AS score FROM a2, am2)
          |SELECT 'hub' AS role, h AS node, score FROM h2n
          |UNION ALL
          |SELECT 'auth' AS role, a AS node, score FROM a2n""".stripMargin)),

    // label-noise screen: per-vector same-label agreement with its
    // SRP-bucket neighbors (q26's banding config), exact basis points
    // — low agree_bp flags mislabeling candidates for relabel triage
    Entry("q222_label_consistency", (s, d) =>
      operators.Similarity.labelConsistency(t(s, d, "embeddings"),
        "embedding", "vec_id", "label",
        bands = 4, planesPerBand = 8, dims = 64, minNeighbors = 3),
      // q26's e/bk/cand CTE prefix (the trailing cosine CTE is unused
      // and unevaluated); neighbors symmetrized, labels joined twice
      Some(
        s"""$embeddingPairsSql,
           |nb AS (SELECT id_a AS doc, id_b AS nbr FROM cand
           |       UNION ALL SELECT id_b, id_a FROM cand),
           |l AS (SELECT vec_id, label FROM embeddings),
           |j AS (
           |  SELECT nb.doc, la.label,
           |    CASE WHEN la.label = lb.label THEN 1 ELSE 0 END AS same
           |  FROM nb
           |  JOIN l la ON la.vec_id = nb.doc
           |  JOIN l lb ON lb.vec_id = nb.nbr)
           |SELECT doc AS vec_id, label,
           |  CAST(count(*) AS BIGINT) AS n_neighbors,
           |  CAST(sum(same) AS BIGINT) AS n_same,
           |  CAST(sum(same) * 10000 // count(*) AS BIGINT) AS agree_bp
           |FROM j GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // co-purchase centrality: weighted PageRank over the basket-pair
    // graph (edge weight = pair support) — which parts anchor the
    // catalog; q127's BIGINT discipline with strength-normalized
    // weighted mass, 3 rounds unrolled in the oracle
    Entry("q230_weighted_pagerank", (s, d) =>
      operators.PageRank.weightedRanks(
        operators.Basket.pairAffinity(t(s, d, "lineitem"),
            "l_orderkey", "l_partkey", minPairs = 2L)
          .select(col("item_a").as("id_a"), col("item_b").as("id_b"),
            col("n_ab").as("w")),
        iterations = 3),
      // q211's pair supports as weights; 3 weighted rounds unrolled
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
        s"""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |p AS (
           |  SELECT x.l_partkey AS a, y.l_partkey AS b2,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
           |    AND x.l_partkey < y.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |edges AS (SELECT a AS src, b2 AS dst, w FROM p
           |          UNION ALL SELECT b2, a, w FROM p),
           |r0 AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS strength,
           |       CAST(1000000 AS BIGINT) AS rank FROM edges GROUP BY 1),
           |$rounds
           |SELECT node, strength, rank FROM r3""".stripMargin
      })),

    // first-order Markov transition matrix of event types within each
    // (user, day) sequence ordered by (ts, event_id): one partitioned
    // window pass + two hash aggs; prob_bp exact floor division
    Entry("q251_markov_transitions", (s, d) =>
      operators.Markov.transitions(
        t(s, d, "events").withColumn("__day",
          date_format(col("ts"), "yyyy-MM-dd")),
        Seq("user_id", "__day"), Seq("ts", "event_id"), "event_type"),
      // lead() within (user, day) ordered by (ts, event_id); pair
      // counts + per-from totals; prob_bp exact floor division
      Some(
        """WITH s AS (
          |  SELECT event_type,
          |    lead(event_type) OVER (
          |      PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
          |      ORDER BY ts, event_id) AS nxt
          |  FROM events),
          |p AS (
          |  SELECT event_type AS from_type, nxt AS to_type,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
          |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS ft
          |      FROM p GROUP BY 1)
          |SELECT p.from_type, p.to_type, p.n,
          |  CAST(p.n * 10000 // f.ft AS BIGINT) AS prob_bp
          |FROM p JOIN f USING (from_type)""".stripMargin)),

    // reciprocal-rank fusion of cosine and inner-product top-10
    // rankings for the first 10 query vectors — the hybrid-retrieval
    // combiner; fused order = (pround6 RRF score desc, neighbor)
    Entry("q256_rrf_fusion", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      operators.Similarity.rrfFuse(
        operators.Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
          k = 10),
        operators.Similarity.dotTopK(q, emb, "vec_id", "embedding",
          k = 10),
        k0 = 60, topN = 5)
    },
      // q24's bit-exact cosine and the raw list_dot_product ranking,
      // full-outer fused on (query, neighbor); fused order =
      // (pround6 score desc, neighbor)
      Some(
        """WITH q AS (SELECT vec_id AS query_id,
          |    CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS neighbor_id,
          |    CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |ra AS (SELECT * FROM (
          |    SELECT query_id, neighbor_id,
          |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY
          |        list_dot_product(qv, cv) /
          |        (sqrt(list_dot_product(qv, qv)) *
          |         sqrt(list_dot_product(cv, cv))) DESC, neighbor_id)
          |        AS BIGINT) AS rank_a
          |    FROM q, c WHERE query_id <> neighbor_id)
          |  WHERE rank_a <= 10),
          |rb AS (SELECT * FROM (
          |    SELECT query_id, neighbor_id,
          |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY
          |        list_dot_product(qv, cv) DESC, neighbor_id)
          |        AS BIGINT) AS rank_b
          |    FROM q, c WHERE query_id <> neighbor_id)
          |  WHERE rank_b <= 10),
          |f AS (SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
          |    coalesce(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
          |    ra.rank_a, rb.rank_b
          |  FROM ra FULL OUTER JOIN rb
          |    ON ra.query_id = rb.query_id
          |   AND ra.neighbor_id = rb.neighbor_id),
          |sc AS (SELECT query_id, neighbor_id, rank_a, rank_b,
          |    floor((coalesce(1.0 / (60 + rank_a), 0.0) +
          |           coalesce(1.0 / (60 + rank_b), 0.0)) * 1000000 + 0.5)
          |      / 1000000 AS rrf_score
          |  FROM f)
          |SELECT * FROM (
          |  SELECT query_id,
          |    CAST(row_number() OVER (PARTITION BY query_id
          |      ORDER BY rrf_score DESC, neighbor_id) AS BIGINT)
          |      AS fused_rank,
          |    neighbor_id, rank_a, rank_b, rrf_score
          |  FROM sc)
          |WHERE fused_rank <= 5""".stripMargin)),

    // double-billing screen: line pairs with the SAME (part, quantity)
    // shipped within 7 days of each other — banded by day bucket, so
    // the join never goes quadratic in the calendar
    Entry("q296_double_billing", (s, d) =>
      operators.FuzzyJoin.proximatePairs(
        t(s, d, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
            .as("line_id"),
          col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          unix_date(to_date(col("l_shipdate"))).cast("long").as("day")),
        Seq("l_partkey", "qty"), "line_id", "day", window = 7L),
      Some(
        """SELECT a.l_partkey, CAST(a.l_quantity AS BIGINT) AS qty,
          |  CAST(a.l_orderkey * 10 + a.l_linenumber AS BIGINT) AS id_a,
          |  CAST(b.l_orderkey * 10 + b.l_linenumber AS BIGINT) AS id_b,
          |  CAST(date_diff('day', DATE '1970-01-01',
          |    CAST(a.l_shipdate AS DATE)) AS BIGINT) AS day_a,
          |  CAST(date_diff('day', DATE '1970-01-01',
          |    CAST(b.l_shipdate AS DATE)) AS BIGINT) AS day_b,
          |  CAST(abs(date_diff('day', CAST(b.l_shipdate AS DATE),
          |    CAST(a.l_shipdate AS DATE))) AS BIGINT) AS gap_days
          |FROM lineitem a JOIN lineitem b
          |  ON a.l_partkey = b.l_partkey
          |  AND CAST(a.l_quantity AS BIGINT) = CAST(b.l_quantity AS BIGINT)
          |  AND a.l_orderkey * 10 + a.l_linenumber
          |    < b.l_orderkey * 10 + b.l_linenumber
          |  AND abs(date_diff('day', CAST(b.l_shipdate AS DATE),
          |    CAST(a.l_shipdate AS DATE))) <= 7""".stripMargin))
  )
}
