package graft
package queries

import graft.queries.OracleSide._
import graft.queries.SparkSide._
import org.apache.spark.sql.functions._

/** Contract queries — resampling inference (round-12). */
object ResamplingQueries {

  // q355_poisson_bootstrap's oracle, shared verbatim by q388_streaming_bootstrap
  // Poisson bootstrap: replicate b's uniform is the b-mod-5'th
  // 24-bit hex slot of digest md5('pb|(b div 5)|key') over 2^24
  // (exact in double — five independent uniforms per digest, so
  // 32 replicates cost 7 md5s per row, mirroring
  // Bootstrap.poissonReplicateSums); the Poisson(1) inverse-CDF
  // thresholds are the literal constants mirrored from
  // Bootstrap.poissonCdf1; replicate means pround6, SE from exact
  // DECIMAL moment sums, CI = nearest-rank 5%/95% order statistics
  private[queries] lazy val q355Oracle: String = {
        val ladder = operators.Bootstrap.poissonCdf1.zipWithIndex
          .map { case (c, i) => s"WHEN u < $c THEN $i" }.mkString(" ")
        s"""WITH base AS (
           |  SELECT c_mktsegment AS g, o_orderkey AS k,
           |    CAST(o_totalprice AS DECIMAL(18,2)) AS x
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |dig AS MATERIALIZED (
           |  SELECT g, x, j,
           |    md5('pb' || '|' || CAST(j AS VARCHAR) || '|' ||
           |      CAST(k AS VARCHAR)) AS d
           |  FROM base CROSS JOIN (SELECT unnest(range(7)) AS j)),
           |uu AS (
           |  SELECT g, x, j * 5 + i AS b,
           |    CAST(CAST(('0x' || substr(d, 1 + 6 * CAST(i AS INTEGER), 6))
           |      AS BIGINT) AS DOUBLE) / 16777216.0 AS u
           |  FROM dig CROSS JOIN (SELECT unnest(range(5)) AS i)
           |  WHERE j * 5 + i < 32),
           |w AS (SELECT g, b, x, CASE $ladder ELSE 7 END AS w FROM uu),
           |tot AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(sum(x) AS DECIMAL(38,2)) AS sx
           |  FROM base GROUP BY 1),
           |rep AS (
           |  SELECT g, b, CAST(sum(w) AS BIGINT) AS sw,
           |    CAST(sum(w * x) AS DECIMAL(38,2)) AS swx
           |  FROM w GROUP BY 1, 2),
           |m AS (
           |  SELECT g, b,
           |    ${pround("CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)", 6)} AS m6
           |  FROM rep WHERE sw > 0),
           |ranked AS (
           |  SELECT g, b, m6,
           |    row_number() OVER (PARTITION BY g ORDER BY m6, b) AS r,
           |    count(*) OVER (PARTITION BY g) AS used
           |  FROM m),
           |rr AS (
           |  SELECT g, m6, r, used,
           |    greatest(CAST(ceil(used * 0.05) AS BIGINT), 1) AS lo_r,
           |    CAST(ceil(used * 0.95) AS BIGINT) AS hi_r
           |  FROM ranked),
           |agg AS (
           |  SELECT g, CAST(max(used) AS BIGINT) AS reps_used,
           |    CAST(sum(CAST(m6 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sm,
           |    CAST(sum(CAST(CAST(m6 AS DECIMAL(19,6)) *
           |      CAST(m6 AS DECIMAL(19,6)) AS DECIMAL(38,12)))
           |      AS DECIMAL(38,12)) AS sq,
           |    max(CASE WHEN r = lo_r THEN m6 END) AS ci_lo,
           |    max(CASE WHEN r = hi_r THEN m6 END) AS ci_hi
           |  FROM rr GROUP BY 1)
           |SELECT g AS c_mktsegment, t.n_rows,
           |  ${pround("CAST(t.sx AS DOUBLE) / CAST(t.n_rows AS DOUBLE)", 6)}
           |    AS mean_obs,
           |  CAST(COALESCE(a.reps_used, 0) AS BIGINT) AS reps_used,
           |  CASE WHEN a.reps_used IS NULL THEN NULL ELSE
           |    ${pround("sqrt(greatest(CAST(0.0 AS DOUBLE), " +
             "(CAST(a.sq AS DOUBLE) - CAST(a.sm AS DOUBLE) * " +
             "CAST(a.sm AS DOUBLE) / CAST(a.reps_used AS DOUBLE)) / " +
             "(CAST(a.reps_used AS DOUBLE) - 1.0)))", 6)} END AS boot_se,
           |  a.ci_lo, a.ci_hi
           |FROM tot t LEFT JOIN agg a USING (g)""".stripMargin
      }

  lazy val entries: Seq[Entry] = Seq(
    // how sure are we of each segment's mean order value? Poisson
    // bootstrap (Chamandy et al.): 32 hash-seeded replicates from one
    // fanned scan — never a resampled copy of the data — giving the
    // bootstrap SE and a nearest-rank 90% interval beside the
    // observed mean
    Entry("q355_poisson_bootstrap", (s, d) =>
      operators.Bootstrap.poissonBootstrapMean(
        t(s, d, "orders")
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"),
            col("o_totalprice")),
        "c_mktsegment", "o_orderkey", "o_totalprice"),
      Some(q355Oracle)),

    // is the per-unit price stable if any one ship MONTH vanishes?
    // delete-one-group jackknife of the ratio estimator
    // Σ(price)/Σ(quantity) per return flag, leave-out blocks = ship
    // months — block totals only, two group-bys end to end
    Entry("q356_jackknife", (s, d) =>
      operators.Bootstrap.jackknifeRatio(
        t(s, d, "lineitem").select(col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM").as("blk"),
          col("l_extendedprice"), col("l_quantity")),
        "l_returnflag", "blk", "l_extendedprice", "l_quantity"),
      // leave-one-out estimates from block totals only; th_i pround6,
      // SE and bias-corrected estimate from exact DECIMAL moment sums
      Some(
        s"""WITH b AS (
           |  SELECT l_returnflag AS g, strftime(l_shipdate, '%Y-%m') AS blk,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
           |      AS DECIMAL(38,4)) AS sn,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
           |      AS DECIMAL(38,4)) AS sd
           |  FROM lineitem GROUP BY 1, 2),
           |t AS (
           |  SELECT g, sn, sd,
           |    CAST(sum(sn) OVER (PARTITION BY g) AS DECIMAL(38,4)) AS tn,
           |    CAST(sum(sd) OVER (PARTITION BY g) AS DECIMAL(38,4)) AS td
           |  FROM b),
           |loo AS (
           |  SELECT g, tn, td,
           |    ${pround("CAST(tn - sn AS DOUBLE) / CAST(td - sd AS DOUBLE)", 6)}
           |      AS th
           |  FROM t WHERE (td - sd) > 0),
           |agg AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS g_blocks,
           |    ${pround("CAST(max(tn) AS DOUBLE) / CAST(max(td) AS DOUBLE)", 6)}
           |      AS theta,
           |    CAST(sum(CAST(th AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sm,
           |    CAST(sum(CAST(CAST(th AS DECIMAL(19,6)) *
           |      CAST(th AS DECIMAL(19,6)) AS DECIMAL(38,12)))
           |      AS DECIMAL(38,12)) AS sq
           |  FROM loo GROUP BY 1)
           |SELECT g AS l_returnflag, g_blocks, theta,
           |  ${pround("CAST(g_blocks AS DOUBLE) * theta - " +
             "(CAST(g_blocks AS DOUBLE) - 1.0) * " +
             "(CAST(sm AS DOUBLE) / CAST(g_blocks AS DOUBLE))", 6)}
           |    AS theta_jack,
           |  ${pround("sqrt(greatest(CAST(0.0 AS DOUBLE), " +
             "(CAST(g_blocks AS DOUBLE) - 1.0) / CAST(g_blocks AS DOUBLE) * " +
             "(CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / " +
             "CAST(g_blocks AS DOUBLE))))", 6)} AS jack_se
           |FROM agg""".stripMargin)),

    // does a deep discount MOVE quantity, or is the gap noise? 32
    // hash-coin relabelings of the discount arm in one scan; the
    // Monte-Carlo p-value counts replicates whose |mean difference|
    // reaches the observed one
    Entry("q357_randomization_test", (s, d) =>
      operators.Bootstrap.randomizationTest(
        t(s, d, "lineitem").select(col("l_linestatus"),
          concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("k"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("arm"),
          col("l_quantity")),
        "l_linestatus", "k", "arm", "l_quantity"),
      // unconditional randomization null: replicate b's coin is BIT b
      // of the 48-bit md5 prefix of 'rt|0|key' (one digest carries 48
      // replicate coins, mirroring Bootstrap.randomizationTest); both
      // sides drop empty-arm replicates and count |d_b| >= |d_obs| on
      // pround6 differences
      Some({
        s"""WITH base AS (
           |  SELECT l_linestatus AS g,
           |    CAST(l_orderkey AS VARCHAR) || ':' ||
           |      CAST(l_linenumber AS VARCHAR) AS k,
           |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS arm,
           |    CAST(l_quantity AS DECIMAL(18,2)) AS x
           |  FROM lineitem),
           |obs AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(arm) AS BIGINT) AS n1,
           |    CAST(sum(x) AS DECIMAL(38,2)) AS sx,
           |    CAST(sum(arm * x) AS DECIMAL(38,2)) AS sx1
           |  FROM base GROUP BY 1),
           |hh AS MATERIALIZED (
           |  SELECT g, x,
           |    CAST(('0x' || substr(md5('rt' || '|' || '0' || '|' || k),
           |      1, 12)) AS BIGINT) AS h
           |  FROM base),
           |lab AS (
           |  SELECT g, b, x,
           |    (h >> CAST(b AS INTEGER)) & 1 AS lb
           |  FROM hh CROSS JOIN (SELECT unnest(range(32)) AS b)),
           |rep AS (
           |  SELECT g, b, CAST(sum(lb) AS BIGINT) AS nb,
           |    CAST(sum(lb * x) AS DECIMAL(38,2)) AS sb
           |  FROM lab GROUP BY 1, 2),
           |d AS (
           |  SELECT r.g, o.n, o.n1,
           |    ${pround("CAST(o.sx1 AS DOUBLE) / CAST(o.n1 AS DOUBLE) - " +
             "CAST(o.sx - o.sx1 AS DOUBLE) / CAST(o.n - o.n1 AS DOUBLE)", 6)}
           |      AS d_obs,
           |    ${pround("CAST(r.sb AS DOUBLE) / CAST(r.nb AS DOUBLE) - " +
             "CAST(o.sx - r.sb AS DOUBLE) / CAST(o.n - r.nb AS DOUBLE)", 6)}
           |      AS d_b
           |  FROM rep r JOIN obs o ON o.g = r.g
           |  WHERE r.nb > 0 AND r.nb < o.n),
           |agg AS (
           |  SELECT g, CAST(max(n) AS BIGINT) AS n,
           |    CAST(max(n1) AS BIGINT) AS n1, max(d_obs) AS d_obs,
           |    CAST(count(*) AS BIGINT) AS reps_used,
           |    CAST(sum(CASE WHEN abs(d_b) >= abs(d_obs) THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_extreme
           |  FROM d GROUP BY 1)
           |SELECT g AS l_linestatus, n, n1, d_obs, reps_used, n_extreme,
           |  ${pround("(CAST(n_extreme AS DOUBLE) + 1.0) / " +
             "(CAST(reps_used AS DOUBLE) + 1.0)", 6)} AS p_value
           |FROM agg""".stripMargin
      }))
  )
}
