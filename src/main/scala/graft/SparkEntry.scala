package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per operator from SURVEY.md §2
  * plus the training-data-pipeline extensions; `oracleSql` holds the
  * DuckDB-equivalent SQL for the hash-compare correctness gate.
  *
  * Each query is one [[graft.queries.Entry]] — its Spark body and its
  * oracle side by side — in the family file of package `graft.queries`
  * that holds its operator tier. This object only assembles the
  * families into the two contract maps.
  *
  * Numeric discipline for cross-engine hash equality: additive aggregates
  * run over DECIMAL(18,2|4) (exact, associative — immune to partial-agg
  * ordering), then are cast back to DOUBLE for a stable output type;
  * ratios/similarities are computed with the same operation order in both
  * engines and rounded.
  */
object SparkEntry {

  /** Every contract query, family by family. Names must be distinct:
    * the maps below are keyed by name, so a repeated name would
    * silently drop one query — and the hash gate with it.
    */
  private[graft] lazy val entries: Seq[Entry] = {
    val all = Seq(
      HypothesisQueries.entries,
      HypothesisMetricsQueries.entries,
      RelationalQueries.entries,
      RelationalTextQueries.entries,
      PipelineTextQueries.entries,
      PipelineSimilarityQueries.entries,
      PipelineStreamingQueries.entries,
      PipelineSamplingQueries.entries,
      PipelineProfileQueries.entries,
      PipelineRelationalQueries.entries,
      ResamplingQueries.entries,
      SeriesDiagnosticsQueries.entries,
      VarianceTrendQueries.entries,
      RetrievalLinkageQueries.entries,
      ReliabilityTailQueries.entries,
      SeriesStructureQueries.entries,
      AssociationQueries.entries,
      KeywordingQueries.entries,
      ExplainedVarianceQueries.entries,
      MultipleTestingQueries.entries,
      LiveIndexQueries.entries).flatten
    val repeated = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty,
      s"contract query names must be distinct: ${repeated.toSeq.sorted.mkString(",")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_star_join")(spark, "/root/testdata/sf0.001")

  /** Built once per JVM. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  /** DuckDB-equivalent SQL per query (driver runs these on the same
    * parquet tables and hash-compares). The one omitted key is a
    * driver rows-only check that is genuinely un-oracle-able: q56
    * (engine-specific sketch estimates). Former rows-only queries are
    * now hash-verified by construction: q35 regenerates the replay
    * source's LCG rows in SQL (`range()` + chained Park–Miller steps,
    * see ReplaySource.row), q18 replays the greedy packing loop as a
    * recursive CTE, q34 (round 11) switched to the replayable
    * spherical-Lloyd fit whose rounds unroll as CTEs — the seeded MLlib
    * path remains recall-gated in SimilaritySpec as the production
    * alternative — and q29 (round 15) replays its generation recipe.
    */
  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap

  /** The queries a harness run covers: all of them, or the
    * comma-separated names in SPARK_GRAFT_QUERIES. A typo'd name fails
    * loudly (the message carries the harness `tag`) — an all-miss
    * filter would write an empty dump or a total of 0 that reads as
    * success.
    */
  private[graft] def selectedQueries(
      tag: String): Map[String, (SparkSession, String) => DataFrame] = {
    val only = requestedQueries
    val unknown = only -- queries.keySet
    if (unknown.nonEmpty)
      sys.error(s"[$tag] unknown queries in SPARK_GRAFT_QUERIES: ${unknown.mkString(",")}")
    if (only.isEmpty) queries
    else queries.filter { case (n, _) => only(n) }
  }

  /** The names SPARK_GRAFT_QUERIES lists; empty when it is unset. */
  private[graft] def requestedQueries: Set[String] =
    sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])

  /** Delete the per-invocation streaming state dirs the queries have
    * created since the last call (see `SparkSide.invocationStateDir`).
    * NonFatal only (an InterruptedException must still cancel), and
    * failures print under the harness `tag` — a silently dead cleanup
    * would let the /tmp pile-up this hook exists to prevent come back
    * unseen.
    */
  private[graft] def deleteInvocationStateDirs(spark: SparkSession, tag: String): Unit =
    SparkSide.drainInvocationStateDirs().foreach { dir =>
      try graft.sources.PathIO.deleteDir(spark, dir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[$tag] state-dir cleanup failed for $dir: ${e.getMessage}")
      }
    }
}
