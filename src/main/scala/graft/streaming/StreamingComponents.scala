package graft.streaming

import graft.operators.Components
import graft.sources.PathIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** Incrementally maintained connected components over a STREAM of
  * candidate-pair edges — the cluster table of a continuously-ingested
  * near-dup graph, kept current batch by batch instead of recomputed
  * from all edges ever seen.
  *
  * State is a parquet table of (node, component) rows, hash-partitioned
  * into `component`-keyed buckets (`bucket = pmod(hash(component), n)`).
  * Per batch:
  *
  *   1. components TOUCHED by the batch = labels of any edge endpoint
  *      (semi-join into state on node);
  *   2. the touched sub-state is re-labeled together with the new
  *      edges: each state row contributes a (node, component) edge, so
  *      existing clusters enter the solve as stars around their label —
  *      connectivity is preserved, and a batch edge BRIDGING two
  *      existing clusters merges them to one min-id label;
  *   3. only buckets holding relabeled rows (old or new label) are
  *      rewritten (dynamic partition overwrite); co-resident rows of
  *      untouched components in those buckets are carried over, every
  *      other bucket is untouched on disk.
  *
  * Cost per batch is O(touched components + batch edges) compute and
  * O(rewritten buckets) write — NOT O(all state) — which is what keeps
  * a 100-TB corpus' cluster table maintainable per ingest tick. The
  * state-read join prunes nothing (node lookups against
  * component-partitioned files), matching the band-table economics of
  * `StreamingDedup`: state rows are a few longs per node, orders of
  * magnitude smaller than the corpus.
  *
  * `nBuckets` trades write amortization against file-count overhead,
  * bounded on both sides (PERF.md round-7 probes): every bucket
  * holding a touched component is rewritten whole (untouched
  * co-residents carried over), so a tick touching >= nBuckets
  * components degrades the write to O(state) — but each bucket is also
  * >= 1 file, and at 8192 buckets directory listing + commit overhead
  * made EVERY tick slower than at 256 on a 7.5M-node state. Size it so
  * touched-components-per-tick << nBuckets while per-bucket files stay
  * tens of MB. Changing nBuckets against an existing state path is
  * safe — the bookkeeping carries old and new bucket values per batch
  * and rows migrate as their components are touched — it just mixes
  * layouts until fully migrated.
  *
  * Labels only COARSEN (merges, never splits), so re-running a batch
  * after a partial write converges to the same labeling: a node left
  * duplicated across an old and a new bucket re-enters the solve from
  * both rows, the solve collapses it to one label, and both buckets are
  * rewritten. Single writer per state path, as with every state table
  * here. So in a stream (`MergeableState.sink`) the micro-batch's step
  * is `Step(acceptEdges(batch, …))`, with the empty commit: the fold
  * has already written the state, and a replay re-converges.
  *
  * Determinism: `component` is the minimum node id of the cluster, so
  * incremental maintenance over any batch split of an edge set ends at
  * the same labeling as one `Components.connectedComponents` over the
  * union (q69 pins the two-batch split against q65's one-shot oracle).
  */
object StreamingComponents {

  /** Fold one batch of undirected edges into the state table; returns
    * the updated labeling of every node in a component the batch
    * touched (new nodes included).
    */
  def acceptEdges(edges: DataFrame, statePath: String,
                  aCol: String = "id_a", bCol: String = "id_b",
                  nBuckets: Int = 256): DataFrame = {
    val spark = edges.sparkSession
    // one execution of the batch-edge plan: edges typically arrive from
    // an expensive candidate-generation pipeline, and without the
    // checkpoint it would run three times (the emptiness probe, the
    // endpoints scan, and the union into the solve) — the same
    // double-execution class PERF.md round 7 removed from
    // connectedComponents itself. The checkpoint's row count answers
    // the emptiness test for free; blocks are released before return.
    val e = edges.select(col(aCol).as("id_a"), col(bCol).as("id_b"))
      .localCheckpoint(true)
    if (e.isEmpty) {
      e.unpersist(blocking = false)
      return labeling(spark, statePath, e.schema("id_a").dataType)
    }

    // Persisted for the tick: three consumers (touched detection, the
    // touched sub-state, the carried co-residents) would otherwise
    // each re-list and re-scan the bucket directories — at thousands
    // of buckets the listing alone dominates a sparse tick.
    val state = PathIO.readSwapState(spark, statePath,
        e.select(col("id_a").as("node"), col("id_a").as("component"),
          lit(0).as("bucket")).schema).persist()

    val endpoints = e.select(explode(array(col("id_a"), col("id_b"))).as("node"))
      .distinct()
    val touched = state.join(endpoints, Seq("node"), "left_semi")
      .select("component").distinct()
    // all rows of touched components, each re-entering the solve as a
    // (node, label) star edge
    val sub = state.join(touched, Seq("component"), "left_semi")
      .localCheckpoint(eager = true)
    val labels = Components.connectedComponents(
      sub.select(col("node").as("id_a"), col("component").as("id_b"))
        .unionByName(e))

    val newRows = labels
      .withColumn("bucket", pmod(hash(col("component")), lit(nBuckets)))
    // rewrite exactly the buckets whose contents change: where touched
    // rows lived, and where relabeled rows land
    val rewrite = sub.select("bucket")
      .unionByName(newRows.select("bucket")).distinct()
    val carried = state.join(rewrite, Seq("bucket"), "left_semi")
      .join(touched, Seq("component"), "left_anti")
    // materialized once: the write, the populated-bucket set, and the
    // stale-bucket retirement below must all see the SAME pre-write
    // snapshot (carried reads the state files the write replaces)
    val out = newRows.select("node", "component", "bucket")
      .unionByName(carried.select("node", "component", "bucket"))
      .localCheckpoint(eager = true)

    // repartition on the partition column first: partitionBy alone makes
    // EVERY task write a file into every bucket it sees (tasks x buckets
    // small files per batch); clustered, each bucket is one file per
    // holding task
    out.repartition(col("bucket"))
      .write
      .partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(statePath)
    // dynamic overwrite replaces only partitions PRESENT in `out` — a
    // bucket whose every component migrated to a merged label receives
    // no rows and would keep its stale files, leaving a node labeled
    // twice. Retire those buckets explicitly: one anti-join job over
    // two handful-of-ints frames (`rewrite` reads the checkpointed
    // sub + labels frames, `out` its checkpoint) instead of collecting
    // each side separately.
    rewrite.join(out.select("bucket").distinct(), Seq("bucket"), "left_anti")
      .collect().map(_.getInt(0))
      .foreach(b => PathIO.deleteDir(spark, s"$statePath/bucket=$b"))
    out.unpersist(blocking = false)
    // materialize the result OFF the labeling's checkpoint blocks before
    // freeing them (a freed localCheckpoint is unrecoverable); the small
    // result frame is reclaimed by the ContextCleaner once the caller
    // drops it — the q46-entry discipline
    val result = labels.select("node", "component").localCheckpoint(eager = true)
    Components.free(labels)
    e.unpersist(blocking = false)
    sub.unpersist(blocking = false)
    state.unpersist(blocking = false)
    result
  }

  /** The current full labeling (node, component). The state stores
    * `bucket` as its INT partition column.
    */
  def labeling(spark: SparkSession, statePath: String,
               idType: DataType = LongType): DataFrame =
    PathIO.readSwapState(spark, statePath, new StructType()
        .add("node", idType).add("component", idType).add("bucket", IntegerType))
      .select("node", "component")
}
