package graft.plans

import graft.operators.{Relational, SnapshotPipeline}
import graft.sources.{Layers, PathIO}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch orchestration of one snapshot cycle — the driver-sequenced
  * restatement of the reference's Lambda/SNS/SQS choreography (reference
  * §3.1: every stage is a separate process chained by S3 events; here
  * the stages are DataFrame transforms chained by layer writes, and the
  * feedback loop — popularity weights driving the next cycle's ingest
  * partitioning — is the returned pack plan).
  *
  * Materialization points mirror the reference's layers: each stage
  * writes snapshot-partitioned parquet before the next reads it, so any
  * stage is independently replayable from the previous layer (the
  * reference's "raw layer is the replayable log" property, README.md:20).
  */
object Orchestrator {

  final case class SnapshotResult(
      curated: DataFrame,
      popularity: DataFrame,
      packPlan: DataFrame)

  /** Run the fact chain for one snapshot of `events`-shaped data:
    * process -> curate -> popularity -> bin-pack (the next cycle's
    * partition assignment). When `layerRoot` is given, the curated layer
    * is persisted as snapshot-partitioned parquet that keeps every
    * earlier snapshot (a re-run replaces only its own snapshots), and
    * `curated`, `popularity` and `packPlan` read back only the
    * snapshots in `raw`.
    */
  def runSnapshot(spark: SparkSession, raw: DataFrame,
                  layerRoot: Option[String] = None,
                  numGroups: Int = 25, cap: Long = 7000L): SnapshotResult = {
    val processed = SnapshotPipeline.processEvents(raw)
    val curatedAll = SnapshotPipeline.curateEvents(processed)

    val curated = layerRoot match {
      case Some(root) => Layers.writeSnapshots(curatedAll, s"$root/curated_events")
      case None => curatedAll
    }

    val popularity = SnapshotPipeline.popularity(curated)
    val packPlan = BinPacking.packDF(spark, popularity,
      "event_type", "num_of_streamers", numGroups, cap)
    SnapshotResult(curated, popularity, packPlan)
  }

  /** Dimension upsert step for one snapshot (users-style chain):
    * incoming keys folded into the persisted dim, delta returned
    * (reference §3.2; empty delta short-circuits the write — F6).
    *
    * The dim is read with `incoming`'s schema (no schema-inference job)
    * and must hold exactly `incoming`'s columns, else
    * `IllegalArgumentException`. The rewrite is coalesced to one file
    * per `spark.sql.files.maxPartitionBytes` of stored dim, so repeated
    * upserts neither add a file each nor run a task per stale file.
    */
  def upsertDim(spark: SparkSession, incoming: DataFrame, dimPath: String,
                keys: Seq[String]): DataFrame = {
    // absent dim = first snapshot; any OTHER read failure must propagate
    // (treating it as "empty" would overwrite the accumulated dim with
    // one batch's rows — silent state loss)
    val current = PathIO.readSwapState(spark, dimPath, incoming.schema)
    // localCheckpoint cuts the lineage back to materialized partitions:
    // the delta must stay readable AFTER the dim swap below replaces the
    // files its plan would otherwise re-scan
    val delta = Relational.upsertDelta(incoming, current, keys)
      .localCheckpoint(true)
    if (!delta.isEmpty) {
      // shared durable state replacement: move-aside + checked renames
      // (PathIO.writeSwap), same discipline as MergeableState.swap
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val files = math.max(1L, (PathIO.dataBytes(spark, dimPath) + maxBytes - 1) / maxBytes)
      PathIO.writeSwap(current.unionByName(delta).coalesce(files.toInt), dimPath)
    }
    delta
  }
}
