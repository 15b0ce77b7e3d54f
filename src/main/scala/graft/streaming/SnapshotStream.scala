package graft.streaming

import graft.operators.{Relational, SnapshotPipeline}
import graft.sources.PathIO
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming restatement of the reference's event-driven
  * 15-minute pipeline (reference §2.11: S3-event/SNS/SQS choreography at
  * micro-batch cadence). Batch and streaming share the SAME transforms —
  * `SnapshotPipeline.processEvents/curateEvents` are stateless-narrow,
  * so they apply unchanged to a streaming DataFrame; only the stateful
  * pieces (dedup, windowed aggregation, dimension upsert) differ and
  * live here.
  *
  * Scale notes: state stores are keyed by the dedup/window keys and
  * bounded by the watermark — at 96 snapshots/day and a 30-minute
  * watermark, the dedup state holds the keys of the micro-batch's own
  * snapshots and of those within twice the delay (~4 snapshots) of the
  * previous micro-batch's newest event, regardless of history length. A
  * 22-cycle backfill drained 4 snapshots per micro-batch ends with
  * 54,600 dedup rows (8 snapshots of 6,825 keys); a dedup that never
  * evicts held 150,150, every key of all 22 cycles. The dimension
  * upsert holds NO stream state at all: it
  * anti-joins each micro-batch against the persisted dim (foreachBatch),
  * which keeps state inspectable and identical to the batch semantics
  * (reference D3/J4).
  */
object SnapshotStream {

  /** File-source stream over a raw layer directory (reference S8: each
    * new object in layer N triggers layer N+1; the file source's listing
    * + checkpoint replaces the SNS choreography with effectively-once
    * semantics).
    *
    * The directory the source watches (the first glob component, else
    * `path` itself) must have an existing parent when the stream
    * starts: a watch under a missing or unmounted root would stream
    * zero rows and report success. A glob that matches no files yet is
    * legitimate — the layer fills as snapshots land.
    *
    * Each micro-batch re-stats its (at most `maxFilesPerTrigger`) files
    * through an in-memory file index, which lists with one Spark task
    * per path once the paths exceed
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32): a
    * 100-task job per micro-batch for files the source has already
    * listed. The session conf is raised to at least `maxFilesPerTrigger`
    * (never lowered) so those stats stay on the driver; a query clones
    * the session's conf when it starts, so this must precede `start()`.
    */
  def readJsonLayer(spark: SparkSession, path: String, schema: StructType,
                    maxFilesPerTrigger: Int = 100): DataFrame = {
    val watched = Iterator.iterate(new Path(path))(_.getParent)
      .takeWhile(_ != null).filter(p => p.getName.exists("*?[{".contains(_)))
      .toSeq.lastOption.getOrElse(new Path(path))
    val parent = watched.getParent
    require(parent == null || PathIO.exists(spark, parent.toString),
      s"raw layer $path: parent directory $parent does not exist")
    val listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if (spark.conf.get(listing).toInt < maxFilesPerTrigger)
      spark.conf.set(listing, maxFilesPerTrigger.toLong)
    spark.readStream
      .schema(schema)
      .option("multiLine", true)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)
  }

  /** Stateful cross-shard dedup (reference D2 streaming: 25 concurrent
    * ingest workers emit overlapping shards; duplicates must be dropped
    * within a snapshot). Watermark bounds the dedup state to the late-
    * arrival window.
    */
  def dedupedEvents(events: DataFrame, keys: Seq[String],
                    tsCol: String = "ts", watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** Tumbling-window popularity aggregate (reference A1 as a stream):
    * per-window per-key counts, emitted once the watermark passes —
    * the streaming form of the popularity feedback loop.
    */
  def windowedPopularity(events: DataFrame, key: String = "event_type",
                         tsCol: String = "ts", watermark: String = "30 minutes",
                         window: String = "15 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(key))
      .agg(count(lit(1)).as("num_of_streamers"))
      .select(col("window.start").as("win_start"), col(key),
        col("num_of_streamers"))

  /** Incremental dimension upsert with delta emission (reference
    * D3+J4 streaming: fold observed keys into the persisted "current"
    * dim, emit only never-seen keys). foreachBatch + anti-join keeps
    * semantics identical to batch and the state in a queryable table.
    *
    * @param loadDim   reads the current dim (empty DataFrame when none)
    * @param saveDelta persists the delta (append) — the curated output
    */
  def dimUpsertSink(stream: DataFrame, keys: Seq[String],
                    loadDim: SparkSession => DataFrame,
                    saveDelta: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val current = loadDim(spark)
        val delta = Relational.upsertDelta(
          batch.dropDuplicates(keys), current, keys)
        // reference F6: skip the write entirely on an empty delta
        if (!delta.isEmpty) saveDelta(delta)
      }

  /** The full streaming snapshot chain: process (shared stateless
    * transform) -> watermarked PK dedup -> curate projection.
    *
    * The batch chain dedups with a min-event-id window (deterministic
    * keep-first); streaming can't run arbitrary windows, so the PK dedup
    * is a watermarked state store instead (reference D2 streaming
    * semantics: within one snapshot, duplicate PK rows are equivalent
    * shard overlaps, so which one survives is immaterial).
    *
    * The dedup is `dropDuplicatesWithinWatermark` (`dropDuplicates` on
    * keys without the event-time column never evicts): a key's first
    * row is kept, and any later row with the same key is dropped until
    * the watermark passes that first row's `ts` plus `watermark`; then
    * the key's state is evicted. Every copy of a key lies in one
    * 15-minute slot, well inside the 30-minute delay, so a copy that
    * arrives after the eviction is already behind the watermark. Rows
    * behind the watermark are dropped as late (the query's
    * `numRowsDroppedByWatermark`): the delay is the stream's lateness
    * bound.
    */
  def curatedStream(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    SnapshotPipeline.curateProjection(
      SnapshotPipeline.processEvents(events)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(Seq("user_id", "day_date_id", "time_of_day_id")))

  /** Streaming gap-based sessions via Spark's native session_window —
    * the streaming counterpart of operators.Sessionize (same gap
    * semantics; state closes once the watermark passes the gap).
    */
  def sessionCounts(events: DataFrame, keyCol: String, gap: String,
                    tsCol: String = "ts", watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Running per-key counts with explicit keyed state (reference §2.11
    * feedback loop: the popularity of snapshot N drives the partitioning
    * of snapshot N+1 — this is its always-current streaming form).
    * `mapGroupsWithState` keeps one Long per key; emitted rows carry the
    * updated running count each micro-batch (output mode "update").
    */
  def runningCounts(events: DataFrame, keyCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.select(col(keyCol).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }
      .toDF(keyCol, "running_count")
  }

  /** Convenience: run a streaming query to completion over a bounded
    * source (tests / reprocessing).
    */
  def runOnce(w: DataStreamWriter[org.apache.spark.sql.Row], checkpoint: String): Unit = {
    val q = w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
