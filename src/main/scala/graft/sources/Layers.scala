package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Medallion-layer I/O (reference S1-S4): raw JSON envelopes, layer CSVs
  * with the reference's `keep_default_na=False` semantics, and the
  * partitioned-parquet form the same tables take at scale.
  *
  * The reference's layer paths are `layer/{day}/{file}_{time}.csv` and
  * raw shards `layer/{day}_{time}/shard.json` — path-encoded partition
  * keys. At 100 TB the same layout becomes Hive-style partition dirs
  * (`day_date_id=…/time_of_day_id=…`) so Catalyst prunes partitions from
  * `WHERE day_date_id = …` predicates instead of listing directories.
  */
object Layers {

  /** Read every raw shard of one snapshot directory (reference S2:
    * src/process_raw_data/process_raw_streams_data.py:73-82 lists and
    * unions shard files one by one — a glob read replaces the loop) and
    * flatten the envelopes: one row per element of `data`, envelope keys
    * carried along.
    */
  def readEnvelopes(spark: SparkSession, glob: String, dataSchema: StructType): DataFrame =
    spark.read
      .schema(graft.Schemas.envelope(dataSchema))
      .option("multiLine", true)
      .json(glob)
      .select(col("day_date_id"), col("time_of_day_id"), explode(col("data")).as("d"))
      .select(col("day_date_id"), col("time_of_day_id"), col("d.*"))

  /** Layer CSV read with explicit schema and pandas
    * `keep_default_na=False` semantics: "" stays "" and "NA" stays "NA"
    * (reference S3, e.g. scripts/process_raw_data/
    * process_raw_genre_bridge_data.py:65-70). Spark's CSV reader turns
    * "" into null by default; emptyValue/nullValue overrides keep the
    * sentinel strings intact.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", true)
      .option("emptyValue", "")
      .option("nullValue", "") // a value that never occurs: nothing maps to null
      // pandas writes RFC-4180 CSV: quotes escaped by doubling, newlines
      // allowed inside quoted fields. Spark's defaults (escape=backslash,
      // multiLine=false) silently corrupt such rows.
      .option("escape", "\"")
      .option("multiLine", true)
      .csv(path)
      // pandas keep_default_na=False has NO nulls: unquoted empty fields
      // are "", and Spark's CSV reader can't express that distinction on
      // read — restore it here
      .na.fill("")

  /** Single-file CSV write for byte-compatibility with the reference's
    * `to_csv(index=False)` outputs (reference S4). coalesce(1) is the
    * golden-compat mode only — real outputs use `writePartitioned`.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", true)
      .option("emptyValue", "")
      // write RFC-4180 (quotes escaped by doubling) so pandas and
      // readCsv parse embedded quotes/newlines identically
      .option("escape", "\"")
      .csv(path)

  /** Scale-path write: snapshot-partitioned parquet. Partition pruning
    * then serves `day_date_id`/`time_of_day_id` predicates without
    * touching other snapshots' files.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String] = Seq("day_date_id", "time_of_day_id")): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Snapshot-partitioned write that KEEPS the layer's other snapshots,
    * then the read-back of exactly the snapshots written. `df` lands in
    * `<path>/_staging` (partition discovery skips `_` dirs); each
    * `day_date_id=…/time_of_day_id=…` dir written there then replaces
    * its namesake in the layer (`PathIO.swapInto`). A re-run of a
    * snapshot therefore replaces only that snapshot, and the layer
    * accumulates every snapshot ever written — the reference's "layer
    * is the replayable log" property, which a static overwrite of the
    * whole layer loses.
    */
  def writeSnapshots(df: DataFrame, path: String): DataFrame = {
    val spark = df.sparkSession
    val staging = s"$path/_staging"
    writePartitioned(df, staging)
    val glob = new Path(s"$staging/day_date_id=*/time_of_day_id=*")
    val dirs = Option(glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(glob)).toSeq.flatten
      .map(s => s"${s.getPath.getParent.getName}/${s.getPath.getName}")
    dirs.foreach(d => PathIO.swapInto(spark, s"$staging/$d", s"$path/$d"))
    PathIO.deleteDir(spark, staging)
    // the layer's column order: data columns, then the partition keys
    val parts = Seq("day_date_id", "time_of_day_id")
    val layout = df.select((df.columns.filterNot(parts.contains) ++ parts).map(col): _*)
    if (dirs.isEmpty) layout.limit(0) // nothing written: the zero-row frame
    else {
      // the frame was just written, so its schema is the files': read
      // with it and skip the schema-inference job
      spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      spark.read.schema(layout.schema).option("basePath", path)
        .parquet(dirs.map(d => s"$path/$d"): _*)
    }
  }

  /** Read back a snapshot-partitioned layer with the partition columns
    * kept as STRINGS. Spark's partition-column type inference would turn
    * `time_of_day_id=0930` into the integer 930 — leading zeros lost,
    * joins against the string dim ids silently empty — so it is disabled
    * for the read (session conf; harmless for non-partitioned reads).
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    spark.read.parquet(path)
  }

  /** Bucketed table write — the co-located-join layout for repeated
    * fact-fact joins on the same key (e.g. the streams fact joined to
    * itself across snapshots, or fact-to-large-dim). Both sides bucketed
    * by the join key with the same bucket count join WITHOUT a shuffle:
    * the Exchange disappears from the plan entirely, which at 100 TB is
    * the single biggest cost (sort also drops if sortBy matches).
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Parse the layer/day/time keys out of source file paths (reference
    * X4: src/curate_data/curate_streams_data.py:37-38 slices the S3 key
    * by character position; a regexp over input_file_name() is the
    * set-based equivalent).
    */
  def withSnapshotKeysFromPath(df: DataFrame): DataFrame =
    df.withColumn("day_date_id",
        regexp_extract(input_file_name(), "(\\d{8})_(\\d{4})", 1))
      .withColumn("time_of_day_id",
        regexp_extract(input_file_name(), "(\\d{8})_(\\d{4})", 2))

  /** Training-shard write: exactly `numShards` parquet files, rows
    * hash-distributed by the key (stable shard membership under
    * re-runs), sorted within each shard for read locality. The shape a
    * tokenizer/dataloader fleet consumes: one task per shard, no
    * stragglers from skewed file sizes.
    */
  def writeTrainingShards(df: DataFrame, path: String,
                          numShards: Int, keyCol: String): Unit =
    df.repartition(numShards, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)

  /** ORC layer (Spark-native columnar alternative for warehouses whose
    * downstream readers are ORC-first — Hive/Presto estates): same
    * pushdown/pruning behavior as the parquet layers, snappy by
    * default. One format knob, not a separate code path — the layer
    * API stays schema-and-partition-centric.
    */
  def writeOrc(df: DataFrame, path: String,
               partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    spark.read.orc(path)
  }

  /** JDBC append sink (reference S9: src/other/insert_data_to_db.py:43-74
    * bulk-loads curated CSVs into Postgres with rollback-on-error; a
    * Spark jdbc write is transactional per task and idempotent when the
    * caller overwrite-partitions by snapshot).
    *
    * `props` may carry Spark JDBC options besides credentials — notably
    * `createTableColumnTypes` to pin string columns to VARCHAR on
    * dialects whose default string mapping (e.g. Derby's CLOB) cannot be
    * compared in WHERE clauses.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: java.util.Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** Serving-table routing from a curated-layer file key (reference S9:
    * src/other/insert_data_to_db.py:46-49 — the target table is the text
    * between "curated_" and "_data" in the object key's file name).
    *
    * The extracted name is interpolated into SQL statements downstream,
    * so the pattern is ANCHORED to the whole file name and the name
    * itself whitelisted to `[A-Za-z0-9_]` — a key smuggling quotes or
    * semicolons is rejected here, not passed to the database.
    */
  def tableNameFromKey(fileKey: String): String = {
    val fname = fileKey.substring(fileKey.lastIndexOf('/') + 1)
    val pat = "^curated_([A-Za-z0-9_]+)_data(?:_\\d{4})?(?:\\.[A-Za-z0-9]+)?$".r
    pat.findFirstMatchIn(fname) match {
      case Some(m) => m.group(1)
      case None    => throw new IllegalArgumentException(s"not a curated-layer key: $fileKey")
    }
  }

  private val SafeIdent = "^[A-Za-z0-9_]+$".r

  private def tableExists(conn: java.sql.Connection, table: String): Boolean = {
    // JDBC metadata stores unquoted identifiers case-folded per dialect;
    // match case-insensitively.
    val meta = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
    try {
      var exists = false
      while (meta.next() && !exists)
        exists = meta.getString("TABLE_NAME").equalsIgnoreCase(table)
      exists
    } finally meta.close()
  }

  /** Idempotent per-snapshot JDBC load, stage-and-swap: the frame lands
    * in `<table>__stage` first (a Spark overwrite — per-task commits may
    * partially fail there harmlessly), then ONE driver transaction
    * deletes the snapshot's existing rows from the target and copies the
    * stage in. Like the reference's rollback-on-error bulk load
    * (insert_data_to_db.py:78-89), a failure anywhere leaves the target
    * exactly as it was — there is no window where the old snapshot rows
    * are gone and the new ones not yet visible (the old delete-then-
    * append shape lost the previous rows if the append died for good).
    * Re-running a succeeded load leaves the table unchanged.
    *
    * The target is created from the stage's column types when missing,
    * so `createTableColumnTypes` in `props` applies to both. The same
    * transaction indexes the new target on (`day_date_id`,
    * `time_of_day_id`), so the snapshot delete touches only that
    * snapshot's rows instead of scanning a fact table that grows by a
    * snapshot every 15 minutes.
    */
  def loadSnapshotJdbc(df: DataFrame, url: String, table: String,
                       props: java.util.Properties,
                       dayDateId: String, timeOfDayId: String): Unit = {
    // the table name is interpolated into DDL/DML below — whitelist it
    // (tableNameFromKey guarantees this shape; direct callers might not)
    require(SafeIdent.matches(table), s"unsafe table identifier: $table")
    // DriverManager needs the driver registered explicitly (Spark's own
    // jdbc paths do this internally from the same property)
    Option(props.getProperty("driver")).foreach(Class.forName(_))
    // per-snapshot stage name: two concurrent loads for the same table
    // (distinct snapshots) must not clobber each other's stage rows —
    // the keys are interpolated into DDL, so they go through the same
    // identifier whitelist as the table itself
    require(SafeIdent.matches(dayDateId) && SafeIdent.matches(timeOfDayId),
      s"unsafe snapshot key for stage naming: $dayDateId/$timeOfDayId")
    val stage = s"${table}__stage_${dayDateId}_$timeOfDayId"
    df.write.mode("overwrite").jdbc(url, stage, props)

    // Spark's JDBC writer passes table names through verbatim but QUOTES
    // column names in CREATE TABLE — so columns are case-exact and must
    // be quoted in every statement here too.
    val cols = df.columns.map(c => "\"" + c + "\"").mkString(", ")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        if (!tableExists(conn, table)) {
          st.executeUpdate(s"CREATE TABLE $table AS SELECT * FROM $stage WITH NO DATA")
          st.executeUpdate(
            s"""CREATE INDEX ${table}__slot ON $table ("day_date_id", "time_of_day_id")""")
        }
        val del = conn.prepareStatement(
          s"""DELETE FROM $table WHERE "day_date_id" = ? AND "time_of_day_id" = ?""")
        try { del.setString(1, dayDateId); del.setString(2, timeOfDayId); del.executeUpdate() }
        finally del.close()
        st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $stage")
        conn.commit()
      } catch { case e: Throwable => conn.rollback(); throw e }
      finally st.close()
      // best-effort stage cleanup — a leftover stage is overwritten by
      // the next load of the same snapshot, never read by anything else;
      // still log the failure so orphaned stages are traceable
      try {
        conn.setAutoCommit(true)
        val drop = conn.createStatement()
        try drop.executeUpdate(s"DROP TABLE $stage") finally drop.close()
      } catch { case e: java.sql.SQLException =>
        System.err.println(s"[layers] could not drop stage table $stage: ${e.getMessage}")
      }
    } finally conn.close()
  }
}
