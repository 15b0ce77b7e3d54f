package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Small filesystem helpers for state tables. A bare
  * `try read catch { _ => empty }` is a data-loss hazard: a TRANSIENT
  * read failure would masquerade as "no state yet" and let the caller
  * overwrite accumulated state with one batch. These helpers distinguish
  * "path absent" (legitimate empty state) from real errors (rethrown).
  */
object PathIO {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Delete a directory tree if present (state-partition retirement). */
  def deleteDir(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Atomic-ish directory swap: rename `next` over `target` (delete the
    * old target first, create its parent if missing). One write instead
    * of write + copy, and no stale `.next` directory left behind. The
    * rename result is CHECKED (Hadoop reports failure by boolean).
    */
  def swapInto(spark: SparkSession, next: String, target: String): Unit = {
    val f = fs(spark, target)
    val t = new Path(target)
    if (f.exists(t)) f.delete(t, true)
    f.mkdirs(t.getParent)
    require(f.rename(new Path(next), t), s"failed to move $next into place at $t")
  }

  /** Durable state replacement: write `df` to `target.next`, move the
    * old target ASIDE (rename, not delete), rename `.next` in, then
    * drop the aside copy. At every instant either the old or the new
    * state exists under a recoverable name — a crash can strand an
    * `.old`/`.next` directory but never leaves the target's history
    * unrecoverable, which matters because a MISSING state path reads
    * as legitimate "no state yet" (`readSwapState`) and would
    * silently reset whatever the state accumulates. Rename results are
    * CHECKED: Hadoop `FileSystem.rename` reports failure by boolean,
    * not exception.
    *
    * The shared discipline for every whole-table state writer
    * (`MergeableState.swap` steps, `StreamingBudget`'s totals,
    * `Orchestrator` dims); bucket-wise writers (`StreamingComponents`)
    * use dynamic partition overwrite instead, whose per-partition
    * commit has its own replay story.
    *
    * CONCURRENCY CONTRACT: writeSwap and readSwapState on the same
    * target must be strictly serialized (single writer, readers only
    * between swaps). During a healthy swap the target is transiently
    * missing while `.old` exists — a CONCURRENT readSwapState would
    * "heal" by renaming `.old` back into place, making this writer's
    * checked rename fail and stranding the new state in `.next`. The
    * engine's callers satisfy the contract by construction: every
    * state table is owned by one foreachBatch/orchestrator loop, and
    * Structured Streaming serializes a query's batches. Crash recovery
    * (the reason the healing path exists) is inherently post-mortem,
    * so it never overlaps a live writer.
    */
  def writeSwap(df: DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, target)
    val t = new Path(target)
    val next = new Path(target + ".next")
    val old = new Path(target + ".old")
    df.write.mode("overwrite").parquet(next.toString)
    if (f.exists(old)) f.delete(old, true)
    val hadTarget = f.exists(t)
    if (hadTarget)
      require(f.rename(t, old), s"failed to move $t aside to $old")
    require(f.rename(next, t),
      s"failed to move $next into place at $t" +
        (if (hadTarget) s" — previous state preserved at $old" else ""))
    if (hadTarget) f.delete(old, true)
  }

  /** THE read of a state table (dims and every streaming state), with
    * no Spark job:
    *   1. heal an interrupted swap: if the target is missing but `.old`
    *      exists (a crash fell between `writeSwap`'s two renames), the
    *      aside copy IS the current state — restore it before reading.
    *      Without this, the crash window would read as "no state yet"
    *      and silently reset the table;
    *   2. an absent table reads as `schema`'s empty frame;
    *   3. a present table must store exactly `schema`'s column names
    *      and types, checked on the driver against one data file's
    *      footer (partition columns — `k=v` directories — against the
    *      path), else `IllegalArgumentException` naming both schemas. A
    *      schema-given read would otherwise silently null a column the
    *      table lacks and drop one it has extra;
    *   4. the table is read with `schema`, so no schema-inference job
    *      runs.
    *
    * Subject to the writeSwap CONCURRENCY CONTRACT above: never call
    * while a writeSwap on the same target may be in flight — healing
    * would race the swap's transient target-missing window.
    */
  def readSwapState(spark: SparkSession, target: String,
                    schema: StructType): DataFrame = {
    healSwap(spark, target)
    if (!exists(spark, target))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      dataFiles(spark, target).take(1).foreach { file =>
        val norm: String => String =
          if (spark.sessionState.conf.caseSensitiveAnalysis) identity
          else _.toLowerCase(java.util.Locale.ROOT)
        val depth = file.getPath.depth - fs(spark, target).makeQualified(new Path(target)).depth
        val parts = Iterator.iterate(file.getPath.getParent)(_.getParent).take(depth - 1)
          .map(d => norm(d.getName.takeWhile(_ != '='))).toSeq
        val stored = footerSchema(spark, file)
        val (partCols, dataCols) = schema.fields.partition(c => parts.contains(norm(c.name)))
        def cols(s: Seq[StructField]) = s.map(c => (norm(c.name), c.dataType.sql)).sorted
        require(partCols.length == parts.length && cols(stored.fields) == cols(dataCols),
          s"state table $target holds ${stored.toDDL}${parts.map(p => s", partition $p").mkString}; " +
            s"the caller expects ${schema.toDDL}")
      }
      spark.read.schema(schema).parquet(target)
    }
  }

  /** Total bytes of a table directory's data files; 0 when absent. */
  def dataBytes(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).map(_.getLen).sum

  /** The data files under `path`, partition directories included
    * (Spark's `_`/`.` side files and directories excluded), listed
    * lazily on the driver; empty when the path is absent.
    */
  private def dataFiles(spark: SparkSession, path: String): Iterator[FileStatus] = {
    val f = fs(spark, path)
    def under(dir: Path): Iterator[FileStatus] =
      f.listStatus(dir).iterator.filterNot(s => "_.".contains(s.getPath.getName.head))
        .flatMap(s => if (s.isDirectory) under(s.getPath) else Iterator(s))
    if (!f.exists(new Path(path))) Iterator.empty else under(new Path(path))
  }

  /** The schema stored in a parquet file's footer: Spark's own row
    * schema when Spark wrote the file, else the parquet schema
    * converted. Read on the driver.
    */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try {
      val meta = reader.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    } finally reader.close()
  }

  /** The healing half of `readSwapState`, callable on its own (e.g.
    * before fingerprinting the committed state).
    */
  def healSwap(spark: SparkSession, target: String): Unit = {
    val f = fs(spark, target)
    val t = new Path(target)
    val old = new Path(target + ".old")
    if (!f.exists(t) && f.exists(old))
      require(f.rename(old, t), s"failed to restore interrupted swap $old -> $t")
  }

  /** Identity of a state directory's committed contents: every file's
    * (name, length, mtime), sorted. Two equal fingerprints mean the
    * state is byte-identical for caching purposes — writeSwap replaces
    * the whole directory, so any swap changes the listing. "" when the
    * path is absent.
    */
  def dirFingerprint(spark: SparkSession, path: String): String = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) "" else {
      val it = f.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val s = it.next()
        entries += s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
      }
      entries.sorted.mkString(";")
    }
  }
}
