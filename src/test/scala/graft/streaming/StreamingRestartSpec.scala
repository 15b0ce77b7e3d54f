package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Restart-from-checkpoint recovery through `MergeableState.sink`: the
  * stream stops (a clean stop, or a failed emit) after processing some
  * input, a NEW query starts from the same checkpoint over the same
  * source, and the union of sink outputs must be exactly the batch
  * answer — no lost batches, no doubled docs. This is the property the
  * retry-safe state-commit ordering (emit first, state commit after)
  * exists for; a file source + checkpointLocation is the restartable
  * shape (MemoryStream cannot recover across query instances).
  */
class StreamingRestartSpec extends SparkSpec {

  private val good = "the stream of data is clean and ready for the training corpus today"
  private val goodB = "a different document about the engine and its many moving parts in code"
  private val goodC = "an entirely new and different story with the usual amount of words in it"

  test("curation sink resumes from checkpoint without loss or duplication") {
    val dir = Files.createTempDirectory("restart_src").toString
    val ckpt = Files.createTempDirectory("restart_ck").toString
    val state = Files.createTempDirectory("restart_state").toString + "/state"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    @volatile var accepted = Vector.empty[Long]

    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val implicits = spark.implicits; import implicits._
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/staged_$name")
      // move complete parquet dirs into the watched dir atomically
      val src = new java.io.File(s"$dir/staged_$name")
      src.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/${name}_$i.parquet"))
        }
    }

    def run(): Unit = {
      val in = spark.readStream.schema(schema).parquet(s"$dir/*.parquet")
      val q = MergeableState.sink(in)(
          StreamingCuration.screenBatch(_, "text", "doc_id", state))(
          b => accepted = accepted ++ b.select("doc_id").collect().map(_.getLong(0)))
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }

    // phase 1: doc 1 accepted, doc 2 an exact dup of it
    writeFile("a", Seq(1L -> good, 2L -> good))
    run()
    accepted.sorted shouldBe Vector(1L)

    // phase 2 (after "crash"): doc 3 dups the ACCEPTED doc 1 from
    // phase-1 state, doc 4 and 5 are new; a fresh query instance must
    // pick up both checkpoint offsets and curation state
    writeFile("b", Seq(3L -> good, 4L -> goodB, 5L -> goodC))
    run()
    accepted.sorted shouldBe Vector(1L, 4L, 5L)

    // phase 3: nothing new -> restart must not reprocess anything
    run()
    accepted.sorted shouldBe Vector(1L, 4L, 5L)
  }

  test("a state commits only after its emit succeeds: a failed emit replays cleanly") {
    val implicits = spark.implicits; import implicits._
    val dir = Files.createTempDirectory("emitfail_src").toString
    val docs = Seq(
      (1L, "a", 40L, good), (2L, "a", 40L, goodB), (3L, "a", 40L, goodC),
      (4L, "b", 90L, good + " tail"), (5L, "b", 30L, goodB + " again"))
      .toDF("doc_id", "g", "n", "text")
    // one file, so the stream's one micro-batch is the whole input
    docs.coalesce(1).write.parquet(s"$dir/staged")
    new java.io.File(s"$dir/staged").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, java.nio.file.Paths.get(s"$dir/docs.parquet")))

    // run the stream with an emit that throws on its first call, then
    // restart it from its checkpoint; returns the emitted doc ids
    def failThenResume(step: DataFrame => MergeableState.Step): Vector[Long] = {
      val ckpt = Files.createTempDirectory("emitfail_ck").toString
      @volatile var calls = 0
      @volatile var emitted = Vector.empty[Long]
      def run(): Unit = SnapshotStream.runOnce(
        MergeableState.sink(spark.readStream.schema(docs.schema)
            .parquet(s"$dir/*.parquet"))(step) { b =>
          calls += 1
          if (calls == 1) throw new IllegalStateException("emit fails once")
          emitted = emitted ++ b.select("doc_id").as[Long].collect()
        }, ckpt)
      intercept[StreamingQueryException](run())
      emitted shouldBe empty
      run()
      calls shouldBe 2
      emitted.sorted
    }
    def tmp(leaf: String) = Files.createTempDirectory("emitfail_state").toString + "/" + leaf
    def ids(df: DataFrame) = df.select("doc_id").as[Long].collect().toVector.sorted

    // swap state: the token budget's per-group totals
    val spent = tmp("spent")
    val spentOnce = tmp("spent")
    val budgeted = failThenResume(
      StreamingBudget.screenBatch(_, "doc_id", "g", col("n"), 100L, spent))
    budgeted shouldBe ids(StreamingBudget.acceptBatch(
      docs, "doc_id", "g", col("n"), 100L, spentOnce))
    def totals(p: String) = spark.read.parquet(p).as[(String, Long)].collect().toSet
    totals(spent) shouldBe totals(spentOnce)

    // append state: the near-dup band table
    val bands = tmp("bands")
    val bandsOnce = tmp("bands")
    val deduped = failThenResume(StreamingDedup.screenBatch(_, "text", "doc_id", bands))
    deduped shouldBe ids(StreamingDedup.acceptBatch(docs, "text", "doc_id", bandsOnce))
    def bandRows(p: String) =
      spark.read.parquet(p).as[(Long, String)].collect().toVector.sorted
    bandRows(bands) shouldBe bandRows(bandsOnce)
  }
}
