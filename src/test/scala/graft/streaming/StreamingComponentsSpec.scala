package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

class StreamingComponentsSpec extends SparkSpec {

  import spark.implicits._

  private def edges(pairs: (Long, Long)*): DataFrame =
    pairs.toDF("id_a", "id_b")

  private def resolve(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def statePath() =
    Files.createTempDirectory("cc_state").toString + "/components"

  test("a bridging edge merges two existing clusters to the global min label") {
    val st = statePath()
    val r1 = StreamingComponents.acceptEdges(edges(1L -> 2L, 5L -> 6L), st)
    resolve(r1) shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L)
    // 2-5 bridges {1,2} and {5,6}: every node of BOTH clusters must
    // relabel to 1 — exactly what pairwise screening cannot do
    val r2 = StreamingComponents.acceptEdges(edges(2L -> 5L), st)
    resolve(r2) shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L)
    resolve(StreamingComponents.labeling(spark, st)) shouldBe
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L)
  }

  test("untouched components are not relabeled and not returned") {
    val st = statePath()
    StreamingComponents.acceptEdges(edges(1L -> 2L, 100L -> 101L), st)
    val r = StreamingComponents.acceptEdges(edges(2L -> 3L), st)
    // only the touched cluster comes back...
    resolve(r) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    // ...but the full labeling still holds the untouched one
    resolve(StreamingComponents.labeling(spark, st)) shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 100L -> 100L, 101L -> 100L)
  }

  test("incremental maintenance over any batch split equals the one-shot solve") {
    import graft.operators.Components
    val all = Seq(1L -> 2L, 2L -> 3L, 10L -> 11L, 11L -> 12L, 3L -> 10L,
      20L -> 21L, 30L -> 31L, 31L -> 32L, 21L -> 30L)
    val oneShot = Components.connectedComponents(edges(all: _*))
    val expected = resolve(oneShot)
    Components.free(oneShot)
    for (splitAt <- Seq(1, 4, 7)) {
      val st = statePath()
      val (b1, b2) = all.splitAt(splitAt)
      StreamingComponents.acceptEdges(edges(b1: _*), st)
      StreamingComponents.acceptEdges(edges(b2: _*), st)
      resolve(StreamingComponents.labeling(spark, st)) shouldBe expected
    }
  }

  test("replaying a batch after commit converges to the same labeling") {
    val st = statePath()
    StreamingComponents.acceptEdges(edges(1L -> 2L, 5L -> 6L), st)
    StreamingComponents.acceptEdges(edges(2L -> 5L), st)
    val once = resolve(StreamingComponents.labeling(spark, st))
    // a retried micro-batch re-folds the same edges — labels must not
    // drift (they can only coarsen, and the batch adds nothing new)
    StreamingComponents.acceptEdges(edges(2L -> 5L), st)
    resolve(StreamingComponents.labeling(spark, st)) shouldBe once
    once shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L)
  }

  test("componentSink folds an edge stream tick by tick") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val st = statePath()
    val ckpt = Files.createTempDirectory("cc_ck").toString
    @volatile var ticks = Vector.empty[Map[Long, Long]]
    val in = MemoryStream[(Long, Long)]
    // the fold commits its own state: the step's commit is empty
    val w = MergeableState.sink(in.toDF().toDF("id_a", "id_b"))(
        b => MergeableState.Step(StreamingComponents.acceptEdges(b, st)))(
      b => ticks = ticks :+ resolve(b))
    val q = w.option("checkpointLocation", ckpt).start()
    in.addData(1L -> 2L, 5L -> 6L)
    q.processAllAvailable()
    in.addData(2L -> 5L)
    q.processAllAvailable()
    q.stop()
    ticks shouldBe Vector(
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L),
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    resolve(StreamingComponents.labeling(spark, st)) shouldBe
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L)
  }

  test("empty batch is a no-op returning the current labeling") {
    val st = statePath()
    StreamingComponents.acceptEdges(edges(1L -> 2L), st)
    val r = StreamingComponents.acceptEdges(edges(), st)
    resolve(r) shouldBe Map(1L -> 1L, 2L -> 1L)
  }

  test("a batch rewrites only the buckets its components live in") {
    val st = statePath()
    // many isolated pairs spread across buckets
    StreamingComponents.acceptEdges(
      edges((0L until 40L by 2L).map(i => i -> (i + 1)): _*), st, nBuckets = 16)
    import org.apache.spark.sql.functions.col
    def readState() = spark.read.parquet(st)
      .select(col("bucket").cast("int"), col("node"), col("component"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val before = readState()
    val beforeFiles = Files.list(java.nio.file.Paths.get(st)).toArray.map(_.toString)
      .filter(_.contains("bucket=")).map(p => p -> Files.getLastModifiedTime(
        java.nio.file.Paths.get(p)).toMillis).toMap
    Thread.sleep(20)
    // touch ONE pair
    StreamingComponents.acceptEdges(edges(0L -> 1L, 1L -> 38L), st, nBuckets = 16)
    val after = readState()
    // labeling correct: {0,1,38,39} merged to 0, everything else intact
    after.map { case (_, n, c) => n -> c }.toMap shouldBe
      (0L until 40L).map(i => i -> (if (i == 38 || i == 39) 0L else i / 2 * 2)).toMap
    // untouched buckets' files were not rewritten
    val afterFiles = Files.list(java.nio.file.Paths.get(st)).toArray.map(_.toString)
      .filter(_.contains("bucket=")).map(p => p -> Files.getLastModifiedTime(
        java.nio.file.Paths.get(p)).toMillis).toMap
    val changedComponents = Set(0L, 38L)
    val mustKeep = before.filter { case (_, _, c) => !changedComponents(c) }
    after.filter { case (_, _, c) => !changedComponents(c) } shouldBe mustKeep
    val touchedBuckets = before.collect { case (b, _, c) if changedComponents(c) => b }
    val untouchedDirs = beforeFiles.keySet.filterNot(d =>
      touchedBuckets.exists(b => d.endsWith(s"bucket=$b")))
    untouchedDirs.foreach { d =>
      afterFiles(d) shouldBe beforeFiles(d)
    }
  }
}
