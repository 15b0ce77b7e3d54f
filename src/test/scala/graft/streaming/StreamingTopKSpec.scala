package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class TkDoc(doc_id: Long, source: String, text: String)

class StreamingTopKSpec extends SparkSpec {

  private lazy val implicits = spark.implicits
  import implicits._

  private def counts(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  private val rows = Seq(
    TkDoc(1, "a", "x x y"), TkDoc(2, "a", "x z"),
    TkDoc(3, "b", "q q q w"), TkDoc(4, "a", "y y y z"))

  test("state over any batch split equals the one-shot count table") {
    val all = rows.toDF()
    val st = Files.createTempDirectory("tk_split").toString + "/state"
    StreamingTopK.acceptBatch(all.filter(col("doc_id") <= 1), "text", "source", st)
    StreamingTopK.acceptBatch(all.filter(col("doc_id").between(2, 3)), "text", "source", st)
    val inc = counts(StreamingTopK.acceptBatch(
      all.filter(col("doc_id") === 4), "text", "source", st))
    val st2 = Files.createTempDirectory("tk_one").toString + "/state"
    val one = counts(StreamingTopK.acceptBatch(all, "text", "source", st2))
    inc shouldBe one
    inc(("a", "x")) shouldBe 3L
    inc(("a", "y")) shouldBe 4L
  }

  test("a replayed batch after a failed sink cannot double-count") {
    val st = Files.createTempDirectory("tk_retry").toString + "/state"
    val b = rows.take(1).toDF()
    StreamingTopK.mergeBatch(b, "text", "source", st).collect() // sink "fails"
    val out = counts(StreamingTopK.acceptBatch(b, "text", "source", st))
    out(("a", "x")) shouldBe 2L
  }

  test("topK ranks (n desc, term) and a later batch can reorder ranks") {
    val st = Files.createTempDirectory("tk_rank").toString + "/state"
    val after1 = StreamingTopK.acceptBatch(
      rows.take(2).toDF(), "text", "source", st)   // a: x=3, y=1, z=1
    val t1 = StreamingTopK.topK(after1, 1).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    t1("a") shouldBe "x"
    val after2 = StreamingTopK.acceptBatch(
      rows.drop(3).toDF(), "text", "source", st)   // a: y=4 overtakes x=3
    val t2 = StreamingTopK.topK(after2, 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    t2(("a", 1L)) shouldBe "y"
    t2(("a", 2L)) shouldBe "x"
  }

  test("topK plans as a rank-limited window (WindowGroupLimit)") {
    val st = Files.createTempDirectory("tk_plan").toString + "/state"
    val state = StreamingTopK.acceptBatch(rows.toDF(), "text", "source", st)
    val plan = StreamingTopK.topK(state, 3)
      .queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
  }

  test("topkSink serves the live view across micro-batches") {
    implicit val sq = spark.sqlContext
    val st = Files.createTempDirectory("tk_sink").toString + "/state"
    val ckpt = Files.createTempDirectory("tk_ck").toString
    @volatile var last: Map[String, String] = Map.empty
    val in = MemoryStream[TkDoc]
    val q = MergeableState.sink(in.toDF()) { b =>
        MergeableState.swap(StreamingTopK.mergeBatch(b, "text", "source", st), st)
      } { b =>
        last = StreamingTopK.topK(b, 1).collect()
          .map(r => r.getString(0) -> r.getString(2)).toMap
      }
      .option("checkpointLocation", ckpt).start()
    in.addData(rows.take(2): _*)
    q.processAllAvailable()
    last("a") shouldBe "x"
    in.addData(rows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    last("a") shouldBe "y"
  }
}
