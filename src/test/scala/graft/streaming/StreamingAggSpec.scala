package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class AgEv(event_id: Long, sec: Long, event_type: String, value: Double)

class StreamingAggSpec extends SparkSpec {

  private def toTs(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")

  private def mv(df: org.apache.spark.sql.DataFrame) =
    df.select("day", "event_type", "n", "total")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDecimal(3).doubleValue))).toMap

  test("MV over any batch split equals the one-shot batch aggregate") {
    import spark.implicits._
    val rows = Seq(
      AgEv(1, 86400 * 100, "click", 1.25), AgEv(2, 86400 * 100 + 60, "click", 2.50),
      AgEv(3, 86400 * 100 + 120, "view", 0.75), AgEv(4, 86400 * 101, "click", 4.00))
    val all = toTs(rows.toDF())

    val st = Files.createTempDirectory("agg_mv").toString + "/mv"
    StreamingAgg.acceptBatch(all.filter(col("event_id") <= 1), "ts", "event_type", "value", st)
    StreamingAgg.acceptBatch(all.filter(col("event_id").between(2, 3)), "ts", "event_type", "value", st)
    val incremental = mv(StreamingAgg.acceptBatch(
      all.filter(col("event_id") === 4), "ts", "event_type", "value", st))

    val st2 = Files.createTempDirectory("agg_mv2").toString + "/mv"
    val oneShot = mv(StreamingAgg.acceptBatch(all, "ts", "event_type", "value", st2))

    incremental shouldBe oneShot
    incremental(("1970-04-11", "click")) shouldBe ((2L, 3.75))
  }

  test("a replayed batch after a failed sink cannot double-count") {
    import spark.implicits._
    val st = Files.createTempDirectory("agg_retry").toString + "/mv"
    val b = toTs(Seq(AgEv(1, 1000, "click", 1.00)).toDF())
    // first attempt: merge computed but the sink "fails" — no commit
    StreamingAgg.mergeBatch(b, "ts", "event_type", "value", st).collect()
    // retry: merge + commit
    val out = mv(StreamingAgg.acceptBatch(b, "ts", "event_type", "value", st))
    out.values.map(_._1).sum shouldBe 1L
  }

  test("aggSink maintains the MV across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val st = Files.createTempDirectory("agg_sink").toString + "/mv"
    val ckpt = Files.createTempDirectory("agg_ck").toString
    @volatile var last: Map[(String, String), (Long, Double)] = Map.empty
    val in = MemoryStream[AgEv]
    val q = MergeableState.sink(toTs(in.toDF())) { b =>
        MergeableState.swap(StreamingAgg.mergeBatch(b, "ts", "event_type", "value", st), st)
      }(b => last = mv(b))
      .option("checkpointLocation", ckpt).start()
    in.addData(AgEv(1, 1000, "click", 1.50))
    q.processAllAvailable()
    in.addData(AgEv(2, 2000, "click", 2.25), AgEv(3, 90000, "view", 1.00))
    q.processAllAvailable()
    q.stop()
    last(("1970-01-01", "click")) shouldBe ((2L, 3.75))
    last(("1970-01-02", "view")) shouldBe ((1L, 1.00))
  }
}
