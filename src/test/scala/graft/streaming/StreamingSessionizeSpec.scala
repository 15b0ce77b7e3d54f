package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class SEv(user_id: Long, sec: Long)

class StreamingSessionizeSpec extends SparkSpec {

  private def toTs(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")

  test("sessions merge across the batch boundary; append emits watermark-closed sessions") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("sess_ck").toString
    @volatile var emitted = Vector.empty[(Long, Long, Long, Long)]

    val in = MemoryStream[SEv]
    val w = MergeableState.sink(StreamingSessionize.sessions(
        toTs(in.toDF()), "user_id", "ts", gapSeconds = 60,
        watermarkDelay = Some("0 seconds")))(MergeableState.Step(_)) { b =>
      emitted = emitted ++ b.collect().map(r => (r.getLong(0),
        r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000,
        r.getLong(3)))
    }
    val q = w.option("checkpointLocation", ckpt).start()
    // batch 1: user 1 session A starts (100, 130) — nothing later, so
    // the watermark stays at 130 and A remains open
    in.addData(SEv(1, 100), SEv(1, 130))
    q.processAllAvailable()
    // batch 2: 150 is within 60s of 130 -> MUST merge into session A,
    // proving session state crosses the micro-batch boundary; 400
    // starts session B; 500 is user 2's lone session
    in.addData(SEv(1, 150), SEv(1, 400), SEv(2, 500))
    q.processAllAvailable()
    // sentinel far in the future advances the watermark past everything
    in.addData(SEv(99, 1000000))
    q.processAllAvailable()
    q.stop()

    val real = emitted.filter(_._1 != 99L).sorted
    real shouldBe Vector(
      (1L, 100L, 210L, 3L), // merged A: 100,130,150 -> end = 150+60
      (1L, 400L, 460L, 1L), // B
      (2L, 500L, 560L, 1L)).sorted
  }

  test("batch path equals the streaming semantics definition") {
    import spark.implicits._
    val df = toTs(Seq(SEv(1, 0), SEv(1, 59), SEv(1, 119), SEv(1, 180)).toDF())
    // 0..59..119 chain (each gap < 60); 180 - 119 = 61 > 60 -> new
    // session
    val out = StreamingSessionize.sessions(df, "user_id", "ts", 60)
      .select(unix_timestamp(col("session_start")).as("s"),
        unix_timestamp(col("session_end")).as("e"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    out shouldBe Array((0L, 179L, 3L), (180L, 240L, 1L))
  }

  test("a gap of exactly the window size still merges (inclusive boundary)") {
    import spark.implicits._
    // session_window's merge test is inclusive — the same boundary as
    // Sessionize's lag form, pinned so the q101 oracle's strict > is
    // provably the right mirror
    val df = toTs(Seq(SEv(1, 0), SEv(1, 60)).toDF())
    StreamingSessionize.sessions(df, "user_id", "ts", 60)
      .count() shouldBe 1L
  }
}
