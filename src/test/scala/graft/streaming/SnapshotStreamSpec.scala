package graft.streaming

import graft.SparkSpec
import graft.plans.Orchestrator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.file.Files

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class SnapshotStreamSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, u: Long, typ: String = "stream") =
    Ev(id, ts(t), u, typ, 4.0, """{"k": 1}""")

  test("streaming curated chain equals the batch transform result") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      ev(1, "2026-01-11 17:07:40", 10), ev(2, "2026-01-11 17:08:40", 10), // same slot+user -> dedup
      ev(3, "2026-01-11 17:40:00", 11))
    val in = MemoryStream[Ev]
    val q = SnapshotStream.curatedStream(in.toDF())
      .writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val pk = Seq("user_id", "day_date_id", "time_of_day_id")
    val streamed = spark.table("curated_out")
    val batch = graft.operators.SnapshotPipeline.curateEvents(
      graft.operators.SnapshotPipeline.processEvents(rows.toDF()))
    // batch and streaming agree on the PK set (the surviving row within
    // a snapshot may differ: min-id window vs first-arrival state)
    streamed.select(pk.map(col): _*).exceptAll(batch.select(pk.map(col): _*))
      .count() shouldBe 0
    batch.select(pk.map(col): _*).exceptAll(streamed.select(pk.map(col): _*))
      .count() shouldBe 0
    streamed.count() shouldBe 2
  }

  test("curated dedup state is evicted as the watermark passes each slot") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    // A key's state lives until the watermark (newest ts - delay, as of
    // the previous micro-batch) passes its first ts + delay: with a
    // 15-minute delay and one 15-minute slot per micro-batch, at most
    // the keys of the last 3 slots remain.
    val q = SnapshotStream.curatedStream(in.toDF(), watermark = "15 minutes")
      .writeStream.format("memory").queryName("curated_evicted")
      .outputMode("append").start()
    val users = 5
    val start = ts("2026-01-11 17:00:00").getTime
    var id = 0L
    def row(slot: Int, u: Int, minute: Int) = {
      id += 1
      Ev(id, new Timestamp(start + (slot * 15L + minute) * 60000L), u.toLong, "stream", 4.0,
        """{"k": 1}""")
    }
    val slots = 8
    val stateRows = (0 until slots).map { k =>
      // slot k's keys, plus a copy of user 1's slot k-1 row re-sent
      // later in that slot, still inside the delay
      val resent = if (k > 0) Seq(row(k - 1, 1, 7)) else Nil
      in.addData((1 to users).map(u => row(k, u, u)) ++ resent: _*)
      q.processAllAvailable()
      q.lastProgress.stateOperators.head.numRowsTotal
    }
    q.stop()
    all(stateRows) should be <= (3L * users)
    // each slot keeps exactly its own keys: every re-sent copy was dropped
    spark.table("curated_evicted").groupBy("time_of_day_id").count()
      .collect().map(_.getLong(1)).toSeq shouldBe Seq.fill(slots)(users.toLong)
  }

  test("windowed popularity emits per-window counts after watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = SnapshotStream.windowedPopularity(in.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("pop_out")
      .outputMode("append").start()
    in.addData(
      ev(1, "2024-01-01 10:00:10", 1, "a"), ev(2, "2024-01-01 10:05:00", 2, "a"),
      ev(3, "2024-01-01 10:20:00", 3, "b"))
    q.processAllAvailable()
    // advance watermark far past the windows so they close
    in.addData(ev(99, "2024-01-01 12:00:00", 9, "z"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("pop_out")
      .select("event_type", "num_of_streamers")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out("a") shouldBe 2L
    out("b") shouldBe 1L
  }

  test("runningCounts accumulates keyed state across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = SnapshotStream.runningCounts(in.toDF(), "event_type")
      .writeStream.format("memory").queryName("rc_out")
      .outputMode("update").start()
    in.addData(ev(1, "2024-01-01 10:00:00", 1, "a"), ev(2, "2024-01-01 10:00:01", 2, "a"))
    q.processAllAvailable()
    in.addData(ev(3, "2024-01-01 10:01:00", 3, "a"), ev(4, "2024-01-01 10:01:01", 4, "b"))
    q.processAllAvailable()
    q.stop()
    // last update per key wins
    val out = spark.table("rc_out").groupBy("event_type")
      .agg(max("running_count").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out shouldBe Map("a" -> 3L, "b" -> 1L)
  }

  test("dimension upsert sink emits only never-seen keys per batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dim = Files.createTempDirectory("dim").toString + "/current"
    val ckpt = Files.createTempDirectory("ckpt").toString
    @volatile var deltas = Vector.empty[Set[Long]]

    // each micro-batch runs the batch chain's upsert, which swaps the
    // dim in itself, so the step's commit is empty
    val in = MemoryStream[Ev]
    val w = MergeableState.sink(in.toDF().select("user_id")) { b =>
      MergeableState.Step(Orchestrator.upsertDim(
        b.sparkSession, b.distinct(), dim, Seq("user_id")))
    }(d => deltas = deltas :+ d.select("user_id").as[Long].collect().toSet)
    val q = w.option("checkpointLocation", ckpt).start()
    in.addData(ev(1, "2024-01-01 10:00:00", 10), ev(2, "2024-01-01 10:00:01", 11))
    q.processAllAvailable()
    in.addData(ev(3, "2024-01-01 10:01:00", 10), ev(4, "2024-01-01 10:01:01", 12))
    q.processAllAvailable()
    q.stop()
    deltas shouldBe Vector(Set(10L, 11L), Set(12L))
    spark.read.parquet(dim).as[Long].collect().toSet shouldBe Set(10L, 11L, 12L)
  }
}
