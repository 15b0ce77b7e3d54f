package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class DrRow(id: Long, v: Long)

class StreamingDriftSpec extends SparkSpec {

  private def report(df: org.apache.spark.sql.DataFrame) = {
    val r = df.select("n_rows", "n_bins", "psi").head()
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  test("identical batch and baseline of equal size score psi = 0") {
    import spark.implicits._
    val st = Files.createTempDirectory("drift0").toString + "/base"
    val ref = (1L to 8L).map(i => DrRow(i, 1L << (i % 3))).toDF()
    StreamingDrift.registerBaseline(ref, "v", st)
    val (n, bins, psi) = report(StreamingDrift.screenBatch(ref, "v", st))
    n shouldBe 8L
    bins shouldBe 3L
    // ca = cb and na = nb for every bin -> every contribution is 0
    psi shouldBe 0.0
  }

  test("a shifted batch scores the hand-computed smoothed PSI; union bins count") {
    import spark.implicits._
    val st = Files.createTempDirectory("drift1").toString + "/base"
    // baseline: 4 values in bin 0
    StreamingDrift.registerBaseline(
      (1L to 4L).map(i => DrRow(i, 1L)).toDF(), "v", st)
    // batch: 4 values in bin 4 — a bin the baseline never saw
    val out = StreamingDrift.screenBatch(
      (1L to 4L).map(i => DrRow(i, 16L)).toDF(), "v", st)
    val (n, bins, psi) = report(out)
    n shouldBe 4L
    bins shouldBe 2L // union domain: {0, 4}
    // na = nb = 4, nbins = 2: each side's shares are 1/6 vs 5/6;
    // bin0: (1/6 - 5/6)*log10(6/30), bin4: (5/6 - 1/6)*log10(30/6),
    // each rounded to 6 places before the exact decimal sum
    val expect = math.floor((1.0 / 6 - 5.0 / 6) *
        math.log10(6.0 / 30) * 1e6 + 0.5) / 1e6 +
      math.floor((5.0 / 6 - 1.0 / 6) *
        math.log10(30.0 / 6) * 1e6 + 0.5) / 1e6
    psi shouldBe (expect +- 1e-9)
    psi should be > 0.5 // loud alarm for a full regime shift
  }

  test("screening is read-only: state survives and batches are idempotent") {
    import spark.implicits._
    val st = Files.createTempDirectory("drift2").toString + "/base"
    StreamingDrift.registerBaseline(
      (1L to 4L).map(i => DrRow(i, 2L)).toDF(), "v", st)
    val b = (1L to 2L).map(i => DrRow(i, 64L)).toDF()
    val first = report(StreamingDrift.screenBatch(b, "v", st))
    val second = report(StreamingDrift.screenBatch(b, "v", st))
    second shouldBe first
  }

  test("driftSink scores each micro-batch against the registered baseline") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val st = Files.createTempDirectory("drift3").toString + "/base"
    val ckpt = Files.createTempDirectory("drift_ck").toString
    StreamingDrift.registerBaseline(
      (1L to 4L).map(i => DrRow(i, 1L)).toDF(), "v", st)
    @volatile var scores = Vector.empty[Double]
    val in = MemoryStream[DrRow]
    val q = MergeableState.sink(in.toDF())(
        b => MergeableState.Step(StreamingDrift.screenBatch(b, "v", st)))(
        b => scores = scores :+ report(b)._3)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(DrRow(1, 1L)) // same regime -> low psi
      q.processAllAvailable()
      in.addData(DrRow(2, 1L << 20)) // new regime -> loud psi
      q.processAllAvailable()
    } finally q.stop()
    scores should have size 2
    scores(1) should be > scores(0)
  }
}
