package graft.streaming

import graft.SparkSpec
import graft.streaming.MergeableState.{Max, Min, Sum}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MergeableStateSpec extends SparkSpec {

  private lazy val implicits = spark.implicits
  import implicits._

  private def tmp() = Files.createTempDirectory("graft_ms").toString + "/state"

  private val merges = Seq("n" -> Sum("long"), "v" -> Sum("decimal(18,2)"),
    "hi" -> Max, "lo" -> Min)

  // (key, n, v, hi, lo) — key NULL is a real group
  private def partial(rows: (Option[String], Long, String, Long, Long)*): DataFrame =
    rows.toDF("k", "n", "v", "hi", "lo")
      .select(col("k"), col("n"), col("v").cast("decimal(18,2)").as("v"),
        col("hi"), col("lo"))

  private def asMap(df: DataFrame) =
    df.collect().map(r => Option(r.getString(0)) ->
      ((r.getLong(1), r.getDecimal(2).toPlainString, r.getLong(3), r.getLong(4))))
      .toMap

  test("sum, max and min fold per key; NULL keys match null-safely") {
    val st = tmp()
    MergeableState.accept(MergeableState.merge(partial(
      (Some("a"), 1L, "1.10", 0L, 50L), (None, 2L, "0.05", 1L, 7L)),
      Seq("k"), merges, st), st)
    val merged = MergeableState.accept(MergeableState.merge(partial(
      (Some("a"), 3L, "2.00", 1L, 40L), (None, 1L, "0.05", 0L, 9L),
      (Some("b"), 5L, "0.01", 0L, 3L)),
      Seq("k"), merges, st), st)
    asMap(merged) shouldBe Map(
      Some("a") -> ((4L, "3.10", 1L, 40L)),
      None -> ((3L, "0.10", 1L, 7L)),
      Some("b") -> ((5L, "0.01", 0L, 3L)))
    // the state keeps the partial's names, order and types
    spark.read.parquet(st).schema.map(f => f.name -> f.dataType.simpleString) shouldBe
      Seq("k" -> "string", "n" -> "bigint", "v" -> "decimal(18,2)",
        "hi" -> "bigint", "lo" -> "bigint")
  }

  test("an uncommitted merge leaves the state as it was") {
    val st = tmp()
    val b1 = partial((Some("a"), 1L, "1.00", 0L, 5L))
    MergeableState.accept(MergeableState.merge(b1, Seq("k"), merges, st), st)
    val b2 = partial((Some("a"), 2L, "1.00", 1L, 2L))
    MergeableState.merge(b2, Seq("k"), merges, st).count() // sink "fails"
    asMap(MergeableState.accept(MergeableState.merge(b2, Seq("k"), merges, st), st)) shouldBe
      Map(Some("a") -> ((3L, "2.00", 1L, 2L)))
  }

  test("the materialized result stays readable after the swap") {
    val st = tmp()
    val b = partial((Some("a"), 1L, "1.00", 0L, 5L))
    val out = MergeableState.accept(MergeableState.merge(b, Seq("k"), merges, st), st)
    MergeableState.accept(MergeableState.merge(b, Seq("k"), merges, st), st)
    out.collect().map(_.getLong(1)) shouldBe Array(1L)
    spark.read.parquet(st).collect().map(_.getLong(1)) shouldBe Array(2L)
  }

  test("a Max over an INT partial commits BIGINT, and the next merge reads it") {
    val st = tmp()
    def ints(rows: (String, Int)*) = rows.toDF("k", "ia")
    MergeableState.accept(MergeableState.merge(ints(("a", 0), ("b", 1)),
      Seq("k"), Seq("ia" -> Max), st), st)
    spark.read.parquet(st).schema("ia").dataType.simpleString shouldBe "bigint"
    MergeableState.accept(MergeableState.merge(ints(("a", 1), ("c", 0)),
      Seq("k"), Seq("ia" -> Max), st), st)
      .as[(String, Long)].collect().toMap shouldBe Map("a" -> 1L, "b" -> 1L, "c" -> 0L)
  }

  test("duplicate, prefixed or keyless state columns are rejected") {
    val p = Seq(("a", 1L)).toDF("k", "n")
    an[IllegalArgumentException] should be thrownBy
      MergeableState.merge(p, Seq("k"), Seq("K" -> Sum("long")), tmp())
    an[IllegalArgumentException] should be thrownBy
      MergeableState.merge(p.withColumnRenamed("k", "__ms_k"), Seq("__ms_k"),
        Seq("n" -> Sum("long")), tmp())
    an[IllegalArgumentException] should be thrownBy
      MergeableState.merge(p, Nil, Seq("n" -> Sum("long")), tmp())
  }

  test("retention still refuses to merge into a state of another grain") {
    val st = tmp()
    val ev = Seq(("u1", java.sql.Timestamp.valueOf("2026-01-05 10:00:00")))
      .toDF("user_id", "ts")
    StreamingRetention.acceptBatch(ev, "user_id", "ts", st, grainDays = 1)
    val e = intercept[IllegalArgumentException] {
      StreamingRetention.mergeBatch(ev, "user_id", "ts", st, grainDays = 7)
    }
    e.getMessage should include("grain 1")
    StreamingRetention.mergeBatch(ev, "user_id", "ts", st, grainDays = 1)
      .select("n", "grain").as[(Long, Long)].collect() shouldBe Array((2L, 1L))
  }

  test("retention refuses a day-grain merge into a week-grain state") {
    val st = tmp()
    val ev = Seq(("u1", java.sql.Timestamp.valueOf("2026-01-05 10:00:00")))
      .toDF("user_id", "ts")
    StreamingRetention.acceptBatch(ev, "user_id", "ts", st)
    // the grain is a merged column: the state stores exactly keys ++ merges
    spark.read.parquet(st).columns shouldBe Array("user", "week", "n", "grain")
    val e = intercept[IllegalArgumentException] {
      StreamingRetention.mergeBatch(ev, "user_id", "ts", st, grainDays = 1)
    }
    e.getMessage should include("grain 7")
  }
}
