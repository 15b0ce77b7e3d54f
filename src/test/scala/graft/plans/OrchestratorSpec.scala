package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.sql.Timestamp

class OrchestratorSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def events(rows: (Long, String, Long, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t, u, typ) =>
        Row(id, Timestamp.valueOf(t), u, typ, 4.0, null) }),
      schema)

  test("one snapshot cycle: curated layer, popularity, pack plan") {
    val root = Files.createTempDirectory("layers").toString
    val raw = events(
      (1L, "2026-01-11 17:07:40", 10L, "a"), (2L, "2026-01-11 17:08:00", 11L, "a"),
      (3L, "2026-01-11 17:09:00", 12L, "b"), (4L, "2026-01-11 17:09:30", 10L, "a"))
    val res = Orchestrator.runSnapshot(spark, raw, Some(root), numGroups = 2, cap = 2L)
    // PK dedup: user 10 appears twice in the same slot -> 3 curated rows
    res.curated.count() shouldBe 3
    // curated layer persisted and partitioned
    new java.io.File(s"$root/curated_events").list().toSeq
      .exists(_.startsWith("day_date_id=")) shouldBe true
    val pop = res.popularity.collect().map(r => (r.getString(0), r.getLong(1)))
    pop shouldBe Array(("a", 2L), ("b", 1L))
    // pack plan covers every key, groups within bounds
    res.packPlan.count() shouldBe 2
    res.packPlan.filter("group_id >= 2").count() shouldBe 0
  }

  test("the curated layer keeps every snapshot; each cycle reads only its own") {
    val root = Files.createTempDirectory("layers2").toString
    val layer = s"$root/curated_events"
    def snapshotDirs = new java.io.File(layer).listFiles().toSeq
      .filter(_.getName.startsWith("day_date_id="))
      .flatMap(_.listFiles().toSeq.map(_.getName)).sorted
    val s1 = events((1L, "2026-01-11 17:01:00", 10L, "a"),
      (2L, "2026-01-11 17:01:10", 11L, "a"), (3L, "2026-01-11 17:01:20", 12L, "b"))
    Orchestrator.runSnapshot(spark, s1, Some(root), numGroups = 2, cap = 10L)
    val s2 = events((4L, "2026-01-11 17:31:00", 20L, "c"),
      (5L, "2026-01-11 17:31:10", 21L, "c"))
    val r2 = Orchestrator.runSnapshot(spark, s2, Some(root), numGroups = 2, cap = 10L)
    snapshotDirs.size shouldBe 2
    // the second cycle's outputs are scoped to the second snapshot
    r2.curated.count() shouldBe 2
    r2.popularity.collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("c", 2L))
    r2.packPlan.collect().map(_.getString(0)).toSeq shouldBe Seq("c")
    // a re-run replaces only its own snapshot
    val s2b = events((6L, "2026-01-11 17:31:00", 20L, "d"))
    Orchestrator.runSnapshot(spark, s2b, Some(root), numGroups = 2, cap = 10L)
    snapshotDirs.size shouldBe 2
    // an empty cycle writes nothing and reads back nothing
    val r0 = Orchestrator.runSnapshot(spark, events(), Some(root), numGroups = 2, cap = 10L)
    (r0.curated.count(), r0.packPlan.count()) shouldBe ((0L, 0L))
    r0.curated.columns.toSeq shouldBe r2.curated.columns.toSeq
    graft.sources.Layers.readPartitioned(spark, layer)
      .groupBy("time_of_day_id").count().collect().map(_.getLong(1)).sorted shouldBe
      Array(1L, 3L)
  }

  test("dimension upsert persists across snapshots, emits delta only") {
    val dim = Files.createTempDirectory("dim").toString + "/users"
    val s1 = events((1L, "2026-01-11 17:00:00", 10L, "a"),
      (2L, "2026-01-11 17:00:01", 11L, "a")).select("user_id").distinct()
    val s2 = events((3L, "2026-01-11 17:15:00", 10L, "a"),
      (4L, "2026-01-11 17:15:01", 12L, "a")).select("user_id").distinct()
    val d1 = Orchestrator.upsertDim(spark, s1, dim, Seq("user_id"))
    d1.collect().map(_.getLong(0)).sorted shouldBe Array(10L, 11L)
    val d2 = Orchestrator.upsertDim(spark, s2, dim, Seq("user_id"))
    d2.collect().map(_.getLong(0)) shouldBe Array(12L)
    spark.read.parquet(dim).count() shouldBe 3
  }

  test("repeated dimension upserts leave the dim in one parquet file") {
    val dim = Files.createTempDirectory("dim_files").toString + "/users"
    (0 until 5).foreach { i =>
      val keys = events((i.toLong, "2026-01-11 17:00:00", 100L + i, "a"),
        (10L + i, "2026-01-11 17:00:01", 200L + i, "a")).select("user_id")
      Orchestrator.upsertDim(spark, keys, dim, Seq("user_id"))
    }
    new java.io.File(dim).list().count(_.endsWith(".parquet")) shouldBe 1
    spark.read.parquet(dim).count() shouldBe 10
  }

  test("an upsert whose columns differ from the stored dim fails") {
    import org.apache.spark.sql.functions.col
    val dim = Files.createTempDirectory("dim_mismatch").toString + "/users"
    Orchestrator.upsertDim(spark,
      events((1L, "2026-01-11 17:00:00", 10L, "a")).select("user_id"), dim, Seq("user_id"))
    val next = events((2L, "2026-01-11 17:15:00", 11L, "b"))
    // an extra column, and a renamed one
    an[Exception] should be thrownBy
      Orchestrator.upsertDim(spark, next.select("user_id", "event_type"), dim, Seq("user_id"))
    an[Exception] should be thrownBy
      Orchestrator.upsertDim(spark, next.select(col("user_id").as("uid")), dim, Seq("uid"))
    spark.read.parquet(dim).collect().map(_.getLong(0)) shouldBe Array(10L)
  }

  test("an upsert that changes a dim column's type fails and leaves the dim as it was") {
    import org.apache.spark.sql.functions.col
    val dim = Files.createTempDirectory("dim_retyped").toString + "/users"
    Orchestrator.upsertDim(spark,
      events((1L, "2026-01-11 17:00:00", 10L, "a")).select("user_id"), dim, Seq("user_id"))
    val retyped = events((2L, "2026-01-11 17:15:00", 11L, "b"))
      .select(col("user_id").cast("string").as("user_id"))
    val e = the[IllegalArgumentException] thrownBy
      Orchestrator.upsertDim(spark, retyped, dim, Seq("user_id"))
    e.getMessage should include("user_id")
    spark.read.parquet(dim).schema("user_id").dataType shouldBe LongType
    spark.read.parquet(dim).collect().map(_.getLong(0)) shouldBe Array(10L)
  }
}
