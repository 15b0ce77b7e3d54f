package graft.sources

import graft.SparkSpec
import graft.plans.ShuffleTally
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** `PathIO.readSwapState`, the one read of a state table: absent
  * tables, every on-disk state a crash inside `writeSwap` can leave,
  * the stored-schema check, and the absence of Spark jobs.
  */
class PathIOSpec extends SparkSpec {

  private lazy val implicits = spark.implicits
  import implicits._

  private val schema = StructType.fromDDL("id BIGINT, v STRING")
  private val oldData = Seq((1L, "old"), (2L, "old"))
  private val newData = Seq((3L, "new"))
  private def oldRows = oldData.toDF("id", "v")
  private def newRows = newData.toDF("id", "v")

  private def tmp() = Files.createTempDirectory("graft_pathio").toString + "/state"
  private def rows(df: DataFrame) = df.as[(Long, String)].collect().toSeq.sorted
  private def move(from: String, to: String): Unit = Files.move(Paths.get(from), Paths.get(to))

  test("an absent table reads as the schema's empty frame") {
    val df = PathIO.readSwapState(spark, tmp(), schema)
    df.schema shouldBe schema
    df.collect() shouldBe empty
  }

  // each state a crash inside writeSwap(new) can leave over a table
  // holding `old` (no rows when the crash hit the table's first commit)
  private val crashStates: Seq[(String, String => Unit, Seq[(Long, String)])] = Seq(
    ("only .next (first commit, before its rename)",
      t => newRows.write.parquet(t + ".next"), Nil),
    (".next beside the target (before the first rename)",
      t => { PathIO.writeSwap(oldRows, t); newRows.write.parquet(t + ".next") }, oldData),
    (".old + .next with no target (between the renames)",
      t => {
        PathIO.writeSwap(oldRows, t); move(t, t + ".old")
        newRows.write.parquet(t + ".next")
      }, oldData),
    (".old only",
      t => { PathIO.writeSwap(oldRows, t); move(t, t + ".old") }, oldData),
    ("a stale .old beside a good target (before the aside copy is dropped)",
      t => { oldRows.write.parquet(t + ".old"); newRows.write.parquet(t) }, newData))

  for ((name, leave, expected) <- crashStates)
    test(s"crash state '$name' reads as exactly the old or the new rows, then swaps cleanly") {
      val t = tmp()
      leave(t)
      rows(PathIO.readSwapState(spark, t, schema)) shouldBe expected
      PathIO.writeSwap(Seq((9L, "later")).toDF("id", "v"), t)
      rows(PathIO.readSwapState(spark, t, schema)) shouldBe Seq((9L, "later"))
      Files.exists(Paths.get(t + ".old")) shouldBe false
      Files.exists(Paths.get(t + ".next")) shouldBe false
    }

  test("a stored column whose name or type differs fails naming both schemas") {
    val t = tmp()
    PathIO.writeSwap(oldRows, t)
    val retyped = intercept[IllegalArgumentException] {
      PathIO.readSwapState(spark, t, StructType.fromDDL("id INT, v STRING"))
    }
    retyped.getMessage should (include("id BIGINT") and include("id INT"))
    val renamed = intercept[IllegalArgumentException] {
      PathIO.readSwapState(spark, t, StructType.fromDDL("id BIGINT, w STRING"))
    }
    renamed.getMessage should (include("v STRING") and include("w STRING"))
    an[IllegalArgumentException] should be thrownBy
      PathIO.readSwapState(spark, t, StructType.fromDDL("id BIGINT"))
  }

  test("partition columns are checked against the directories, typed by the schema") {
    val t = tmp()
    Seq((1L, 3), (2L, 5)).toDF("node", "bucket").write.partitionBy("bucket").parquet(t)
    val df = PathIO.readSwapState(spark, t, StructType.fromDDL("node BIGINT, bucket INT"))
    df.as[(Long, Int)].collect().toSeq.sorted shouldBe Seq((1L, 3), (2L, 5))
    an[IllegalArgumentException] should be thrownBy
      PathIO.readSwapState(spark, t, StructType.fromDDL("node INT, bucket INT"))
    an[IllegalArgumentException] should be thrownBy
      PathIO.readSwapState(spark, t, StructType.fromDDL("node BIGINT"))
  }

  test("a present table is read with no Spark job") {
    val t = tmp()
    PathIO.writeSwap(oldRows, t)
    ShuffleTally.using(spark) { tally =>
      // the listener does see the job an inferring read starts
      tally.jobCount("inferring read")(spark.read.parquet(t))._2 should be > 0
      val (df, jobs) = tally.jobCount("state read")(PathIO.readSwapState(spark, t, schema))
      jobs shouldBe 0
      rows(df) shouldBe oldData
    }
  }
}
