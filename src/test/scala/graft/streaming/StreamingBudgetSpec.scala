package graft.streaming

import graft.SparkSpec
import graft.operators.Sampling
import org.apache.spark.sql.functions._

class StreamingBudgetSpec extends SparkSpec {

  private lazy val implicits = spark.implicits
  import implicits._

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft_budget_state").toString + "/spent"

  private def docs(rows: (Long, String, Long)*) = rows.toDF("id", "g", "n")

  test("the boundary doc crossing the budget line is admitted") {
    val state = tmp()
    val out = StreamingBudget.acceptBatch(
      docs((1L, "g", 60L), (2L, "g", 60L), (3L, "g", 60L)),
      "id", "g", col("n"), 100L, state)
    // before 0 and 60 are under budget (the 60->120 crosser included),
    // before 120 is not
    out.count() shouldBe 2L
  }

  test("cross-batch spending carries into later ticks") {
    val state = tmp()
    val t1 = StreamingBudget.acceptBatch(
      docs((1L, "g", 30L), (2L, "g", 30L)), "id", "g", col("n"), 100L, state)
    t1.count() shouldBe 2L // before 0, 30 -> both admitted, spent 60
    val t2 = StreamingBudget.acceptBatch(
      docs((3L, "g", 30L), (4L, "g", 30L), (5L, "g", 30L)),
      "id", "g", col("n"), 100L, state)
    // before 60, 90, 120 within tick-2's hash order -> exactly two more
    t2.count() shouldBe 2L
    val t3 = StreamingBudget.acceptBatch(
      docs((6L, "g", 1L)), "id", "g", col("n"), 100L, state)
    t3.count() shouldBe 0L // spent 120 >= 100: the group is closed
  }

  test("groups are budgeted independently, null group included") {
    val state = tmp()
    val rows = Seq((1L, Some("a"), 80L), (2L, Some("a"), 80L),
      (3L, None, 80L), (4L, None, 80L)).toDF("id", "g", "n")
    val out = StreamingBudget.acceptBatch(rows, "id", "g", col("n"), 100L, state)
    // each group (null being a group) admits its first-by-hash doc at
    // before=0 and one more at before=80 -> wait: 80+80=160 over 100,
    // so exactly the boundary doc before=80 < 100 is also admitted
    out.count() shouldBe 4L
    // second tick: both groups exhausted (spent 160)
    StreamingBudget.acceptBatch(
      Seq((5L, Option("a"), 1L), (6L, Option.empty[String], 1L))
        .toDF("id", "g", "n"),
      "id", "g", col("n"), 100L, state).count() shouldBe 0L
  }

  test("a replayed batch re-screens identically against uncommitted state") {
    val state = tmp()
    val batch = docs((1L, "g", 40L), (2L, "g", 40L), (3L, "g", 40L))
    val a1 = StreamingBudget.screenBatch(batch, "id", "g", col("n"), 100L, state).rows
    val a2 = StreamingBudget.screenBatch(batch, "id", "g", col("n"), 100L, state).rows
    a1.exceptAll(a2).count() shouldBe 0L
    a2.exceptAll(a1).count() shouldBe 0L
  }

  test("reserved bookkeeping names are rejected up front") {
    val bad = Seq((1L, "g", 5L)).toDF("id", "g", "spent")
    val e = intercept[IllegalArgumentException] {
      StreamingBudget.screenBatch(bad, "id", "g", col("spent"), 10L, tmp())
    }
    e.getMessage should include("spent")
  }

  test("a crash before commit leaves prior totals intact (swap, not overwrite)") {
    val state = tmp()
    StreamingBudget.acceptBatch(
      docs((1L, "g", 60L)), "id", "g", col("n"), 100L, state).count() shouldBe 1L
    // simulate a later failed cycle that never commits: state unchanged
    val failed = StreamingBudget.screenBatch(
      docs((2L, "g", 60L)), "id", "g", col("n"), 100L, state)
    failed.rows.count() // evaluated but NOT committed
    val t2 = StreamingBudget.acceptBatch(
      docs((3L, "g", 60L)), "id", "g", col("n"), 100L, state)
    t2.count() shouldBe 1L // before=60 < 100: only the first batch spent
  }

  test("one batch from empty state equals the one-shot batch operator") {
    val state = tmp()
    val corpus = (0L until 500L).map(i => (i, s"g${i % 4}", (i % 23) + 1))
      .toDF("id", "g", "n")
    val streamed = StreamingBudget.acceptBatch(
      corpus, "id", "g", col("n"), 300L, state)
    val oneShot = Sampling.tokenBudgetSample(corpus, "id", "g", col("n"), 300L)
    streamed.exceptAll(oneShot).count() shouldBe 0L
    oneShot.exceptAll(streamed).count() shouldBe 0L
  }
}
