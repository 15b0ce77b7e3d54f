package graft.plans

import graft.{SparkEntry, SparkSpec}

/** Metrics-based shuffle-byte budget gate over the ENTIRE query
  * surface — the quantitative companion to `QueryPlanSpec`'s shape
  * gate. Plan shape catches a broadcast hint lost in a refactor; what
  * it can NOT see is a shuffle that stays structurally identical while
  * its PAYLOAD quietly explodes (a projection widened before the
  * exchange, a pre-aggregation dropped, a dedup moved after the join).
  * This spec executes every entry at sf0.01 and asserts its TOTAL task
  * shuffle-write bytes stay within a committed per-query budget, so a
  * payload regression fails CI with a number, not a slow cluster.
  *
  * Accounting is a SparkListener summing `shuffleWriteMetrics
  * .bytesWritten` over task ends — deliberately NOT the final plan's
  * SQLMetrics, because the iterative operators (PageRank, HITS, BPE,
  * k-means, streaming state builds) run their heavy shuffles EAGERLY
  * behind `localCheckpoint` during construction, outside the returned
  * plan. `ShuffleTally` charges a query with the tasks of the jobs it
  * started (tagged by a local property that AQE's stage jobs inherit)
  * and reads its total only once all of those jobs have ended: under
  * AQE a query's `count()` can return while a stage it no longer needs
  * is still writing (q382's self-join ends as soon as its empty era-0
  * side is known), and those bytes belong to that query, not the next.
  *
  * Budgets live in `src/test/resources/shuffle_budgets_sf0.01.json` as
  * RAW recorded bytes (diffable across rounds); the assertion allows
  * max(2x, +64 KiB) headroom — shuffle bytes are data- not
  * timing-dependent, so 2x only trips on real payload growth, while
  * the 64 KiB floor absorbs compression-header jitter on tiny
  * shuffles. Regenerate after INTENDED plan changes with:
  *   SPARK_GRAFT_RECORD_BUDGETS=1 sbt "testOnly graft.plans.ShuffleBudgetSpec"
  * A query with no committed budget fails — new entries must record
  * one in the same change that adds them.
  */
class ShuffleBudgetSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private val budgetFile = new java.io.File(
    "src/test/resources/shuffle_budgets_sf0.01.json").getAbsoluteFile
  private val record = sys.env.get("SPARK_GRAFT_RECORD_BUDGETS").contains("1")

  private def measured(): Map[String, Long] = {
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists())
    // record mode honors SPARK_GRAFT_QUERIES so a change adding a few
    // entries can record just those and MERGE into the committed file
    // (the gate itself always measures the full surface)
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .filter(_ => record)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = subset match {
      case Some(qs) =>
        val unknown = qs -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown queries in subset: $unknown")
        SparkEntry.queries.filter { case (n, _) => qs(n) }
      case None => SparkEntry.queries
    }
    ShuffleTally.using(spark) { tally =>
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val (_, bytes) = tally.measure(name) {
          fn(spark, sfDir).count()
          spark.catalog.clearCache() // q46-style internal persists must not leak
        }
        name -> bytes
      }.toMap
    }
  }

  private def readBudgets(): Map[String, Long] = {
    val text = new String(java.nio.file.Files.readAllBytes(budgetFile.toPath), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  test("every query's total shuffle-write bytes stay within its committed budget") {
    val got = measured()
    if (record) {
      val prior = if (budgetFile.exists()) readBudgets() else Map.empty[String, Long]
      // re-measured keys win; others keep theirs — but only keys that
      // still name a live query survive, so renamed/removed queries
      // don't leave stale budget entries in the file indefinitely
      val merged = (prior ++ got).filter { case (n, _) =>
        graft.SparkEntry.queries.contains(n)
      }
      val json = merged.toSeq.sortBy(_._1)
        .map { case (n, b) => s"""  "$n": $b""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(budgetFile.toPath.getParent)
      java.nio.file.Files.write(budgetFile.toPath, json.getBytes("UTF-8"))
      info(s"recorded ${got.size} budgets to $budgetFile")
    } else {
      assume(budgetFile.exists(),
        s"no committed budgets at $budgetFile — record with SPARK_GRAFT_RECORD_BUDGETS=1")
      val budgets = readBudgets()
      val problems = got.toSeq.sortBy(_._1).flatMap { case (name, b) =>
        budgets.get(name) match {
          case None =>
            Some(s"$name: no committed budget (measured $b bytes) — re-record")
          case Some(rec) =>
            val cap = math.max(rec * 2, rec + 65536L)
            if (b > cap)
              Some(s"$name: shuffle wrote $b bytes > cap $cap (recorded $rec)")
            else None
        }
      }
      withClue(problems.mkString("\n") + "\n") { problems shouldBe empty }
    }
  }
}
