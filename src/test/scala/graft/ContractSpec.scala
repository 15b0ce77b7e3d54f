package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Static guards on the driver contract itself: the correctness gate
  * hashes `queries` against `oracleSql`, so a TYPO in either map —
  * an orphan oracle, a query silently missing its oracle, a reused
  * number — would weaken the gate without failing anything. This spec
  * makes the contract's shape load-bearing.
  */
class ContractSpec extends AnyFunSuite with Matchers {

  // the long-sanctioned rows-only entries (content-gated in their
  // specs; see VERDICT round 9): adding ANOTHER requires updating this
  // list deliberately. q34 GRADUATED in round 11 (the replayable
  // spherical-Lloyd fit made its k-means oracle-able); q29 GRADUATED
  // in round 15 (the oracle replays the deterministic generation
  // recipe — Random dims, PNG pixel formula, WAV LCG, AVI header —
  // against the decoded values; only codec-private bytes stay
  // spec-pinned).
  private val sanctionedRowsOnly = Set("q56_sketches")

  test("every oracle belongs to a query; only the sanctioned one lacks one") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    withClue("orphan oracles (no matching query): ") {
      (o -- q) shouldBe empty
    }
    withClue("queries without an oracle beyond the sanctioned rows-only: ") {
      (q -- o) shouldBe sanctionedRowsOnly
    }
  }

  test("query names are well-formed and numbers are unique") {
    val names = SparkEntry.queries.keySet
    val pattern = "^q(\\d+)_[a-z0-9_]+$".r
    val nums = names.toSeq.map { n =>
      withClue(s"malformed query name $n: ") {
        pattern.findFirstMatchIn(n).isDefined shouldBe true
      }
      pattern.findFirstMatchIn(n).get.group(1).toInt
    }
    withClue("reused query numbers: ") {
      nums.groupBy(identity).filter(_._2.size > 1).keys.toSeq shouldBe empty
    }
  }

  test("every family entry reaches the contract maps under a distinct name") {
    // the maps are keyed by name: a repeated name would drop one entry
    // (and its oracle) from the hash gate without failing anything
    val names = SparkEntry.entries.map(_.name)
    names.size shouldBe SparkEntry.queries.size
    withClue("repeated entry names: ") {
      names.diff(names.distinct) shouldBe empty
    }
  }

  test("oracle SQL never references the Spark-side bookkeeping prefix") {
    // a __-prefixed column leaking into an oracle means the Spark side
    // exposed internals the driver would then hash
    for ((name, sql) <- SparkEntry.oracleSql)
      withClue(s"$name oracle references __ bookkeeping: ") {
        sql.contains("__") shouldBe false
      }
  }
}
