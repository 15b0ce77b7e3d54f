package graft
package queries

/** State fixtures (`SparkSide.stateFixture`) are shared by every run of
  * a query in one harness run, and deleted when the run ends.
  */
class StateFixtureSpec extends SparkSpec {

  test("no state fixture dir survives the end-of-run drain") {
    def build(p: String): Unit = spark.range(3).write.parquet(p)
    val a = SparkSide.stateFixture("qfixa", spark, "/data")(build)
    val b = SparkSide.stateFixture("qfixb", spark, "/data")(build)
    // a second run of the query reuses the committed fixture
    SparkSide.stateFixture("qfixa", spark, "/data")(
      _ => fail("a fixture is built once per run")) shouldBe a
    val dirs = Seq(a, b).map(p => new java.io.File(p).getParentFile)
    all(dirs.map(_.exists())) shouldBe true
    dirs.map(_.getName).foreach(_ should startWith("graft_qfix"))

    SparkEntry.deleteStateFixtures(spark, "spec")
    dirs.filter(_.exists()) shouldBe empty
    // a query run after the drain builds a fresh fixture
    val again = SparkSide.stateFixture("qfixa", spark, "/data")(build)
    again should not be a
    SparkEntry.deleteStateFixtures(spark, "spec")
    new java.io.File(again).getParentFile.exists() shouldBe false
  }
}
