package graft.plans

import graft.SparkSpec
import org.apache.spark.HashPartitioner

/** Pins `ShuffleTally`'s attribution rule: a body's shuffle bytes are
  * its own even when its jobs outlive the body, and they are never
  * charged to the body measured next.
  */
class ShuffleTallySpec extends SparkSpec {

  test("a shuffle stage still running when its body returns is charged to that body") {
    val sc = spark.sparkContext
    ShuffleTally.using(spark) { tally =>
      // returns at once and leaves a shuffle stage running for ~2 s,
      // as AQE does with a join side it no longer needs
      val (_, late) = tally.measure("async shuffle") {
        sc.parallelize(1 to 1000, 2)
          .mapPartitions { it => Thread.sleep(2000); it.map(i => (i % 10, i)) }
          .partitionBy(new HashPartitioner(2))
          .countAsync()
      }
      val (_, next) = tally.measure("no shuffle") {
        sc.parallelize(1 to 100, 2).count()
      }
      late should be > 0L
      next shouldBe 0L
    }
  }
}
