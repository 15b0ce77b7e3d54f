package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling join utilities for the 100 TB design point.
  *
  * AQE's skew-join split (on by default) handles most skew at runtime by
  * splitting oversized shuffle partitions, but it cannot split a single
  * hot KEY — every row of one key still lands in one task of a
  * sort-merge join. Salting fixes that shape: the skewed (large) side
  * gets a random salt in [0, n), the replicated (smaller, but too big to
  * broadcast) side is exploded n ways, and the join key becomes
  * (key, salt) — spreading each hot key over n tasks.
  *
  * The popularity-weighted bin-packing partitioner (plans.BinPacking) is
  * the reference's static answer to the same problem at ingest time;
  * this is the engine-side answer at join time.
  */
object SkewJoin {

  /** Inner/left equi-join with the left side salted `saltBuckets` ways.
    *
    * Use when `right` is too large to broadcast and `left` has hot keys.
    * Salt is derived from a deterministic hash of the whole left row
    * (monotonically_increasing_id would break retry idempotency).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(left.columns.map(col): _*), lit(saltBuckets)))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedLeft.join(replicatedRight, keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** Two-path skew join: the given hot keys go through a broadcast of
    * the right side's matching rows (hot-key rows are few on the right
    * by assumption), the cold remainder through a normal shuffle join.
    * This is what AQE cannot do declaratively when the hot-key set is
    * known from the popularity feedback loop (reference §2.11).
    */
  def hotColdJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                  hotKeys: DataFrame): DataFrame = {
    val hk = broadcast(hotKeys.select(keys.map(col): _*).distinct())
    val hotLeft = left.join(hk, keys, "left_semi")
    val coldLeft = left.join(hk, keys, "left_anti")
    val hotRight = broadcast(right.join(hk, keys, "left_semi"))
    hotLeft.join(hotRight, keys)
      .unionByName(coldLeft.join(right, keys))
  }

  /** Top-k keys by frequency — the hot-key detector feeding hotColdJoin
    * (one cheap aggregate; at scale run on a sample: df.sample(0.01)).
    */
  def topKeys(df: DataFrame, keys: Seq[String], k: Int): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc)
      .limit(k)
      .drop("__n")
}
