package graft.streaming

import graft.sources.PathIO
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming distribution-drift monitor: a REGISTERED baseline
  * histogram (power-of-two bins of a numeric feature, e.g. token
  * count) persisted as swap state, and a per-micro-batch PSI score of
  * the incoming batch against it — the "is today's data still shaped
  * like the data I trained the filters on" alarm, evaluated while the
  * batch is still in flight.
  *
  * Scoring mirrors `Profile.psi`'s exactness discipline (+1 Laplace
  * smoothing from exact integer counts, contributions from single
  * IEEE divisions of exact integers, pround6 -> DECIMAL(18,6) exact
  * order-independent summation), with one structural difference: the
  * bin domain is the UNION of baseline and batch bins (a full_outer
  * join of the two histograms), so a batch inventing a new regime —
  * bins the baseline never saw — contributes loudly instead of being
  * silently dropped.
  *
  * State discipline follows `StreamingAgg`: the baseline is one
  * parquet row per OBSERVED bin (at most 65 rows — bounded by the
  * long domain, not by data volume), swap-committed at registration;
  * screening never mutates it, so batches are idempotent by
  * construction and need no retry protocol.
  *
  * Scale shape per batch: one hash aggregate over the batch (65-ish
  * groups), a full_outer join against a <= 65-row state frame, one
  * broadcast one-row total, one final aggregate. The unbounded stream
  * never accumulates state.
  */
object StreamingDrift {

  private def logBin(v: Column): Column =
    when(v > 0, (length(bin(v.cast("long"))) - 1).cast("long"))
      .otherwise(lit(-1L))

  /** Build + commit the baseline histogram from a reference frame. */
  def registerBaseline(ref: DataFrame, valCol: String,
                       statePath: String): Unit =
    MergeableState.accept(ref.select(logBin(col(valCol)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).cast("long").as("cb")),
      statePath)

  /** Score one batch against the registered baseline: a single row
    * (n_rows, n_bins, psi). n_bins is the union-domain bin count the
    * smoothing ran over. An empty registered state scores against an
    * empty histogram (all-batch bins, cb = 0).
    */
  def screenBatch(batch: DataFrame, valCol: String,
                  statePath: String): DataFrame = {
    val spark = batch.sparkSession
    val cur = batch.select(logBin(col(valCol)).as("__bin"))
      .groupBy(col("__bin")).agg(count(lit(1)).cast("long").as("__ca"))
    val base = PathIO.readSwapState(spark, statePath, cur.toDF("bin", "cb").schema)
    val joined = base.join(cur, col("bin") <=> col("__bin"), "full_outer")
      .select(coalesce(col("bin"), col("__bin")).as("bin"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("__ca"), lit(0L)).as("ca"))
    val tot = joined.agg(sum(col("ca")).cast("long").as("na"),
      sum(col("cb")).cast("long").as("nb"),
      count(lit(1)).cast("long").as("nbins"))
    val pa = (col("ca") + 1L).cast("double") /
      (col("na") + col("nbins")).cast("double")
    val pb = (col("cb") + 1L).cast("double") /
      (col("nb") + col("nbins")).cast("double")
    val ratio = ((col("ca") + 1L) * (col("nb") + col("nbins"))).cast("double") /
      ((col("cb") + 1L) * (col("na") + col("nbins"))).cast("double")
    val contrib = (pa - pb) * log10(ratio)
    joined.crossJoin(broadcast(tot))
      .withColumn("__c",
        (floor(contrib * 1e6 + 0.5) / 1e6).cast("decimal(18,6)"))
      .agg(max(col("na")).as("n_rows"), max(col("nbins")).as("n_bins"),
        sum(col("__c")).cast("double").as("psi"))
  }
}
