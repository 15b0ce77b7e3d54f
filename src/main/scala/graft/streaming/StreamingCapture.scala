package graft.streaming

import graft.streaming.MergeableState.Max
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming capture–recapture monitor — q366's population estimate
  * kept current as observation batches arrive: the state is the
  * per-(group, key) capture-indicator pair, merged by MAX (a key once
  * seen in window A stays seen), and the Chapman card derives from the
  * state on demand. The live "how much of the universe have we
  * crawled" gauge: the estimate converging toward n1 ∪ n2 means the
  * captures have saturated the population.
  *
  * Correctness rests on max-merge idempotence: indicators are 0/1 and
  * max is associative, commutative, AND idempotent, so any batch
  * split — including a replayed batch after a failed sink — lands the
  * state equal to the one-shot indicator table
  * (`StreamingCaptureSpec` pins both). The card reads through the
  * SAME `Profile.chapmanFromIndicators` closing the batch operator
  * uses — q373 shares q366's oracle verbatim. Commit protocol is the
  * shared `MergeableState` retry discipline.
  *
  * Scale shape per batch: one hash aggregate on (group, key), one
  * full-outer equi-join into the state; state is one row per
  * (group, key) ever captured — the same footprint class as the
  * streaming k-anonymity key table.
  */
object StreamingCapture {

  /** Merge one batch's capture indicators into the state; returns the
    * post-merge per-(group, key) table (grp, key, ia, ib). Caller
    * must materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, groupCol: String, keyCol: String,
                 inACol: String, inBCol: String,
                 statePath: String): DataFrame = {
    val partial = batch
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(keyCol).as("key"))
      .agg(max(col(inACol).cast("long")).as("ia"),
        max(col(inBCol).cast("long")).as("ib"))
    MergeableState.merge(partial, Seq("grp", "key"),
      Seq("ia" -> Max, "ib" -> Max), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-(group, key) indicator table.
    */
  def acceptBatch(batch: DataFrame, groupCol: String, keyCol: String,
                  inACol: String, inBCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, groupCol, keyCol, inACol,
      inBCol, statePath), statePath)

  /** The Chapman card over the maintained state — q366's estimate,
    * derived through the SAME `Profile.chapmanFromIndicators` closing
    * the batch operator uses.
    */
  def captureView(state: DataFrame, groupCol: String): DataFrame =
    graft.operators.Profile.chapmanFromIndicators(
      state.select(col("grp").as(groupCol), col("ia").as("__a"),
        col("ib").as("__b")),
      groupCol)
}
