package graft.streaming

import graft.operators.Bootstrap
import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming Poisson-bootstrap monitor — q355's uncertainty card kept
  * current as rows arrive: each replicate's (n, Σx, Σw, Σw·x) sums
  * update additively per batch (the Poisson weights are a PURE
  * FUNCTION of the row key and replicate index, so a row contributes
  * the same weight whichever batch delivers it), and the SE/CI card
  * derives from the replicate table on demand. The live answer to
  * "how sure are we of the running mean" that a plain Welford stream
  * cannot give without distributional assumptions.
  *
  * Correctness: additivity as `StreamingEss`, with batch partials
  * computed through the batch operator's own fan
  * (`replicatePartials` delegates to the same explode + aggregate),
  * and the card reads through the SAME
  * `Bootstrap.poissonBootstrapFromReplicates` closing — q388 shares
  * q355's oracle verbatim. Commit protocol is the shared
  * `MergeableState` retry discipline.
  *
  * Scale shape per batch: the reps× fan collapses in one hash
  * aggregate; state is one row per (group, replicate).
  */
object StreamingBootstrap {

  /** Merge one batch's replicate sums into the state; returns the
    * post-merge per-(group, replicate) table (grp, b, n, sx, w, swx).
    * Caller must materialize before committing (acceptBatch does). The
    * batch partials come through the batch operator's exact fan path
    * ([[Bootstrap.poissonReplicateSums]] — the 5-uniforms-per-digest
    * scheme, shared so batch and stream can never diverge on a weight).
    */
  def mergeBatch(batch: DataFrame, groupCol: String, keyCol: String,
                 valCol: String, statePath: String, reps: Int = 32,
                 tag: String = "pb"): DataFrame = {
    val partial = Bootstrap.poissonReplicateSums(batch, groupCol, keyCol,
        valCol, reps, tag)
      .select(col(groupCol).as("grp"), col("b"), col("n_rows").as("n"),
        col("sx"), col("w"), col("__swx").as("swx"))
    MergeableState.merge(partial, Seq("grp", "b"),
      Seq("n" -> Sum("long"), "sx" -> Sum("decimal(38,2)"),
        "w" -> Sum("long"), "swx" -> Sum("decimal(38,2)")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge per-(group, replicate) table.
    */
  def acceptBatch(batch: DataFrame, groupCol: String, keyCol: String,
                  valCol: String, statePath: String, reps: Int = 32,
                  tag: String = "pb"): DataFrame =
    MergeableState.accept(mergeBatch(batch, groupCol, keyCol, valCol,
      statePath, reps, tag), statePath)

  /** The bootstrap card over the maintained state — q355's screen,
    * derived through the SAME
    * `Bootstrap.poissonBootstrapFromReplicates` closing the batch
    * operator uses.
    */
  def bootstrapView(state: DataFrame, groupCol: String): DataFrame =
    Bootstrap.poissonBootstrapFromReplicates(
      state.select(col("grp").as(groupCol), col("b"),
        col("n").as("n_rows"), col("sx"), col("w"),
        col("swx").as("__swx")),
      groupCol)
}
