package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming price-index monitor — q382's Laspeyres/Paasche/Fisher
  * card kept current as sales batches arrive: the state is the
  * per-(group, item, era) revenue/quantity cell table, merged
  * ADDITIVELY (both sums are plain DECIMAL additions), and the index
  * card derives from the state on demand. The live "are prices moving
  * or is the basket drifting" gauge for a revenue pipeline.
  *
  * Correctness rests on additivity exactly as `StreamingEss`: batch
  * partials come through the batch operator's own
  * `Pareto.priceCells` path (so the DECIMAL casts match to the
  * digit), and the card reads through the SAME
  * `Pareto.priceIndicesFromCells` closing — q386 shares q382's
  * oracle verbatim. Commit protocol is the shared `PathIO.writeSwap`
  * retry discipline.
  *
  * Scale shape per batch: one hash aggregate on (group, item, era),
  * one full-outer equi-join into the state; state is one row per
  * cell ever sold — the catalog × 2 eras, not the sales volume.
  */
object StreamingPriceIndex {

  /** Merge one batch's revenue/quantity cells into the state; returns
    * the post-merge cell table (grp, item, era, rev, qty). Caller
    * must materialize before committing (acceptBatch does).
    */
  def mergeBatch(batch: DataFrame, groupCol: String, itemCol: String,
                 eraCol: String, priceCol: String, qtyCol: String,
                 statePath: String): DataFrame = {
    val partial = graft.operators.Pareto
      .priceCells(batch, groupCol, itemCol, eraCol, priceCol, qtyCol)
      .select(col("__g").as("grp"), col("__i").as("item"),
        col("__e").as("era"), col("__rev").as("rev"), col("__qty").as("qty"))
    MergeableState.merge(partial, Seq("grp", "item", "era"),
      Seq("rev", "qty").map(_ -> Sum("decimal(38,2)")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge cell table.
    */
  def acceptBatch(batch: DataFrame, groupCol: String, itemCol: String,
                  eraCol: String, priceCol: String, qtyCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, groupCol, itemCol, eraCol,
      priceCol, qtyCol, statePath), statePath)

  /** The index card over the maintained state — q382's screen,
    * derived through the SAME `Pareto.priceIndicesFromCells` closing
    * the batch operator uses.
    */
  def indexView(state: DataFrame, groupCol: String): DataFrame =
    graft.operators.Pareto.priceIndicesFromCells(
      state.select(col("grp").as("__g"), col("item").as("__i"),
        col("era").as("__e"), col("rev").as("__rev"),
        col("qty").as("__qty")),
      groupCol)
}
