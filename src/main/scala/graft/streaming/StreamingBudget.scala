package graft.streaming

import graft.operators.Sampling
import graft.sources.PathIO
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-batch per-group TOKEN budgets over a document stream — the
  * incremental counterpart of `Sampling.tokenBudgetSample`: a
  * continuously-ingested corpus must stop admitting a domain's
  * documents once the domain's token budget is spent, without ever
  * seeing the corpus at once.
  *
  * State is one parquet row per group: tokens spent by everything
  * accepted so far — the smallest state table in this engine (a long
  * per domain). Per batch, rows are screened in content-stable hash
  * order WITHIN the batch against each group's remaining budget;
  * ACROSS batches admission is ingest-order (first batch to arrive
  * spends first), which is the only order an unbounded stream can
  * offer. A one-shot `tokenBudgetSample` over the full corpus remains
  * the compaction pass when global hash-order fairness matters.
  *
  * Within a batch the running sum is a plain per-group window, not the
  * batch operator's two-level bucketed form: a micro-batch is minutes
  * of ingest, bounded by the trigger, so a group's batch slice is
  * small by construction — the skew argument that drives the bucketed
  * batch form does not apply at batch granularity.
  *
  * Retry safety is `MergeableState`'s step protocol: the totals are
  * committed only AFTER the emit succeeds, so a replayed batch
  * re-screens identically against the unchanged totals. Durability is
  * `PathIO.writeSwap` (move aside, rename in, checked renames) with
  * the healing `readSwapState` on the read side — a crash at any
  * point leaves the previous totals recoverable, never a silently
  * empty state that would re-open exhausted domains.
  */
object StreamingBudget {

  /** Screen one batch; pure — persists nothing. The step's rows are
    * the accepted rows; its commit swaps in the updated per-group
    * totals. Both lazily read the current state files, so the rows must
    * be materialized BEFORE the commit — after the swap they would
    * silently re-screen against totals that already include this
    * batch's spend and return fewer rows. `MergeableState.accept` and
    * `MergeableState.sink` do this. `PathIO.writeSwap` keeps the
    * previous totals recoverable at every instant; the paired
    * `readSwapState` heals an interrupted swap on the next read.
    */
  def screenBatch(batch: DataFrame, keyCol: String, groupCol: String,
                  tokensCol: Column, budget: Long,
                  statePath: String): MergeableState.Step = {
    require(budget > 0, s"token budget must be positive: $budget")
    val reserved = Set("spent", "__grp", "__tok", "__before", "__g", "__add")
    val clash = batch.columns.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"batch columns collide with StreamingBudget bookkeeping names " +
        s"(same guard discipline as AsOfJoin): $clash")
    val spark = batch.sparkSession
    val spent = PathIO.readSwapState(spark, statePath,
        batch.select(col(groupCol), lit(0L).as("spent")).schema)
      .withColumnRenamed(groupCol, "__grp")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(Sampling.saltedOrderKey("budget", col(keyCol)), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val screened = batch
      .withColumn("__tok", tokensCol.cast("long"))
      .join(spent, col(groupCol) <=> col("__grp"), "left")
      .withColumn("__before",
        coalesce(col("spent"), lit(0L)) +
          coalesce(sum(col("__tok")).over(w), lit(0L)))
      .filter(col("__before") < budget)
    val accepted = screened.select(batch.columns.map(col).toSeq: _*)
    // new totals = old totals merged with the batch's accepted sums;
    // groups untouched by the batch carry their row forward (the state
    // file is rewritten whole — it is one long per domain)
    val batchSpent = screened
      .groupBy(col(groupCol).as("__g"))
      .agg(sum(col("__tok")).as("__add"))
    val newSpent = spent
      .join(batchSpent, col("__grp") <=> col("__g"), "full_outer")
      .select(
        coalesce(col("__grp"), col("__g")).as(groupCol),
        (coalesce(col("spent"), lit(0L)) + coalesce(col("__add"), lit(0L)))
          .as("spent"))
    MergeableState.Step(accepted, _ => PathIO.writeSwap(newSpent, statePath))
  }

  /** Screen + commit in one call for batch callers. */
  def acceptBatch(batch: DataFrame, keyCol: String, groupCol: String,
                  tokensCol: Column, budget: Long,
                  statePath: String): DataFrame =
    MergeableState.accept(
      screenBatch(batch, keyCol, groupCol, tokensCol, budget, statePath))
}
