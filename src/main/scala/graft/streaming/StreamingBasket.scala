package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming market-basket pair counts — the live co-purchase support
  * table kept current across micro-batches. The maintained state is
  * the (item_a, item_b, n_ab) pair-count table, bounded by the
  * observed pair vocabulary (itself bounded by baskets × the
  * per-basket pair cap — the same contract as `Basket.pairAffinity`),
  * never by stream volume.
  *
  * Correctness rests on additivity under ONE contract: each basket
  * arrives WHOLE in a single batch (closed orders / completed carts —
  * the natural CDC boundary). Then per-batch pair counts merge
  * associatively-commutatively and the state equals the one-shot
  * batch pair table under any batch split (`StreamingBasketSpec` pins
  * it); a basket split across batches would under-count its
  * cross-batch pairs, so the contract is the operator's whole
  * correctness story and is require()-free by design — the CALLER's
  * batching defines basket closure.
  *
  * Commit protocol is the shared `MergeableState` retry discipline:
  * merge → materialize → commit, so a replayed batch after a failed
  * sink cannot double-count. Scale shape per batch: the bounded
  * per-basket pair expansion plus one (item_a, item_b) full-outer
  * merge join against the state — an equi-join AQE skew-splits if one
  * pair is hot.
  */
object StreamingBasket {

  /** Merge one batch's basket pair counts into the state; returns the
    * post-merge pair table (item_a, item_b, n_ab). Caller must
    * materialize before committing (acceptBatch does). NULL basket or
    * item rows are dropped (a NULL basket key would weld all keyless
    * rows into one phantom basket — see Basket.pairAffinity).
    */
  def mergeBatch(batch: DataFrame, basketCol: String, itemCol: String,
                 statePath: String): DataFrame = {
    val partial = batch
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
      .groupBy(col("__b"))
      .agg(array_sort(collect_set(col("__i"))).as("__ids"))
      .filter(size(col("__ids")) > 1)
      .select(explode(graft.expressions.GraftFunctions.pairCombos(col("__ids"))).as("p"))
      .groupBy(col("p.id_a").as("item_a"), col("p.id_b").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    MergeableState.merge(partial, Seq("item_a", "item_b"),
      Seq("n_ab" -> Sum("long")), statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge pair table.
    */
  def acceptBatch(batch: DataFrame, basketCol: String, itemCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, basketCol, itemCol, statePath),
      statePath)
}
