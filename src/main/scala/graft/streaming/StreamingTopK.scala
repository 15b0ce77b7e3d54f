package graft.streaming

import graft.functions.TextFns
import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming exact top-k terms per group — the live "what is trending
  * per source" card kept current across micro-batches WITHOUT
  * approximate sketches: the maintained state is the full (group,
  * term) count table (bounded by VOCABULARY, not stream volume — the
  * sub-linear growth a term table has by Heaps' law), and the top-k
  * view is derived from it on demand, so ranks can both rise and fall
  * as counts accrue — the property windowed approximations lose.
  *
  * Correctness rests on additivity exactly as `StreamingAgg`: COUNT
  * partials merge associatively-commutatively, so the state equals
  * the one-shot batch count table under ANY batch split
  * (`StreamingTopKSpec` pins it), and the derived top-k therefore
  * equals q134-family batch answers. Commit protocol is the shared
  * `MergeableState` retry discipline: merge → materialize → sink →
  * commit, so a replayed batch after a failed sink cannot
  * double-count.
  *
  * Scale shape: per batch one tokenize+count aggregate (batch-sized)
  * full-outer-merged into the state on (group, term) — an equi-join
  * AQE skew-splits if one term is hot; the top-k read is a
  * rank-limited window per group (WindowGroupLimit prunes per
  * partition before any full sort).
  */
object StreamingTopK {

  /** Merge one batch's term counts into the state; returns the
    * post-merge count table (grp, term, n). Caller must materialize
    * before committing (`MergeableState.accept`/`sink` do).
    */
  def mergeBatch(batch: DataFrame, textCol: String, groupCol: String,
                 statePath: String): DataFrame = {
    val partial = batch
      .select(col(groupCol).as("grp"),
        explode(TextFns.tokens(col(textCol))).as("term"))
      .groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("n"))
    MergeableState.merge(partial, Seq("grp", "term"), Seq("n" -> Sum("long")),
      statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge count table.
    */
  def acceptBatch(batch: DataFrame, textCol: String, groupCol: String,
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, textCol, groupCol, statePath),
      statePath)

  /** Exact top-k view of a count table: k best terms per group under
    * the total (n desc, term) order — rank-limited window, so the
    * optimizer runs it as WindowGroupLimit.
    */
  def topK(counts: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = Window.partitionBy(col("grp")).orderBy(col("n").desc, col("term"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("grp"), col("rk").cast("long").as("rk"),
        col("term"), col("n"))
  }
}
