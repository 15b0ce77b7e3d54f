package graft.streaming

import graft.streaming.MergeableState.Sum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming k-anonymity monitor — the live release-risk gate kept
  * current across micro-batches: as rows arrive, the equivalence-class
  * size table updates additively and the k-anonymity histogram (q226's
  * batch card) is derived from it on demand. The gate naturally
  * DEGRADES as data arrives — each batch can mint fresh sub-k classes
  * (new rare quasi-identifier combinations) — which is exactly why a
  * hand-off audit computed once at export time is not enough: the
  * monitor answers "is this table still releasable NOW".
  *
  * Correctness rests on additivity exactly as `StreamingTopK`: class
  * COUNT partials merge associatively-commutatively on the
  * quasi-identifier tuple, so the state equals the one-shot class-size
  * table under ANY batch split (`StreamingKAnonymitySpec` pins it) and
  * the derived histogram therefore equals `Audit.kAnonymity` of the
  * concatenated batches. NULL quasi values form real equivalence
  * classes (groupBy keeps them; the merge join is null-safe) — the
  * batch operator's view. Commit protocol is the shared
  * `MergeableState` retry discipline: merge → materialize → commit,
  * so a replayed batch after a failed sink cannot double-count.
  *
  * Scale shape per batch: one hash aggregate on the quasi tuple
  * (batch-sized) full-outer-merged into the state on the tuple — an
  * equi-join AQE skew-splits if one class is hot. State size is
  * bounded by #equivalence classes (the quasi vocabulary), never by
  * stream volume; the histogram read is the q173 counts-of-counts
  * aggregate over the already-reduced state.
  */
object StreamingKAnonymity {

  /** Merge one batch's class counts into the state; returns the
    * post-merge class-size table (quasiCols..., n). Caller must
    * materialize before committing (acceptBatch does). The merge
    * rejects an empty, repeated or `n`-named (any case) quasi column.
    */
  def mergeBatch(batch: DataFrame, quasiCols: Seq[String],
                 statePath: String): DataFrame = {
    val partial = batch
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    MergeableState.merge(partial, quasiCols, Seq("n" -> Sum("long")),
      statePath)
  }

  /** Merge + commit for batch callers; returns the materialized
    * post-merge class-size table.
    */
  def acceptBatch(batch: DataFrame, quasiCols: Seq[String],
                  statePath: String): DataFrame =
    MergeableState.accept(mergeBatch(batch, quasiCols, statePath), statePath)

  /** The k-anonymity release card over the maintained state — q226's
    * histogram (class_size, n_classes, n_rows, violates_k), derived
    * on demand so the gate reflects everything merged so far.
    */
  def kAnonymityView(classSizes: DataFrame, k: Long): DataFrame = {
    require(k >= 2L, s"k must be >= 2, got $k")
    graft.operators.Audit.kAnonymityHistogram(classSizes, "n", k)
  }
}
