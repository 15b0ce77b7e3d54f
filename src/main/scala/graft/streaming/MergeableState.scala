package graft.streaming

import graft.sources.PathIO
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The one merge-and-commit path of the additive streaming twins: a
  * state table keyed by `keys`, whose every other column folds a batch
  * partial in by one per-column monoid (`Sum`, `Max`, `Min`).
  *
  * Correctness rests on that monoid: the per-key merge is associative
  * and commutative, so the state equals the one-shot table under ANY
  * batch split — each twin's `Streaming*Spec` pins it for its columns.
  * The join is null-safe on every key (NULL keys form real groups, as
  * in the batch operators' groupBy). The state stores exactly
  * [[stateSchema]]: the keys with the partial's types, then each merged
  * column with its merge's output type — `Max` stores BIGINT whatever
  * integral type the partial carries — and is read with it.
  *
  * Commit protocol: every streaming state in this package — these
  * twins and the states whose merge is not a per-column monoid
  * (Budget's screen-then-spend, Curation/Dedup's append-only key
  * tables, Burstiness's boundary gap, Drift's registered baseline) —
  * commits through the one [[Step]] protocol below: a batch yields the
  * rows to emit plus the commit that persists the new state; [[accept]]
  * materializes (`localCheckpoint`) and commits, and [[sink]] — the one
  * `foreachBatch` — materializes, emits, and only then commits. A step
  * that is never committed leaves the state untouched, so a replayed
  * batch after a failed emit screens or merges against the same
  * pre-batch state and cannot double-count or drop its own rows.
  * (Components' bucket-wise fold writes its state itself; its step's
  * commit is empty, and a replay re-converges.)
  */
object MergeableState {

  /** How one value column folds the batch side `b` into the state side
    * `s` of a matched or one-sided key.
    */
  sealed trait Merge { def apply(s: Column, b: Column): Column }

  /** Missing side counts as zero; the sum is cast back to `dataType`
    * (a DECIMAL state keeps its scale across merges).
    */
  final case class Sum(dataType: String) extends Merge {
    def apply(s: Column, b: Column): Column =
      (coalesce(s, lit(0).cast(dataType)) + coalesce(b, lit(0).cast(dataType)))
        .cast(dataType)
  }

  /** Long maximum with a missing side as 0 (0/1 indicator state). */
  case object Max extends Merge {
    def apply(s: Column, b: Column): Column =
      greatest(coalesce(s, lit(0L)), coalesce(b, lit(0L)))
  }

  /** Minimum of the present sides (`least` skips NULLs). */
  case object Min extends Merge {
    def apply(s: Column, b: Column): Column = least(s, b)
  }

  /** Batch-side alias prefix inside the merge join. */
  private val prefix = "__ms_"

  /** Fold one batch's per-key `partial` (columns already named as in
    * the state) into the state at `statePath`; returns the post-merge
    * table (keys, then the merged columns in `merges` order). Pure:
    * nothing is written until `accept` or `sink` commits it.
    */
  def merge(partial: DataFrame, keys: Seq[String],
            merges: Seq[(String, Merge)], statePath: String): DataFrame = {
    val names = keys ++ merges.map(_._1)
    // Spark's analyzer is case-insensitive: compare lowercased
    val lower = names.map(_.toLowerCase)
    require(keys.nonEmpty && lower.distinct == lower &&
      !lower.exists(_.startsWith(prefix)),
      s"a state needs at least one key and distinct columns free of the " +
        s"'$prefix' prefix: keys $keys, columns $names")
    val p = partial.select(names.map(col): _*)
    val state = PathIO.readSwapState(partial.sparkSession, statePath,
      stateSchema(p, keys, merges))
    def b(c: String) = col(prefix + c)
    state.join(p.select(names.map(c => col(c).as(prefix + c)): _*),
        keys.map(k => col(k) <=> b(k)).reduce(_ && _), "full_outer")
      .select(keys.map(k => coalesce(col(k), b(k)).as(k)) ++
        merges.map { case (c, m) => m(col(c), b(c)).as(c) }: _*)
  }

  /** The schema a state merging `partial` stores (analysis only, no
    * job): `keys` with the partial's types, then each merged column
    * with its merge's output type.
    */
  private[streaming] def stateSchema(partial: DataFrame, keys: Seq[String],
                                     merges: Seq[(String, Merge)]): StructType =
    partial.select(keys.map(col) ++
      merges.map { case (c, m) => m(col(c), col(c)).as(c) }: _*).schema

  /** One batch's outcome: the `rows` to emit, and the `commit` that
    * persists the new state. `commit` receives the materialized rows
    * and runs only after they are materialized (and, in [[sink]],
    * emitted): frames that lazily read the pre-batch state must not be
    * re-evaluated after it. The default commit persists nothing.
    */
  final case class Step(rows: DataFrame, commit: DataFrame => Unit = _ => ())

  /** The swap-state step: the post-merge table is both the emitted
    * rows and the new state (`PathIO.writeSwap`).
    */
  def swap(merged: DataFrame, statePath: String): Step =
    Step(merged, PathIO.writeSwap(_, statePath))

  /** Materialize the step's rows, commit, and return the materialized
    * frame (which stays readable after the commit).
    */
  def accept(step: Step): DataFrame = {
    val out = step.rows.localCheckpoint(true)
    step.commit(out)
    out
  }

  /** Materialize `merged`, swap it in as the state, and return the
    * materialized frame.
    */
  def accept(merged: DataFrame, statePath: String): DataFrame =
    accept(swap(merged, statePath))

  /** Streaming sink: per micro-batch, take its step, hand the
    * materialized rows to `emit`, and commit only after `emit`
    * succeeds.
    */
  def sink(stream: DataFrame)(step: DataFrame => Step)
          (emit: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = step(batch)
        accept(Step(s.rows, out => { emit(out); s.commit(out) }))
        ()
      }
}
