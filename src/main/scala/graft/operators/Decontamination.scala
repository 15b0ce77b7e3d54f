package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag training documents that share word
  * n-grams with an evaluation/benchmark set, the standard screen run
  * before a corpus feeds a training job (an eval example leaking into
  * the training set inflates the benchmark). The canonical method is
  * n-gram overlap (GPT-3 used 13-gram dedup against its eval sets;
  * Gopher/PaLM used similar window overlap).
  *
  * Shape: the eval side's distinct n-grams — being benchmark-sized,
  * orders of magnitude smaller than the corpus — are collected once
  * (bounded by `maxEvalGrams`) and BROADCAST as an in-memory hash set;
  * the corpus side then counts each doc's distinct grams against that
  * set INSIDE its scan projection via the native `SharedShingleCount`
  * expression: one tokenize pass and one set probe per window, per
  * row. The earlier relational form exploded one row per (doc,
  * distinct gram), probed a broadcast hash relation per gram row,
  * hash-aggregated the matches back to doc grain across an Exchange,
  * and anti-joined survivors back onto the corpus — the 100-TB corpus
  * now never leaves its scan, and nothing shuffles at all.
  *
  * Doc identity: ids are per-row here (the corpus' primary key). The
  * old aggregate POOLED gram counts across rows sharing an id and kept
  * null-id rows unconditionally (a null key never matches an
  * anti-join); with unique non-null ids — every caller's contract —
  * the two forms are output-identical.
  */
object Decontamination {

  /** One bounded driver-side collect of the eval set's distinct
    * n-grams, handed back as a broadcast hash set. The grams land on
    * the driver either way (that is what a broadcast build does), so
    * the `maxEvalGrams` guard and the broadcast share ONE eval-side
    * scan: collect at most cap+1 grams (early-stop limit), fail if the
    * cap is exceeded.
    */
  private def broadcastEvalGrams(evalSet: DataFrame, textCol: String,
                                 n: Int, maxEvalGrams: Int)
      : Broadcast[java.util.HashSet[String]] = {
    import graft.expressions.GraftFunctions.distinctWordShingles
    val spark = evalSet.sparkSession
    import spark.implicits._
    val grams = evalSet
      .select(explode(distinctWordShingles(col(textCol), n)).as("gram"))
      .distinct()
      .limit(maxEvalGrams + 1)
      .as[String]
      .collect()
    require(grams.length <= maxEvalGrams,
      s"decontamination eval set exceeds maxEvalGrams=$maxEvalGrams " +
        "distinct n-grams; the eval grams are broadcast — shrink the eval " +
        "set or raise maxEvalGrams only if the driver can hold them")
    val set = new java.util.HashSet[String](grams.length * 2)
    grams.foreach(set.add)
    spark.sparkContext.broadcast(set)
  }

  /** Per-document overlap counts: (id, n_shared) for every corpus doc
    * sharing at least one distinct word n-gram with `evalSet` —
    * `n_shared` counts the distinct grams of the doc that appear
    * anywhere in the eval set. Clean docs are absent (filter semantics:
    * anti-join callers can subtract).
    *
    * `n` is deliberately required: published practice is 13-word
    * windows (GPT-3), but short-document corpora need a smaller window
    * with a correspondingly higher `minShared` — a silent default here
    * decides that trade-off for the caller.
    */
  def overlap(corpus: DataFrame, evalSet: DataFrame, textCol: String,
              idCol: String, n: Int,
              maxEvalGrams: Int = 10000000): DataFrame = {
    import graft.expressions.GraftFunctions.sharedShingleCount
    val bc = broadcastEvalGrams(evalSet, textCol, n, maxEvalGrams)
    corpus
      .select(col(idCol),
        sharedShingleCount(col(textCol), n, bc).as("n_shared"))
      .filter(col("n_shared") >= 1L)
  }

  /** The corpus with contaminated docs removed (docs sharing >=
    * `minShared` distinct n-grams with the eval set) — one native
    * per-row filter over the corpus scan, no join.
    *
    * `n` is required (see `overlap`): with GPT-3-style 13-word windows
    * ONE shared window is already damning, but small `n` needs a
    * correspondingly high `minShared` — common trigrams ("one of the")
    * occur in virtually all natural text, so n=3 with minShared=1 would
    * silently drop most of a real corpus.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, textCol: String,
                    idCol: String, n: Int, minShared: Int = 1,
                    maxEvalGrams: Int = 10000000): DataFrame = {
    import graft.expressions.GraftFunctions.sharedShingleCount
    val bc = broadcastEvalGrams(evalSet, textCol, n, maxEvalGrams)
    corpus.filter(
      sharedShingleCount(col(textCol), n, bc) < lit(minShared.toLong))
  }

  /** The report from the benchmark's side: for every eval example, how
    * much of it leaked into the corpus — (eval_id, n_grams,
    * n_contaminated, contamination_rate). This is what decides whether
    * a benchmark number is still trustworthy after training (report a
    * benchmark's contaminated examples and score the clean split
    * separately — GPT-3 appendix C practice).
    *
    * Scale shape: the corpus side emits ONLY its grams that match the
    * broadcast eval gram set (the native `SharedShingleMatches` array,
    * exploded), so both the Generate fan and the shuffle into the
    * distinct aggregation are benchmark-bounded no matter how big the
    * corpus — the earlier chain generated one row per (doc, distinct
    * gram) and dropped the misses in a broadcast join AFTER paying for
    * the rows. The matched-gram set then re-joins the broadcast
    * (eval_id, gram) pairs to attribute hits per example.
    *
    * Eval examples with fewer than `n` tokens have no `n`-grams and no
    * row here (nothing measurable leaked); callers joining back to the
    * eval table should treat absence as rate 0 with n_grams 0.
    */
  def evalContamination(corpus: DataFrame, evalSet: DataFrame,
                        textCol: String, idCol: String, n: Int,
                        maxEvalGrams: Int = 10000000): DataFrame = {
    import graft.expressions.GraftFunctions.{distinctWordShingles, sharedShingleMatches}
    val spark = corpus.sparkSession
    // collected as generic Rows: the eval id keeps whatever type the
    // caller's idCol has (benchmark names and UUIDs are as common as
    // numeric ids), same contract as overlap/decontaminate
    val pairsFrame = evalSet
      .select(col(idCol).as("eval_id"),
        explode(distinctWordShingles(col(textCol), n)).as("gram"))
    val evalPairs = pairsFrame.limit(maxEvalGrams + 1).collect()
    require(evalPairs.length <= maxEvalGrams,
      s"eval set exceeds maxEvalGrams=$maxEvalGrams (eval_id, gram) " +
        "pairs; the pairs are broadcast — shrink the eval set or raise " +
        "maxEvalGrams only if the driver can hold them")
    val pairsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(evalPairs.toSeq, 1), pairsFrame.schema)
    val gramSet = new java.util.HashSet[String](evalPairs.length * 2)
    evalPairs.foreach(r => gramSet.add(r.get(1).asInstanceOf[String]))
    val bc = spark.sparkContext.broadcast(gramSet)
    val hits = corpus
      .select(explode(sharedShingleMatches(col(textCol), n, bc)).as("gram"))
      .distinct()
    pairsDf
      .join(hits.withColumn("__hit", lit(1)), Seq("gram"), "left")
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      // unrounded on purpose: query layers own presentation rounding
      // (functions.Rounding.pround — engine round() functions disagree
      // one ulp from .5 boundaries across engines)
      .withColumn("contamination_rate",
        col("n_contaminated").cast("double") / col("n_grams"))
  }
}
