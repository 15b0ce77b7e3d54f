package graft.streaming

import graft.operators.CurationPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full training-data curation pipeline as a STREAM filter: each
  * micro-batch runs the same stages, in the same cheapest-first order,
  * as the batch `CurationPipeline` —
  *
  *   1. quality gate   (identical predicate: `CurationPipeline.qualityGate`)
  *   2. language gate  (identical predicate: `languageGate`)
  *   3. decontamination vs the registered eval-set gram table
  *                     (inert until `registerEvalSet` ran; see below)
  *   4. exact dedup    vs everything ever accepted + intra-batch
  *   5. near dedup     vs everything ever accepted + intra-batch
  *                     (delegated to `StreamingDedup.screenBatch`)
  *
  * Near-dup policy: WITHIN a batch, `Config.transitiveNearDup` applies
  * exactly as in the batch pipeline (default true: candidate pairs ->
  * connected components -> min id per component survives, via the
  * shared `Dedup.nearDupLosers`) — so one batch screened from fresh
  * state equals `CurationPipeline.run` on the same rows. ACROSS batches
  * the screen is necessarily pairwise: a stream only ever sees new
  * edges against docs it already accepted, and accepted docs are never
  * retracted — a new doc colliding with ANY accepted doc's band is
  * dropped, so cross-batch component merges could never change an
  * accept/drop decision. A batch `CurationPipeline` run remains the
  * compaction pass for corpora that need full component-level collapse
  * across the accepted set.
  *
  * Cross-batch state follows the `StreamingDedup` design: persisted
  * parquet tables (content hashes; MinHash band keys), not a Spark
  * state store — restart-safe, queryable, joined per batch. At 100 TB
  * both tables are a few small values per ACCEPTED doc, orders of
  * magnitude smaller than the corpus, and the joins prune on their
  * hash keys.
  *
  * Retry safety: state tables are appended only AFTER the emit
  * succeeds (`MergeableState.sink`) — a failed batch is re-screened
  * identically on retry instead of colliding with its own keys and
  * being dropped forever.
  */
object StreamingCuration {

  private val evalGramSchema =
    new org.apache.spark.sql.types.StructType().add("gram", "string").add("n", "int")

  /** Driver-side cache of the collected eval-gram table, keyed by the
    * swap directory's committed file listing: re-collect ONLY when a
    * registerEvalSet swap changed the fingerprint. Safe under the
    * PathIO swap CONCURRENCY CONTRACT (one owner loop per statePath;
    * registration never overlaps a live batch), so a stale-read race
    * cannot occur — and even a hypothetical raced entry would self-heal
    * on the next batch's fingerprint check. The map is per-JVM and
    * holds one entry per active curation stream.
    *
    * The cached value is the BROADCAST hash set the native
    * `SharedShingleCount` filter probes (plus its size and the gram
    * width), so steady-state batches re-ship nothing: the executors
    * hold the fetched set until the fingerprint moves. A superseded
    * entry's broadcast is released to the ContextCleaner by dropping
    * the reference (never destroy()ed — a batch planned against the
    * old set may still be in flight).
    */
  private val gramCache = new java.util.concurrent.ConcurrentHashMap[
    String,
    (String, org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]], Int, Int)]()

  /** Observable for specs: number of actual state-table collects. */
  private[streaming] val gramStateReads = new java.util.concurrent.atomic.AtomicInteger(0)

  private def cachedEvalGrams(spark: org.apache.spark.sql.SparkSession,
                              path: String)
      : (org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]], Int, Int) = {
    graft.sources.PathIO.healSwap(spark, path)
    val fp = graft.sources.PathIO.dirFingerprint(spark, path)
    val hit = gramCache.get(path)
    if (hit != null && hit._1 == fp) (hit._2, hit._3, hit._4)
    else {
      gramStateReads.incrementAndGet()
      val rows = graft.sources.PathIO.readSwapState(spark, path, evalGramSchema).collect()
      val set = new java.util.HashSet[String](rows.length * 2)
      rows.foreach(r => set.add(r.getString(0)))
      val n = if (rows.isEmpty) 0 else rows(0).getInt(1)
      val bc = spark.sparkContext.broadcast(set)
      gramCache.put(path, (fp, bc, rows.length, n))
      (bc, rows.length, n)
    }
  }

  /** Register (or replace) the benchmark/eval set whose n-grams the
    * stream screens against: the eval texts' DISTINCT word `n`-grams
    * are persisted at `statePath/evalgrams` (via `PathIO.writeSwap` —
    * replacement is atomic, batches see old or new set, never a mix).
    * Every subsequent batch drops docs sharing >= `Config
    * .decontMinShared` grams with this table, so the streaming screen
    * decontaminates exactly like `Decontamination.filterContaminated`
    * does for batch corpora.
    *
    * The gram set is broadcast per batch, so it is guarded the same
    * way as `Decontamination.overlap` — and at REGISTRATION time, not
    * per batch: one bounded collect enforces `maxEvalGrams`, and the
    * collected set is written back out as the state table.
    */
  def registerEvalSet(evalSet: DataFrame, textCol: String,
                      statePath: String, n: Int,
                      maxEvalGrams: Int = 10000000): Unit = {
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
      s"eval set exceeds maxEvalGrams=$maxEvalGrams distinct n-grams; " +
        "the grams are broadcast to every batch — shrink the eval set " +
        "or raise maxEvalGrams only if the driver can hold them")
    graft.sources.PathIO.writeSwap(
      grams.toSeq.map((_, n)).toDF("gram", "n"), s"$statePath/evalgrams")
  }

  /** Screen one batch through all five stages. Pure — persists nothing.
    *
    * `idCol` contract: non-null, unique per row (it is the corpus'
    * primary key everywhere this runs). The non-null half is ENFORCED:
    * the keep-first window orders ascending with nulls FIRST, so a
    * null-id doc would silently win its hash group — instead a null id
    * among the gated docs fails the batch, checked inside the hash
    * projection (no extra pass).
    *
    * @return the step: accepted rows, and the commit that appends
    *         their content hashes, then their band keys, to the state
    *         tables
    */
  def screenBatch(batch: DataFrame, textCol: String, idCol: String,
                  statePath: String,
                  cfg: CurationPipeline.Config = CurationPipeline.Config())
      : MergeableState.Step = {
    val spark = batch.sparkSession
    val qlGated = batch
      .filter(CurationPipeline.qualityGate(textCol, cfg))
      .filter(CurationPipeline.languageGate(textCol, cfg))

    // ---- decontamination vs the registered eval-gram table -------------
    // before any dedup state is touched: a contaminated doc must never
    // enter the accepted hash/band tables. The gram table is swap-
    // managed, so an eval-set replacement between batches is atomic.
    // ZERO state reads per batch in steady state: the table only
    // changes when registerEvalSet swaps it, so the collected gram set
    // is cached on the driver keyed by the swap directory's committed
    // file listing and re-collected only when that fingerprint moves —
    // at the 10M-gram guard a per-batch collect would be hundreds of
    // MB of driver strings + GC for a table that almost never changes.
    // The screen itself is the native per-row SharedShingleCount probe
    // against the cached BROADCAST set — same distinct-gram-overlap
    // count as the old explode → broadcast-join → per-doc aggregate →
    // anti-join chain (see Decontamination), with the Generate, the
    // Exchange and both joins gone: the batch never leaves its scan
    // projection for this stage.
    val (evalGramBc, evalGramCount, evalGramN) =
      cachedEvalGrams(spark, s"$statePath/evalgrams")
    val gated = if (evalGramCount == 0) qlGated else {
      import graft.expressions.GraftFunctions.sharedShingleCount
      qlGated.filter(
        sharedShingleCount(col(textCol), evalGramN, evalGramBc) <
          lit(cfg.decontMinShared.toLong))
    }

    // ---- exact dedup: content hash vs accepted corpus + intra-batch ----
    // md5(lower(...)) — the SAME normalization as the batch pipeline
    // (Dedup.dropExactDups) and the shared q46/q64 oracle; hashing the
    // raw text would let case-insensitively-equal short docs (too few
    // tokens for MinHash band keys to rescue) slip past both the
    // intra-batch keep-first and the persisted cross-batch state table
    val hashed = gated.withColumn("__h", coalesce(
      assert_true(col(idCol).isNotNull,
        lit(s"StreamingCuration: null $idCol — the id column must be non-null")),
      md5(lower(col(textCol)))))
    val knownHashes = graft.sources.PathIO.readSwapState(
      spark, s"$statePath/exact", hashed.select(col("__h")).schema)
    // checkpoint: this subtree (gates + hash anti-join + keep-first) is
    // read by THREE consumers — the band-key materialization, the
    // accepted anti-join, and the hash commit — and would re-run per
    // consumer otherwise (the same one-pass discipline as the batch
    // pipeline's persisted exact stage, minus the cache-leak hazard).
    // Keep-first is the row_number window over the hash — the SAME
    // formulation (and survivor policy) as the batch pipeline's
    // Dedup.dropExactDups. The earlier min-per-hash self-join shape
    // consumed `hashed` in TWO join branches, so the quality/LID gate
    // expressions and the md5 re-evaluated over every doc per branch
    // and the corpus crossed two exchanges; one window pass evaluates
    // the gates once and exchanges the batch once.
    val exact = hashed
      .join(knownHashes, Seq("__h"), "left_anti")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__h")).orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .localCheckpoint(true)

    // ---- near dedup: shared batch/stream band-key screen ----
    val near = StreamingDedup.screenBatch(
      exact.drop("__h"), textCol, idCol, s"$statePath/bands",
      cfg.minhashBands, cfg.minhashRowsPerBand, cfg.transitiveNearDup)

    // the commit's hashes are those of the materialized accepted rows
    MergeableState.Step(near.rows, out => {
      exact.join(out.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col("__h")).distinct()
        .write.mode("append").parquet(s"$statePath/exact")
      near.commit(out)
    })
  }

  /** Screen + commit in one call for batch callers. */
  def acceptBatch(batch: DataFrame, textCol: String, idCol: String,
                  statePath: String,
                  cfg: CurationPipeline.Config = CurationPipeline.Config()): DataFrame =
    MergeableState.accept(screenBatch(batch, textCol, idCol, statePath, cfg))
}
