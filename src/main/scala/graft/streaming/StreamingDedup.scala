package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-duplicate filtering for a document STREAM: each
  * micro-batch is deduplicated against everything ever accepted, using
  * the same MinHash band keys as the batch operator — the streaming form
  * of the training-data ingest filter ("only keep documents not
  * near-duplicating the corpus so far").
  *
  * State is NOT a Spark state store: band keys of accepted docs live in
  * a persisted parquet table (like the reference's current_* dims,
  * reference D3), so it survives restarts, is queryable, and is joined
  * per batch with a broadcast-or-shuffle anti-join. At 100 TB the band
  * table is ~bands rows per doc of a few longs — orders of magnitude
  * smaller than the corpus — and the anti-join prunes on the band hash.
  *
  * Within a batch, near-dups resolve TRANSITIVELY by default: candidate
  * pairs among the batch's docs form a graph and one doc (the min id)
  * survives per connected component — the same keep policy, computed by
  * the same `Dedup.nearDupLosers`, as the batch `CurationPipeline`, so
  * one batch screened from fresh state equals the batch pipeline
  * exactly. `transitive = false` falls back to min-id-per-bucket.
  * ACROSS batches the screen is necessarily pairwise — a stream only
  * ever sees new edges against docs it already accepted, and accepted
  * docs are never retracted; a new doc colliding with ANY accepted
  * doc's band is dropped, so cross-batch component merges could never
  * change an accept/drop decision anyway. A batch `CurationPipeline`
  * run is the compaction pass for corpora that need full
  * component-level collapse across the accepted set.
  */
object StreamingDedup {

  /** Screen one batch against the persisted band table AND against
    * itself (intra-batch near-dups: min id per connected candidate
    * component wins; per colliding bucket with `transitive = false`).
    * Pure — nothing is persisted.
    *
    * @return the step: accepted rows of `batch`, and the commit that
    *         appends their band keys to the band table. The commit
    *         runs only AFTER the rows are emitted (`MergeableState.sink`):
    *         if the emit throws and the engine retries the batch, the
    *         documents are not yet in the band table and are re-screened
    *         identically instead of colliding with their own keys and
    *         being dropped forever.
    */
  def screenBatch(batch: DataFrame, textCol: String, idCol: String,
                  bandTablePath: String,
                  bands: Int = 3, rowsPerBand: Int = 2,
                  transitive: Boolean = true): MergeableState.Step = {
    val spark = batch.sparkSession
    // same band-key definition as the batch operator — shared code path
    val keys = Dedup.minhashBandKeys(
        Dedup.minhashSignatures(batch, textCol, idCol, bands * rowsPerBand),
        bands, rowsPerBand)
      .localCheckpoint(true)

    // absent table = legitimately empty state; real read errors propagate
    // (a swallowed transient error would re-accept known near-dups)
    val known = graft.sources.PathIO.readSwapState(spark, bandTablePath, keys.schema)

    // reject: collides with the accepted corpus...
    val hitsCorpus = keys.join(known, Seq("band_key"), "left_semi")
      .select(col("doc")).distinct()
    // ...or loses the intra-batch resolution: transitively (candidate
    // pairs -> connected components -> min id per component survives,
    // identical to the batch pipeline's keep policy) or greedily (min
    // id per colliding bucket)
    val hitsBatch =
      if (transitive)
        Dedup.nearDupLosers(
          Dedup.pairsInBuckets(keys, "doc", "band_key"), "doc",
          transitive = true)
      else {
        val minPerBucket = keys.groupBy("band_key").agg(min(col("doc")).as("min_doc"))
        keys.join(minPerBucket, Seq("band_key"))
          .filter(col("doc") > col("min_doc"))
          .select(col("doc")).distinct()
      }

    val rejected = hitsCorpus.unionByName(hitsBatch).distinct()
      .withColumnRenamed("doc", "__rejected")
    val accepted = batch.join(rejected,
      batch(idCol) === col("__rejected"), "left_anti")
    val acceptedKeys = keys.join(rejected, col("doc") === col("__rejected"), "left_anti")
    MergeableState.Step(accepted,
      _ => acceptedKeys.write.mode("append").parquet(bandTablePath))
  }

  /** Screen + commit in one call, for batch callers that own the
    * failure handling themselves.
    */
  def acceptBatch(batch: DataFrame, textCol: String, idCol: String,
                  bandTablePath: String,
                  bands: Int = 3, rowsPerBand: Int = 2,
                  transitive: Boolean = true): DataFrame =
    MergeableState.accept(
      screenBatch(batch, textCol, idCol, bandTablePath, bands, rowsPerBand, transitive))
}
