package graft.streaming

import graft.functions.VectorFns
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-duplicate filtering for an embedding STREAM — the
  * vector-space counterpart of `StreamingDedup`: each micro-batch's
  * vectors are screened against everything ever accepted via
  * sign-random-projection band keys (the q26-verified banding), with
  * the same persisted-parquet state table, the same intra-batch
  * transitive min-id keep policy, and the same retry-safe commit
  * ordering.
  *
  * Doctrine (identical to the text screen): ACROSS batches any band
  * collision with an accepted vector drops the newcomer — conservative
  * pairwise screening, no cosine re-verification against the corpus
  * (which would need accepted VECTORS in state, not just band keys;
  * the band-key table stays `bands` longs per accepted vector at
  * 100 TB). WITHIN a batch candidates resolve transitively by min id,
  * so one batch from fresh state equals `Dedup.embeddingNearDups`' +
  * components on the same rows with cosine verification disabled
  * (`minCosine = -1`).
  *
  * SIZE `planesPerBand` TO THE CORPUS: the band space holds 2^bits
  * labels, so expected occupancy is n/2^bits and the intra-batch pair
  * enumeration stays linear in n exactly when bits ≈ ceil(log2(n)) —
  * a fixed width saturates past n ≈ 2^bits, turning the enumeration
  * quadratic AND collapsing the screen into rejecting ~everything
  * (every vector collides). Measured at the sf10 probe: 8-bit bands
  * OOM at any heap and accept 2 of 200k vectors; 18-bit bands finish
  * in 14.8 s at the default heap. BandOccupancySpec pins the math and
  * PERF.md round 15 the measurements. The probe main that took them
  * was deleted, unused, by the commit that split `SparkEntry` into the
  * `graft.queries` families; that commit's parent still holds it.
  */
object StreamingEmbedDedup {

  /** The corpus-sized band width: ceil(log2(n)) bits per band, floored
    * at 8 (the pre-round-15 contract width) and capped at the 63-bit
    * key limit. THE one definition — the round-15 sf10 probe and
    * deployments size from here, so the measured sf10 row and the
    * shipped sizing can never drift apart.
    */
  def planesPerBandFor(n: Long): Int = {
    require(n > 0, s"corpus size must be positive, got $n")
    math.min(63, math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))))
  }

  /** Screen one batch. Pure — persists nothing.
    * @return the step: accepted rows, and the commit that appends their
    *         band keys to the band table
    */
  def screenBatch(batch: DataFrame, vecCol: String, idCol: String,
                  bandTablePath: String,
                  bands: Int = 4, planesPerBand: Int = 16,
                  dims: Int = 64): MergeableState.Step = {
    val spark = batch.sparkSession
    val keys = batch
      .select(col(idCol).as("doc"),
        explode(VectorFns.srpBandKeysFast(col(vecCol), bands, planesPerBand, dims))
          .as("band_key"))
      .localCheckpoint(true)

    val known = graft.sources.PathIO.readSwapState(spark, bandTablePath, keys.schema)

    val hitsCorpus = keys.join(known, Seq("band_key"), "left_semi")
      .select(col("doc")).distinct()
    val hitsBatch = Dedup.nearDupLosers(
      Dedup.pairsInBuckets(keys, "doc", "band_key"), "doc",
      transitive = true)

    val rejected = hitsCorpus.unionByName(hitsBatch).distinct()
      .withColumnRenamed("doc", "__rejected")
    val accepted = batch.join(rejected,
      batch(idCol) === col("__rejected"), "left_anti")
    val acceptedKeys = keys.join(rejected,
      col("doc") === col("__rejected"), "left_anti")
    MergeableState.Step(accepted,
      _ => acceptedKeys.write.mode("append").parquet(bandTablePath))
  }

  /** Screen + commit in one call (batch callers own failure handling). */
  def acceptBatch(batch: DataFrame, vecCol: String, idCol: String,
                  bandTablePath: String,
                  bands: Int = 4, planesPerBand: Int = 16,
                  dims: Int = 64): DataFrame =
    MergeableState.accept(
      screenBatch(batch, vecCol, idCol, bandTablePath, bands, planesPerBand, dims))
}
