package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ops.Corpus

/** The INCREMENTAL form of `q_training_shards` — continuous ingest
  * composed with governance + quality + shuffle + pack, the
  * steady-state shape of a training-data pipeline that keeps shipping
  * shards while new crawl batches arrive.
  *
  * Division of labor between the incremental and recomputed parts is
  * deliberate:
  *  - The EXACT-DEDUP STORE is the truly incremental state
  *    ([[Ingest]]: bucketed fp history, anti-join per micro-batch,
  *    checkpoint-resumable) — history never rescans, only the new
  *    batch shuffles.
  *  - The SHARD MANIFEST is recomputed over the accumulated survivor
  *    corpus after each batch (the complete-mode discipline of the
  *    reference's streaming aggregate, applied to a derived
  *    artifact). Shards CANNOT be incremental by construction: a
  *    shard's id is a global prefix sum over the seeded-shuffle key
  *    order, and a new document with a key below existing ones shifts
  *    every later boundary. Recomputing is the honest semantics; at
  *    100 TB you run the recompute on a cadence (or over the frozen
  *    corpus at cut time), while the ingest+dedup side stays
  *    per-batch. The recompute reads the ingested corpus — already
  *    deduped, a fraction of the raw stream — and everything
  *    downstream of it is the plain [[Corpus.trainingShards]] plan
  *    (survivor semi-joins, slim prefix-sum shuffle, one text
  *    re-attach).
  *
  * Work layout under `workDir`: `documents.parquet` (the accumulated
  * survivor corpus — named so the whole dir-based operator surface,
  * `Tables.documents` included, works directly on the ingested
  * corpus), `fp_store` (bucketed dedup history), `ckpt` (stream
  * checkpoint), `shards.parquet` (the current manifest: shard_id,
  * n_docs, shard_tokens, payload).
  *
  * Stream ≡ batch is proven in StreamingSpec: replaying the corpus in
  * id-ordered file batches yields byte-identical shards to the
  * one-shot batch run (arrival order = id order makes first-arrival
  * dedup ≡ min-id dedup, the [[Ingest]] convention); re-running with
  * no new files is a checkpoint no-op that leaves the manifest
  * unchanged. */
object StreamShards {

  /** Drive ingest over every file currently in `srcDir` (resuming
    * from the checkpoint), then refresh the shard manifest after each
    * micro-batch. One micro-batch per file, as in [[Ingest.runIngest]],
    * so cross-batch dedup is exercised. `chunked = true` swaps the
    * manifest recompute to [[Corpus.trainingShardsChunked]] — the
    * boilerplate-removing chunk-grain pipeline — with identical
    * streaming semantics (the manifest is derived state either way). */
  def runIngestShards(spark: SparkSession, srcDir: String,
      schema: StructType, workDir: String, seed: Int = 0,
      budget: Long = 4096L, storeBuckets: Int = 0,
      chunked: Boolean = false, manifestEvery: Int = 1): Unit = {
    require(manifestEvery >= 1,
      s"manifestEvery must be >= 1, got $manifestEvery")
    val corpusDir = s"$workDir/documents.parquet"
    val storeDir = s"$workDir/fp_store"
    var sawBatch = false
    def refreshManifest(s: SparkSession): Unit =
      (if (chunked) Corpus.trainingShardsChunked(s, workDir, seed, budget)
       else Corpus.trainingShards(s, workDir, seed, budget))
        .write.mode("overwrite").parquet(s"$workDir/shards.parquet")
    StreamAggregator.drainBatches(
        StreamAggregator.filePerBatch(spark, srcDir, schema),
        s"$workDir/ckpt") { (batch, id) =>
      val s = batch.sparkSession
      sawBatch = true
      // exactly-once corpus + store update (stage → fp append →
      // atomic commit rename; see Ingest.applyIngestBatch) — a
      // re-delivered batch can no longer double-append survivors
      // into the corpus the manifest packs
      Ingest.applyIngestBatch(s, batch, id, corpusDir, storeDir,
        storeBuckets)
      // derived state, always recomputable — safe to refresh last
      // (a crash before this write just leaves the previous
      // manifest, which the next refresh supersedes). manifestEvery
      // is the backlog-catchup knob: the recompute is a full-corpus
      // pass, so refreshing after EVERY batch of an N-file backlog
      // does N passes of which only the last survives — refresh on
      // the cadence, plus unconditionally after the stream drains
      if (manifestEvery == 1 || id % manifestEvery == manifestEvery - 1)
        refreshManifest(s)
    }
    // the drain-time refresh makes the final manifest current no
    // matter where the cadence landed (and covers an all-no-op resume
    // only when batches actually ran — an empty resume leaves the
    // previous manifest untouched)
    if (sawBatch && manifestEvery > 1) refreshManifest(spark)
  }

  /** The current shard manifest (shard_id, n_docs, shard_tokens,
    * payload) — what a training loader reads between refreshes. */
  def currentShards(spark: SparkSession, workDir: String): DataFrame =
    spark.read.parquet(s"$workDir/shards.parquet")
}
