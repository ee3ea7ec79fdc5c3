package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Dirs
import graft.ops.Terms

/** Continuous BM25 indexing — the incremental form of
  * `Terms.buildBm25Index`, composed the way [[StreamShards]] composes
  * the dedup store: a document stream drives one
  * [[Terms.appendToBm25Index]] per micro-batch, so the searchable
  * index trails the corpus by one trigger without ever re-reading
  * history. Because the index's per-term df is DERIVED (not stored)
  * and its corpus stats update additively, the streamed index answers
  * probes bit-identically to a one-shot batch build — proven in
  * StreamingSpec, the `q_stream_agg` stream ≡ batch discipline
  * applied to a persisted search artifact.
  *
  * Exactly-once: Structured Streaming may re-deliver the last
  * COMPLETED batch after a restart (the checkpoint records offsets
  * before `foreachBatch` returns). Idempotency is BY LAYOUT, not by
  * marker: every write of `Terms.appendToBm25Index` targets the
  * batch's own partition with dynamic overwrite, so re-applying an id
  * REPLACES its earlier (possibly torn) contribution — a crash at ANY
  * point inside the apply, marker included, re-runs to the identical
  * index. The `applied` sidecar (1 row: the last applied batch id,
  * written after the apply) is a skip OPTIMIZATION for the common
  * no-crash re-delivery — and the one ordering that matters for it:
  * compaction (which folds batch partitions together) runs only AFTER
  * the marker, so a batch that compaction folded can never re-apply. */
object StreamIndex {

  import StreamAggregator.{lastApplied, markApplied}

  /** Apply one micro-batch of (doc_id, text) documents to the index
    * at `indexPath`: the first batch builds (overwrite — naturally
    * idempotent), later batches append under their batch id (see
    * class doc); a batch id at or below the applied marker no-ops. */
  def applyBm25Batch(spark: SparkSession, indexPath: String,
      batch: DataFrame, batchId: Long, nBuckets: Int = 64): Unit = {
    if (batchId <= lastApplied(spark, indexPath)) return
    // Hadoop FS (Dirs), not java.nio: on hdfs:// or s3a:// a local
    // existence check is always false, which would rebuild in overwrite
    // mode every batch, replacing the index with just the current batch
    if (!Dirs.exists(spark, s"$indexPath/stats"))
      Terms.buildBm25IndexFor(batch, indexPath, nBuckets)
    else Terms.appendToBm25Index(spark, indexPath, batch, batchId)
    markApplied(spark, indexPath, batchId)
  }

  /** Apply one CDC micro-batch — (doc_id, text, op) rows where `op`
    * is `add` or `delete` — to the index at `indexPath`: adds append
    * under batch id `2·batchId`, deletes tombstone under `2·batchId+1`
    * ([[Terms.deleteFromBm25Index]]). The doubling keeps the two
    * halves of one micro-batch in DISJOINT batch partitions (each
    * sub-table partition belongs to exactly one writer), so the
    * whole CDC batch inherits the replace-on-re-delivery guarantee:
    * a crash at any point re-runs both halves to the identical
    * index. Deletes apply AFTER adds, so a stream that retires
    * yesterday's documents while adding today's converges to the net
    * corpus — the takedown path running continuously instead of as
    * an out-of-band job. Contract (CDC): one doc_id carries at most
    * one op per micro-batch. */
  def applyBm25Cdc(spark: SparkSession, indexPath: String,
      batch: DataFrame, batchId: Long, nBuckets: Int = 64): Unit = {
    if (batchId <= lastApplied(spark, indexPath)) return
    val adds = batch.where(col("op") === "add").select("doc_id", "text")
    val dels = batch.where(col("op") === "delete").select("doc_id")
    if (!Dirs.exists(spark, s"$indexPath/stats"))
      Terms.buildBm25IndexFor(adds, indexPath, nBuckets)
    else Terms.appendToBm25Index(spark, indexPath, adds, 2L * batchId)
    // content-deterministic skip: a delete-free batch writes no
    // tombstone partition and no empty stats delta (re-delivery
    // recomputes the same emptiness, so the skip is exactly-once too)
    if (!dels.isEmpty)
      Terms.deleteFromBm25Index(spark, indexPath, dels, 2L * batchId + 1L)
    markApplied(spark, indexPath, batchId)
  }

  /** Drive CDC indexing over every file currently in `srcDir` — the
    * [[runIngestBm25]] loop over an (doc_id, text, op) stream with
    * [[applyBm25Cdc]] as the batch body, compaction folding
    * tombstones physically on the same cadence. */
  def runIngestBm25Cdc(spark: SparkSession, srcDir: String,
      schema: StructType, workDir: String, nBuckets: Int = 64,
      compactEvery: Int = 0): Unit = {
    val indexPath = s"$workDir/bm25index"
    StreamAggregator.drainBatches(
        StreamAggregator.filePerBatch(spark, srcDir, schema),
        s"$workDir/ckpt") { (batch, id) =>
      val s = batch.sparkSession
      applyBm25Cdc(s, indexPath,
        batch.select("doc_id", "text", "op"), id, nBuckets)
      if (compactEvery > 0 && id % compactEvery == (compactEvery - 1))
        Terms.compactBm25Index(s, indexPath)
    }
  }

  /** Drive indexing over every file currently in `srcDir` (resuming
    * from the checkpoint), one micro-batch per file so the
    * append path is exercised across batches. The index lands under
    * `workDir/bm25index`. `compactEvery` > 0 folds the accumulated
    * per-batch posting files back to one file per bucket every N
    * batches INSIDE the stream (after the batch's applied marker —
    * see class doc), so a long-running ingest holds file count flat
    * instead of deferring maintenance to an out-of-band job; probes
    * are bit-identical across the fold (spec-asserted mid-stream). */
  def runIngestBm25(spark: SparkSession, srcDir: String,
      schema: StructType, workDir: String, nBuckets: Int = 64,
      compactEvery: Int = 0): Unit = {
    val indexPath = s"$workDir/bm25index"
    StreamAggregator.drainBatches(
        StreamAggregator.filePerBatch(spark, srcDir, schema),
        s"$workDir/ckpt") { (batch, id) =>
      val s = batch.sparkSession
      applyBm25Batch(s, indexPath, batch.select("doc_id", "text"),
        id, nBuckets)
      if (compactEvery > 0 && id % compactEvery == (compactEvery - 1))
        Terms.compactBm25Index(s, indexPath)
    }
  }
}
