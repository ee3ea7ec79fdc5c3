package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Monitor

/** Continuous ingest-volume monitoring — [[graft.ops.Monitor]] run
  * against a live stream. The day-grain count table is ADDITIVE, so
  * unlike the shard manifest (derived state, recomputed from the full
  * corpus each batch) the monitor never re-touches history: each
  * micro-batch writes its own (event_type, day, n) deltas under its
  * batch-id partition — overwrite of one's own partition plus the
  * applied-marker sidecar gives the [[StreamIndex]] exactly-once
  * guarantee — and the current counts are a GROUP BY sum over the
  * delta partitions. Per-batch cost is O(batch + calendar), never
  * O(history); the anomaly screen itself runs over the calendar-sized
  * rollup, so refreshing it per batch is constant work at any stream
  * age. A compaction cadence can fold delta partitions exactly like
  * the fp store's — counts are sums either way.
  */
object MonitorStream {

  /** Apply one micro-batch of raw events: collapse to day-grain
    * deltas, land them under the batch-id partition (idempotent
    * overwrite), advance the marker. A batch id at or below the
    * marker no-ops — re-delivery after a crash re-runs to the
    * identical store. */
  def applyMonitorBatch(spark: SparkSession, workDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    if (batchId <= StreamAggregator.lastApplied(spark, workDir)) return
    // encoding-tolerant day derivation: a NANOS-vintage events source
    // arrives with ts as LongType raw nanos (the Tables.events dual-
    // encoding contract the batch twin supports) — without this branch
    // the stream-equals-batch claim held only for micros sources
    val day = batch.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        to_date(timestamp_micros(expr("ts div 1000")))
      case _ => to_date(col("ts"))
    }
    batch.groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite")
      .parquet(s"$workDir/daily/batch=$batchId")
    StreamAggregator.markApplied(spark, workDir, batchId)
  }

  /** Current day-grain counts: sum of the delta partitions. */
  def currentDaily(spark: SparkSession, workDir: String): DataFrame =
    spark.read.parquet(s"$workDir/daily")
      .groupBy("event_type", "day")
      .agg(sum("n").as("n"))

  /** The anomaly screen over the accumulated counts — identical
    * semantics to the batch [[Monitor.volumeAnomaly]] over the same
    * events (proven in StreamingSpec). */
  def currentAnomalies(spark: SparkSession, workDir: String,
      zThreshold: Double = 3.0): DataFrame =
    Monitor.volumeAnomalyFor(currentDaily(spark, workDir), zThreshold)

  /** Drive the monitor over every file currently in `srcDir`,
    * one micro-batch per file, resuming from the checkpoint. The
    * given `schema` must match the on-disk ts encoding (pass
    * `Schemas.eventsOnDisk` for a NANOS vintage — detected the
    * [[StreamAggregator.eventsStream]] way via
    * [[graft.core.Tables.eventsTsIsNanos]] — and
    * `Schemas.eventsOnDiskMicros` otherwise); [[applyMonitorBatch]]
    * handles either ts type. */
  def runMonitor(spark: SparkSession, srcDir: String,
      schema: StructType, workDir: String): Unit =
    StreamAggregator.drainBatches(
        StreamAggregator.filePerBatch(spark, srcDir, schema),
        s"$workDir/ckpt") { (batch, id) =>
      applyMonitorBatch(batch.sparkSession, workDir, batch, id)
    }
}
