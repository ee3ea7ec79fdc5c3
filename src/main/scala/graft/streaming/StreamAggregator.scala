package graft.streaming

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructType}

import graft.core.{Schemas, Session}
import graft.ops.Scratch

/** The reference's streaming core, Spark-first.
  *
  * Reference (Mamba369x/M13_SparkStreaming_PYTHON_AZURE,
  * `notebooks/stream.ipynb:111-148 (cells 1-2)`): Auto Loader file stream →
  * `groupBy(city, wthr_date).agg(approx_count_distinct(id), avg, max, min)`
  * → complete-mode memory sink named `result_df_query`, then batch SQL over
  * the sink table. Databricks `cloudFiles` is proprietary; the OSS
  * equivalent is Spark's built-in `FileStreamSource` with an explicit
  * schema, which has the same new-file discovery semantics
  * (SURVEY.md §1.3). The reference never sets a checkpoint location; here
  * it is always explicit — required for exactly-once file tracking on a
  * real cluster.
  *
  * Scale notes (100 TB design):
  *  - State is keyed by (event_type, day): cardinality = #types × #days,
  *    independent of row count, so unbounded-state complete mode is safe
  *    for this key shape (the reference's 4,324 keys; ours similar). For
  *    high-cardinality keys use [[windowedAggStream]] with a watermark so
  *    state is evicted.
  *  - The memory sink is a driver-bound convenience mirror of the
  *    reference; [[runToParquet]] is the production path (foreachBatch →
  *    partitioned parquet), which scales to any result size.
  *  - `maxFilesPerTrigger` paces micro-batches exactly like the
  *    reference's 1-day-per-second producer drip.
  */
object StreamAggregator {

  /** Streaming-legal deterministic sum (see Relational.exactSum). */
  private def exactSum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType)

  /** Read the events table as a file stream with the declared schema —
    * S2 in SURVEY §2.1. Streams never infer schemas, so the on-disk
    * `ts` encoding (INT64 nanos vs native micros TIMESTAMP — writers
    * differ) is detected with ONE batch footer read up front, then the
    * matching declared schema is handed to the stream. Either way the
    * output carries the same (ts_ns, ts) pair as the batch loader so
    * stream and batch plans stay column-compatible. */
  def eventsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val nanos = graft.core.Tables.eventsTsIsNanos(spark, path)
    val reader = spark.readStream
      .format("parquet")
      .schema(if (nanos) Schemas.eventsOnDisk else Schemas.eventsOnDiskMicros)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.load(path)
    if (nanos)
      raw.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    else
      raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
  }

  /** Stream over an [[IncrementalProducer]] replay directory: files
    * there already carry a proper micros `ts` plus `ts_ns` and
    * `processed_date`, so no conversion is needed — only the explicit
    * schema (streams never infer). */
  def replayStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      Schemas.events.fields :+
        org.apache.spark.sql.types.StructField("processed_date",
          org.apache.spark.sql.types.TimestampType))
    val reader = spark.readStream.format("parquet").schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.load(path)
  }

  /** A1-A5 on a stream, faithful form: HLL++ distinct (rsd 0.05, the
    * reference default visible at `notebooks/stream.ipynb:105`) + avg,
    * max, min per (event_type, day). `count_distinct` is not streamable;
    * `approx_count_distinct` is — which is exactly why the reference
    * uses it. */
  def dailyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        approx_count_distinct(col("user_id")).as("distinct_users"),
        avg(col("value")).as("avg_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))

  /** Oracle-exact streaming aggregate: everything here is exact and
    * order/arrival-independent, so the streamed result hash-matches the
    * batch SQL oracle — the reference's core invariant (stream over any
    * file arrival order == batch over the union, SURVEY §5.4). */
  def dailyAggExact(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        exactSum(col("value"), 2).as("sum_value"),
        (exactSum(col("value"), 2) / count(col("value"))).as("avg_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"),
        count(lit(1)).as("n_events"))

  /** K1, the one place a complete-mode memory sink starts: the sink is
    * named like the reference's `result_df_query`
    * (`notebooks/stream.ipynb:145-148 (cell 2)`) and registers a table
    * of that name. The checkpoint is explicit (the reference omits it —
    * SURVEY §2.9 flags that as a rebuild fix) and lives in a per-call
    * scratch directory, deleted at JVM exit. Starts under
    * [[withStreamShuffle]]: a complete-mode sink is always stateful. */
  def startMemorySink(spark: SparkSession, agg: DataFrame, name: String,
      trigger: Trigger): StreamingQuery =
    withStreamShuffle(spark) {
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", Scratch.dir(s"graft-ckpt-$name"))
        .trigger(trigger)
        .start()
    }

  /** [[startMemorySink]] run to completion with Trigger.AvailableNow for
    * determinism, returning the result table. */
  def runToMemoryTable(spark: SparkSession, agg: DataFrame,
      queryName: String): DataFrame = {
    startMemorySink(spark, agg, queryName, Trigger.AvailableNow())
      .awaitTermination()
    spark.table(queryName)
  }

  /** The one foreachBatch runner: runs `stream` to the end of its
    * current input (Trigger.AvailableNow, resuming from `checkpoint`),
    * handing each micro-batch and its id to `body`, and returns when it
    * has drained. The plan picks only the output mode: a streaming
    * aggregate emits its whole state each batch (complete mode), any
    * other stream appends. Every stream starts at the session's own
    * width with Spark's default checkpoint manager, never under
    * [[withStreamShuffle]]: `body` runs in the stream's cloned session,
    * so one shuffle partition there would serialize every batch's own
    * shuffles, and the one aggregate here ([[runToParquet]]) has no
    * measured workload that would justify fixing its state at width 1. */
  def drainBatches(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): Unit = {
    val aggregate = stream.queryExecution.analyzed.exists {
      case a: Aggregate => a.isStreaming
      case _ => false
    }
    stream.writeStream
      .outputMode(if (aggregate) OutputMode.Complete() else OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** A file stream over `srcDir` that takes one file per micro-batch,
    * the source of every per-file [[drainBatches]] caller. */
  private[streaming] def filePerBatch(spark: SparkSession, srcDir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)

  /** The exactly-once marker of a foreachBatch store at `dir`: the last
    * applied batch id, -1 when none was applied. A batch id at or below
    * it no-ops, so a re-delivered batch re-runs to the identical store.
    * Absent marker = fresh store; anything ELSE (corrupt footer,
    * permissions) rethrows — a swallowed read error would silently
    * report -1 and disable the exactly-once no-op guard. */
  private[streaming] def lastApplied(spark: SparkSession,
      dir: String): Long = {
    val p = s"$dir/applied"
    if (!graft.core.Dirs.exists(spark, p)) -1L
    else spark.read.parquet(p).head().getLong(0)
  }

  /** Advance the marker [[lastApplied]] reads; write it last. */
  private[streaming] def markApplied(spark: SparkSession, dir: String,
      batchId: Long): Unit =
    spark.range(1).select(lit(batchId).as("last_batch"))
      .write.mode("overwrite").parquet(s"$dir/applied")

  /** The settings every stateful stream here starts under; wrap only
    * the query's `start()` in it. Structured Streaming clones the session
    * conf when a query is constructed and fixes it for the query's
    * lifetime, so both settings reach the stream while the caller's conf
    * is put back exactly when `start()` returns (see
    * [[graft.core.Session.withConf]]). What the settings buy is per-batch
    * fixed cost: on the replay's day drops (~5 updated (event_type, day)
    * rows per batch) the trigger, not the aggregation, is the latency.
    *
    *  - ONE state store (`spark.sql.shuffle.partitions` = 1). The
    *    aggregate's keys are bounded (#types × #days, ~150 groups), and a
    *    stateful aggregate pins its state-partition count at the query's
    *    first batch. Every state partition costs a task plus its own
    *    delta and checksum files per batch, and each stateful task
    *    generates code for the HLL++ `HashAggregate` projections that
    *    whole-stage codegen does not cover, however few rows it holds:
    *    in a Java Flight Recorder profile of a 30-day replay at
    *    `local[4]`, projection code generation took 134 of 184 task-thread
    *    samples with four state partitions and 21 of 64 with one. A
    *    checkpoint written at another width keeps that width on restart.
    *  - Rename-only checkpoint commits, for LOCAL checkpoints only (the
    *    session's `fs.defaultFS` has scheme `file`, as in every session
    *    `Session.build` makes): Spark's `FileSystemBasedCheckpointFileManager`
    *    instead of the default `FileContext` one. Without libhadoop,
    *    Hadoop's `RawLocalFileSystem` shells out for file operations and
    *    the `FileContext.rename` path runs `readlink` for source and
    *    destination of every committed file and its `.crc`. In the same
    *    replay (JFR `jdk.ProcessStart`) the offset, commit and source
    *    logs spawned 30 subprocesses per day with the default manager
    *    and 6 with this one, and the state files of each state partition
    *    20 and 4. The no-overwrite guarantee is the same: on a local
    *    filesystem `AbstractFileSystem.renameInternal` is also an exists
    *    check followed by a rename, not an atomic operation. Hadoop
    *    `.crc` files and Spark's checkpoint checksums stay on. Any other
    *    default filesystem keeps Spark's default manager. The check reads
    *    the session's default filesystem, not the checkpoint path: callers
    *    must pass checkpoint locations on that default filesystem (every
    *    caller here passes a local directory).
    *
    * Results do not depend on either setting (exact, order-independent
    * aggregates — the module's invariant). */
  def withStreamShuffle[T](spark: SparkSession)(body: => T): T = {
    val local = FileSystem.getDefaultUri(spark.sessionState.newHadoopConf())
      .getScheme == "file"
    val manager =
      if (local) Seq("spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName)
      else Nil
    Session.withConf(spark,
      ("spark.sql.shuffle.partitions" -> "1") +: manager: _*)(body)
  }

  /** Production-path sink: foreachBatch → overwrite parquet. The memory
    * sink caps at driver RAM; this scales to any aggregate size and is
    * the documented 100 TB alternative (SURVEY §7 hard-point c). */
  def runToParquet(spark: SparkSession, agg: DataFrame, outPath: String,
      checkpointDir: String): Unit =
    drainBatches(agg, checkpointDir) { (batch, _) =>
      batch.write.mode("overwrite").parquet(outPath)
    }

  /** Production sink #2: foreachBatch → DYNAMIC partition overwrite,
    * for sources whose delivery unit IS a partition (the producer drops
    * one complete day per file — `upload.py`'s re-upload semantics).
    * Each micro-batch rewrites exactly the day partitions it contains
    * (partitionOverwriteMode=dynamic): a re-delivered day REPLACES its
    * partition instead of double-appending, untouched days are never
    * rewritten, and resuming from the checkpoint reprocesses only new
    * files — idempotent day-level reprocessing, the parquet-only
    * equivalent of a Delta replaceWhere, and the right shape for an
    * append-mostly 100 TB event table. Requires: batches align with
    * whole partitions (here: one file = one day); a partial-day batch
    * would drop the rest of that day's partition. */
  def runToPartitionedParquet(spark: SparkSession, rows: DataFrame,
      outPath: String, checkpointDir: String, partitionCol: String): Unit =
    drainBatches(rows, checkpointDir) { (batch, _) =>
      // per-WRITE option, never the session conf: a session-level
      // dynamic default would silently change every later static-
      // overwrite partitioned write in the session (e.g. an index
      // rebuild that depends on replacing ALL partitions)
      batch.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(outPath)
    }

  /** Event-time windowed aggregate with watermark — the
    * production-hardening extension the reference lacks (SURVEY §2.9:
    * no watermark ⇒ unbounded state). One-hour tumbling windows, state
    * evicted once the watermark passes; append mode emits each window
    * exactly once. */
  def windowedAggStream(events: DataFrame, watermark: String = "1 hour",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("distinct_users"),
        max(col("value")).as("max_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("distinct_users"),
        col("max_value"))

  /** Streaming exactly-once event dedup: drops re-delivered event_ids
    * while only keeping state for ids within the watermark horizon —
    * the bounded-state form of `dropDuplicates` (which would grow state
    * forever). The producer's overwrite-redelivery semantics
    * (`upload.py:74`, re-uploaded partitions) make this the missing
    * correctness guard for at-least-once file sources. */
  def dedupedStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** End-to-end oracle query: stream sfDir's events through the exact
    * aggregate into a memory sink, return the final table. Registered in
    * SparkEntry as `q_stream_agg`; its oracle is plain batch SQL — the
    * hash-match proves streaming == batch. */
  def streamAggQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"stream_agg_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    // FileStreamSource requires a directory or glob, not a bare file —
    // the {…} glob keeps the base path at sfDir while matching only the
    // events table.
    val events = eventsStream(spark, s"$sfDir/{events.parquet}")
    runToMemoryTable(spark, dailyAggExact(events), name)
  }

  val streamAggSql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
      |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(value) AS avg_value,
      |       MAX(value) AS max_value, MIN(value) AS min_value,
      |       COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin
}
