package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Session, Tables}
import graft.streaming.{IncrementalProducer, StreamAggregator}

class StreamingSpec extends AnyFunSuite with SharedSpark {

  test("streamed exact agg equals batch agg (arrival-order independence)") {
    val streamed = StreamAggregator.streamAggQuery(spark, sf)
    val batch = StreamAggregator.dailyAggExact(Tables.events(spark, sf))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("incremental day-by-day replay == batch over union (SURVEY §5.4)") {
    val target = tempDir("graft-replay")
    // drop the first 3 days only, then stream what's there
    val days = IncrementalProducer.eventDays(spark, sf).take(3)
    days.foreach { d =>
      IncrementalProducer.dropDay(spark, sf, target, d,
        new java.sql.Timestamp(0L))
    }
    val streamed = StreamAggregator.runToMemoryTable(spark,
      StreamAggregator.dailyAggExact(
        StreamAggregator.replayStream(spark, s"$target/day=*",
          maxFilesPerTrigger = Some(1))),
      "replay_3days")
    val batch = StreamAggregator.dailyAggExact(
      Tables.events(spark, sf)
        .where(to_date(col("ts")).cast("string").isin(days: _*)))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
  }

  test("producer replay writes every source row exactly once") {
    val target = tempDir("graft-replay-full")
    val n = IncrementalProducer.replay(spark, sf, target)
    assert(n === Tables.events(spark, sf).count())
    val back = IncrementalProducer.readBack(spark, target)
    assert(back.count() === n)
    assert(back.columns.contains("processed_date"))
  }

  test("always-on stream: ProcessingTime trigger, concurrent producer, " +
    "live SQL over the running sink (reference cells 1-3 steady state)") {
    // The reference stream runs unbounded with a default trigger and is
    // queried WHILE running (stream.ipynb cells 2-3); every other test
    // uses AvailableNow. Here: ProcessingTime trigger + a producer
    // dropping days concurrently on this thread + cell-3-shaped SQL
    // executed against the live memory table mid-stream.
    val target = tempDir("graft-soak")
    val t0 = new java.sql.Timestamp(0L)
    val days = IncrementalProducer.eventDays(spark, sf)
    IncrementalProducer.dropDay(spark, sf, target, days.head, t0)
    val agg = StreamAggregator.dailyAggExact(
      StreamAggregator.replayStream(spark, s"$target/day=*"))
    val q = agg.writeStream
      .outputMode("complete").format("memory").queryName("soak_agg")
      .option("checkpointLocation",
        tempDir("graft-soak-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .start()
    try {
      val cell3 =
        """SELECT event_type, day, n_events FROM (
          |  SELECT *, ROW_NUMBER() OVER (
          |    PARTITION BY event_type ORDER BY n_events DESC, day DESC) rn
          |  FROM soak_agg) WHERE rn = 1
          |ORDER BY n_events DESC LIMIT 10""".stripMargin
      var liveReads = 0
      days.tail.foreach { d =>
        IncrementalProducer.dropDay(spark, sf, target, d, t0)
        // live query against the complete-mode sink while the stream
        // keeps triggering — must never error, may lag the producer
        val topNow = spark.sql(cell3).collect()
        if (topNow.nonEmpty) liveReads += 1
      }
      assert(liveReads > 0, "sink never readable mid-stream")
      q.processAllAvailable()
      // steady-state health: multiple real triggers fired, none stalled
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      assert(progress.size >= 3,
        s"expected several non-empty micro-batches, got ${progress.size}")
      val batch = StreamAggregator.dailyAggExact(Tables.events(spark, sf))
        .withColumn("day", col("day").cast("string"))
      val streamed = spark.table("soak_agg")
        .withColumn("day", col("day").cast("string"))
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("stream state width is fixed at start(): 1 state partition " +
    "while the caller session keeps its own width") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val target = tempDir("graft-width")
    val t0 = new java.sql.Timestamp(0L)
    val days = IncrementalProducer.eventDays(s, sf)
    IncrementalProducer.dropDay(s, sf, target, days.head, t0)
    val before = s.conf.getAll
    val q = StreamAggregator.withStreamShuffle(s) {
      replayAggQuery(s, target, "width_agg",
        tempDir("graft-width-ckpt"),
        StreamAggregator.dailyAgg)
    }
    try {
      assert(s.conf.getAll === before)
      IncrementalProducer.dropDay(s, sf, target, days(1), t0)
      q.processAllAvailable()
      assert(q.isActive)
      assert(q.lastProgress.stateOperators(0).numShufflePartitions === 1)
      assert(s.conf.get("spark.sql.shuffle.partitions") === "16")
      // the manager the stream's own (cloned) session builds for its
      // local checkpoint, exactly as its offset and commit logs do
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      val manager = CheckpointFileManager.create(
        new Path(exec.resolvedCheckpointRoot),
        exec.lastExecution.sparkSession.sessionState.newHadoopConf())
      assert(manager.isInstanceOf[FileSystemBasedCheckpointFileManager],
        manager.getClass.getName)
    } finally q.stop()
  }

  test("runToMemoryTable runs q_stream_agg's state at 1 partition and " +
    "leaves the session conf unchanged") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var terminated = false
    // progress and termination arrive in order on one listener bus, so
    // once the terminated event is seen every progress event has been
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => widths.add(o.numShufflePartitions))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated = true
    }
    s.streams.addListener(listener)
    try {
      // q_stream_agg's composition (streamAggQuery); the snapshot comes
      // after the source is built, which sets its reader conf on a
      // NANOS events vintage
      val agg = StreamAggregator.dailyAggExact(
        StreamAggregator.eventsStream(s, s"$sf/{events.parquet}"))
      val before = s.conf.getAll
      assert(StreamAggregator.runToMemoryTable(s, agg, "width_run")
        .count() > 0)
      assert(s.conf.getAll === before)
      eventually(timeout(30.seconds)) { assert(terminated) }
    } finally s.streams.removeListener(listener)
    assert(!widths.isEmpty)
    widths.forEach(w => assert(w === 1L))
  }

  test("dropDay leaves the caller's session conf unchanged and still " +
    "writes INT64 micros timestamps") {
    val s = spark.newSession()
    val target = tempDir("graft-drop-conf")
    // eventDays loads events first, which sets its reader conf on a
    // NANOS events vintage (Tables.eventsTsIsNanos)
    val day = IncrementalProducer.eventDays(s, sf).head
    val before = s.conf.getAll
    IncrementalProducer.dropDay(s, sf, target, day,
      new java.sql.Timestamp(0L))
    assert(s.conf.getAll === before)
    val part = new java.io.File(s"$target/day=$day").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(part.getPath), s.sessionState.newHadoopConf()))
    val schema = try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    val ts = schema.getType(schema.getFieldIndex("ts"))
    assert(ts.asPrimitiveType.getPrimitiveTypeName.toString === "INT64")
  }

  test("replay stream restarted from its checkpoint under a new name " +
    "equals batch dailyAggExact over all days") {
    val s = spark.newSession()
    val width = restartedReplay(s) { (target, ckpt) =>
      StreamAggregator.withStreamShuffle(s) {
        replayAggQuery(s, target, "restart_a", ckpt)
      }
    }
    assert(width === 1)
  }

  test("a checkpoint written at width 8 under the default checkpoint " +
    "manager restarts through withStreamShuffle at width 8, exactly") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    // the settings streams started under before: min(8, session
    // width) state partitions and Spark's default checkpoint manager
    val width = restartedReplay(s) { (target, ckpt) =>
      Session.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        replayAggQuery(s, target, "legacy_a", ckpt)
      }
    }
    assert(width === 8)
  }

  /** `agg` (dailyAggExact unless given) over a replay dir into a live
    * complete-mode memory sink, triggered every 200 ms. */
  private def replayAggQuery(s: SparkSession, target: String, name: String,
      checkpoint: String,
      agg: DataFrame => DataFrame = StreamAggregator.dailyAggExact)
      : StreamingQuery =
    agg(StreamAggregator.replayStream(s, s"$target/day=*"))
      .writeStream.outputMode("complete").format("memory")
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()

  /** Drop two days, run the stream `first` starts to completion and
    * stop it; drop the remaining days, restart from the same checkpoint
    * through `withStreamShuffle` under a new query name, and assert its
    * complete-mode sink equals batch dailyAggExact over all days.
    * Returns the restarted query's state width. */
  private def restartedReplay(s: SparkSession)(
      first: (String, String) => StreamingQuery): Long = {
    val (early, late) = IncrementalProducer.eventDays(s, sf).splitAt(2)
    val target = tempDir("graft-restart")
    val ckpt = tempDir("graft-restart-ckpt")
    val t0 = new java.sql.Timestamp(0L)
    early.foreach(d => IncrementalProducer.dropDay(s, sf, target, d, t0))
    val q1 = first(target, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    late.foreach(d => IncrementalProducer.dropDay(s, sf, target, d, t0))
    val name = s"${q1.name}_restarted"
    val q2 = StreamAggregator.withStreamShuffle(s) {
      replayAggQuery(s, target, name, ckpt)
    }
    try {
      q2.processAllAvailable()
      val streamed = s.table(name)
      val batch = StreamAggregator.dailyAggExact(Tables.events(s, sf))
      assert(streamed.count() === batch.count())
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      q2.lastProgress.stateOperators(0).numShufflePartitions
    } finally q2.stop()
  }

  test("stream-stream range join equals batch join (bounded state)") {
    val stream = StreamAggregator.eventsStream(spark, s"$sf/{events.parquet}")
    val joined = graft.streaming.StreamJoin.flaggedFollowups(stream)
    assert(joined.isStreaming)
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("ss_join")
      .option("checkpointLocation",
        tempDir("graft-ssjoin-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.streaming.StreamJoin
      .flaggedFollowups(Tables.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("windowed agg with watermark emits event-time windows") {
    val events = StreamAggregator.eventsStream(spark, s"$sf/{events.parquet}")
    val windowed = StreamAggregator.windowedAggStream(events)
    val name = "windowed_test"
    val q = windowed.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        tempDir("graft-ckpt-win"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table(name)
    // append mode emits only windows the watermark has passed; with a
    // single batch the watermark advances to max(ts) - 1h, so all but
    // the last hour's windows emit.
    assert(out.count() > 0, "no windows emitted")
    assert(out.columns.toSet ===
      Set("window_start", "window_end", "event_type", "n_events",
        "distinct_users", "max_value"))
    // every emitted window is exactly one hour
    val badLen = out.where(
      unix_timestamp(col("window_end")) - unix_timestamp(col("window_start"))
        =!= 3600).count()
    assert(badLen === 0)
  }

  test("streaming training-shards: replaying id-ordered document " +
    "batches yields the same shard manifest as the one-shot batch run; " +
    "re-runs are no-ops") {
    val base = tempDir("graft-stream-shards")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).cache()

    // three "day partitions" in ascending doc_id order (arrival order
    // = id order, so first-arrival dedup ≡ the batch min-id rule) —
    // one parquet FILE each, the stream triggers per file
    def dropChunk(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    dropChunk("b1", docs.where(col("doc_id") < 170))
    dropChunk("b2", docs.where(col("doc_id") >= 170 && col("doc_id") < 340))
    dropChunk("b3", docs.where(col("doc_id") >= 340))

    graft.streaming.StreamShards.runIngestShards(spark, src,
      graft.core.Schemas.documents, work)
    val streamed = graft.streaming.StreamShards.currentShards(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet

    // batch twin: the SAME composition in one shot — exact dedup of
    // the whole corpus (empty history), then trainingShards over it
    val batchWork = s"$base/batch"
    graft.streaming.Ingest
      .ingestBatch(docs, graft.streaming.Ingest.readStore(spark,
        s"$base/nonexistent-store"))
      .drop("fp")
      .write.parquet(s"$batchWork/documents.parquet")
    val expected = graft.ops.Corpus.trainingShards(spark, batchWork)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === expected,
      "streamed shard manifest diverged from the batch run")

    // checkpoint makes a re-run with no new files a no-op: the
    // accumulated corpus — and hence the manifest — is unchanged
    graft.streaming.StreamShards.runIngestShards(spark, src,
      graft.core.Schemas.documents, work)
    val rerun = graft.streaming.StreamShards.currentShards(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(rerun === expected)
    docs.unpersist()
  }

  test("streamed BM25 indexing probes bit-identically to the batch " +
    "build; re-runs and re-delivered batches are no-ops") {
    val base = tempDir("graft-stream-bm25")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    def dropChunk(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    dropChunk("b1", docs.where(col("doc_id") < 170))
    dropChunk("b2", docs.where(col("doc_id") >= 170 && col("doc_id") < 340))
    dropChunk("b3", docs.where(col("doc_id") >= 340))

    val docSchema = org.apache.spark.sql.types.StructType(
      graft.core.Schemas.documents.filter(f =>
        f.name == "doc_id" || f.name == "text"))
    graft.streaming.StreamIndex.runIngestBm25(spark, src, docSchema, work)

    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    val batchIdx = s"$base/batchindex"
    graft.ops.Terms.buildBm25IndexFor(docs, batchIdx)
    val expected = graft.ops.Terms
      .bm25IndexedTopK(spark, batchIdx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val streamed = graft.ops.Terms
      .bm25IndexedTopK(spark, s"$work/bm25index", queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === expected,
      "streamed index probe diverged from the batch build")

    // checkpoint no-op: a re-run with no new files changes nothing
    graft.streaming.StreamIndex.runIngestBm25(spark, src, docSchema, work)
    val statsBefore = spark.read.parquet(s"$work/bm25index/stats")
      .collect().map(_.toSeq).toSeq
    // re-delivered batch (id at the applied marker) must no-op too —
    // an append here would double-count every b3 posting
    graft.streaming.StreamIndex.applyBm25Batch(spark, s"$work/bm25index",
      docs.where(col("doc_id") >= 340), batchId = 2L)
    val statsAfter = spark.read.parquet(s"$work/bm25index/stats")
      .collect().map(_.toSeq).toSeq
    assert(statsAfter === statsBefore)
    val replayed = graft.ops.Terms
      .bm25IndexedTopK(spark, s"$work/bm25index", queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(replayed === expected)
    docs.unpersist()
  }

  test("streamed BM25 indexing with IN-STREAM compaction: probes stay " +
    "bit-identical to the batch build across a mid-stream fold") {
    val base = tempDir("graft-stream-bm25c")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    def dropChunk(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    dropChunk("b1", docs.where(col("doc_id") < 120))
    dropChunk("b2", docs.where(col("doc_id") >= 120 && col("doc_id") < 240))
    dropChunk("b3", docs.where(col("doc_id") >= 240 && col("doc_id") < 360))
    dropChunk("b4", docs.where(col("doc_id") >= 360))
    val docSchema = org.apache.spark.sql.types.StructType(
      graft.core.Schemas.documents.filter(f =>
        f.name == "doc_id" || f.name == "text"))
    // compact every 2 batches: the fold runs MID-stream (after batch
    // 1 and 3), with appends continuing on top of folded postings
    graft.streaming.StreamIndex.runIngestBm25(spark, src, docSchema, work,
      compactEvery = 2)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    val batchIdx = s"$base/batchindex"
    graft.ops.Terms.buildBm25IndexFor(docs, batchIdx)
    val expected = graft.ops.Terms
      .bm25IndexedTopK(spark, batchIdx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val streamed = graft.ops.Terms
      .bm25IndexedTopK(spark, s"$work/bm25index", queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === expected,
      "probe diverged across in-stream compaction")
    // the last fold (after batch 3) left one file per non-empty bucket
    def countParquet(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(countParquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val root = new java.io.File(s"$work/bm25index/postings")
    val perBucket = root.listFiles().filter(_.getName.startsWith("bucket="))
      .map(countParquet)
    assert(perBucket.nonEmpty && perBucket.max === 1,
      s"compaction left multi-file buckets: ${perBucket.max}")
    docs.unpersist()
  }

  test("CDC BM25 stream (adds + takedowns): converges to the net " +
    "corpus bit-for-bit, with tombstones folded by an in-stream " +
    "compaction and re-delivered batches no-ops") {
    val base = tempDir("graft-stream-bm25cdc")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    def dropChunk(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    def adds(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("op", lit("add"))
    def dels(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").withColumn("text", lit(""))
        .withColumn("op", lit("delete"))
    // adds stream in; batch 3 takes down docs < 60, batch 4 takes
    // down 120-179 — deletes of docs from EARLIER batches, the
    // takedown shape (compactEvery=2 folds tombstones mid-stream)
    dropChunk("b1", adds(docs.where(col("doc_id") < 120)))
    dropChunk("b2", adds(docs.where(col("doc_id") >= 120 &&
      col("doc_id") < 240)))
    dropChunk("b3", adds(docs.where(col("doc_id") >= 240 &&
      col("doc_id") < 360)).union(dels(docs.where(col("doc_id") < 60))))
    dropChunk("b4", adds(docs.where(col("doc_id") >= 360))
      .union(dels(docs.where(col("doc_id") >= 120 && col("doc_id") < 180))))
    val docSchema = org.apache.spark.sql.types.StructType(
      graft.core.Schemas.documents.filter(f =>
        f.name == "doc_id" || f.name == "text")
        :+ org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))
    graft.streaming.StreamIndex.runIngestBm25Cdc(spark, src, docSchema,
      work, compactEvery = 2)
    // reference: a one-shot build on the NET corpus
    val net = docs.where(col("doc_id") >= 60 &&
      !(col("doc_id") >= 120 && col("doc_id") < 180))
    val batchIdx = s"$base/batchindex"
    graft.ops.Terms.buildBm25IndexFor(net, batchIdx)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    def probe(idx: String) = graft.ops.Terms.bm25IndexedTopK(spark, idx,
        queries).collect().map(_.toSeq).sortBy(_.toString).toSeq
    val expected = probe(batchIdx)
    assert(expected.nonEmpty)
    assert(probe(s"$work/bm25index") === expected,
      "CDC stream diverged from the net-corpus batch build")
    // stats net out exactly (negative delete deltas)
    assert(graft.ops.Terms.readBm25Stats(spark, s"$work/bm25index")
      .select("n", "s").collect().map(_.toSeq).toSeq ===
      graft.ops.Terms.readBm25Stats(spark, batchIdx)
        .select("n", "s").collect().map(_.toSeq).toSeq)
    // checkpoint no-op re-run, then a re-delivered CDC batch: both
    // leave probes and stats untouched
    graft.streaming.StreamIndex.runIngestBm25Cdc(spark, src, docSchema,
      work, compactEvery = 2)
    val statsBefore = spark.read
      .parquet(s"$work/bm25index/stats").collect().map(_.toSeq).toSeq
    graft.streaming.StreamIndex.applyBm25Cdc(spark, s"$work/bm25index",
      adds(docs.where(col("doc_id") >= 360))
        .union(dels(docs.where(col("doc_id") >= 120 &&
          col("doc_id") < 180))),
      batchId = 3L)
    assert(spark.read.parquet(s"$work/bm25index/stats")
      .collect().map(_.toSeq).toSeq === statsBefore)
    assert(probe(s"$work/bm25index") === expected)
    docs.unpersist()
  }

  test("streaming training-shards with chunk-grain dedup: the chunked " +
    "manifest matches the one-shot batch run") {
    val base = tempDir("graft-stream-chunked")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).cache()
    def dropChunk(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    dropChunk("b1", docs.where(col("doc_id") < 250))
    dropChunk("b2", docs.where(col("doc_id") >= 250))
    graft.streaming.StreamShards.runIngestShards(spark, src,
      graft.core.Schemas.documents, work, chunked = true)
    val streamed = graft.streaming.StreamShards.currentShards(spark, work)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val batchWork = s"$base/batch"
    graft.streaming.Ingest
      .ingestBatch(docs, graft.streaming.Ingest.readStore(spark,
        s"$base/nostore"))
      .drop("fp")
      .write.parquet(s"$batchWork/documents.parquet")
    val expected = graft.ops.Corpus.trainingShardsChunked(spark, batchWork)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === expected,
      "chunked streamed manifest diverged from the batch run")
    docs.unpersist()
  }

  test("streaming embedding ingest: stream ≡ sequential batch " +
    "application, re-delivered content keeps nothing, re-runs and " +
    "re-applied ids are no-ops") {
    val base = tempDir("graft-embed-ingest")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val em = Tables.embeddings(spark, sf).cache()
    def dropChunk(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    val n = em.count()
    dropChunk("b1", em.where(col("vec_id") < n / 3))
    dropChunk("b2", em.where(col("vec_id") >= n / 3 && col("vec_id") < 2 * n / 3))
    dropChunk("b3", em.where(col("vec_id") >= 2 * n / 3))

    graft.streaming.IngestEmbed.runIngestEmbeddings(spark, src,
      graft.core.Schemas.embeddings, work)
    val kept = graft.streaming.IngestEmbed.keptEmbeddings(spark, work)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < n,
      s"expected dedup to drop something: kept ${kept.size} of $n")

    // twin: the SAME batches applied sequentially (no stream) must
    // produce the identical kept set — the stream machinery adds
    // nothing but checkpointing
    val twin = s"$base/twin"
    graft.streaming.IngestEmbed.applyEmbedBatch(spark,
      em.where(col("vec_id") < n / 3), 0L, twin)
    graft.streaming.IngestEmbed.applyEmbedBatch(spark,
      em.where(col("vec_id") >= n / 3 && col("vec_id") < 2 * n / 3), 1L, twin)
    graft.streaming.IngestEmbed.applyEmbedBatch(spark,
      em.where(col("vec_id") >= 2 * n / 3), 2L, twin)
    val keptTwin = graft.streaming.IngestEmbed.keptEmbeddings(spark, twin)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === keptTwin, "stream diverged from sequential batches")

    // re-applying a committed id is a full no-op
    graft.streaming.IngestEmbed.applyEmbedBatch(spark,
      em.where(col("vec_id") < n / 3), 0L, twin)
    assert(graft.streaming.IngestEmbed.keptEmbeddings(spark, twin)
      .count() === keptTwin.size.toLong)

    // checkpoint makes a re-run with no new files a no-op
    graft.streaming.IngestEmbed.runIngestEmbeddings(spark, src,
      graft.core.Schemas.embeddings, work)
    assert(graft.streaming.IngestEmbed.keptEmbeddings(spark, work)
      .count() === kept.size.toLong)

    // re-delivered CONTENT (same vectors, new ids) is cosine-1 against
    // kept history — the new batch keeps NOTHING
    dropChunk("b4", em.where(col("vec_id") < n / 3)
      .withColumn("vec_id", col("vec_id") + 1000000000L))
    graft.streaming.IngestEmbed.runIngestEmbeddings(spark, src,
      graft.core.Schemas.embeddings, work)
    val keptAfter = graft.streaming.IngestEmbed.keptEmbeddings(spark, work)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptAfter === kept,
      "re-delivered embedding content was not fully deduped")

    // the index grew only with kept vectors, cell-partitioned
    val idx = spark.read.parquet(s"$work/vindex/data")
    assert(idx.count() === kept.size.toLong)
    assert(idx.columns.contains("cell"))
    em.unpersist()
  }

  test("rebuildEmbedIndex: retrains and reassigns the full kept " +
    "history, swaps atomically with a loud interrupted-swap guard, " +
    "and the rebuilt probe still finds true neighbors") {
    val base = tempDir("graft-embed-rebuild")
    val work = s"$base/work"
    val em = Tables.embeddings(spark, sf).cache()
    val n = em.count()
    // high tau: only near-copies dedup, so the kept corpus stays
    // near-complete and the recall measurement is over real data
    val b0 = em.where(col("vec_id") < n / 2).select("vec_id", "embedding")
    val b1 = em.where(col("vec_id") >= n / 2).select("vec_id", "embedding")
    graft.streaming.IngestEmbed.applyEmbedBatch(spark, b0, 0L, work,
      tau = 0.95)
    graft.streaming.IngestEmbed.applyEmbedBatch(spark, b1, 1L, work,
      tau = 0.95)
    def keptIds: Set[Long] = graft.streaming.IngestEmbed
      .keptEmbeddings(spark, work)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def idxIds: Seq[Long] = spark.read.parquet(s"$work/vindex/data")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val keptBefore = keptIds
    val idxBefore = idxIds
    assert(idxBefore.toSet === keptBefore,
      "index rows diverge from the kept corpus before rebuild")

    // interrupted-swap guard: a leftover vindex.old must fail loud
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    val oldPath = new org.apache.hadoop.fs.Path(
      fs.makeQualified(new org.apache.hadoop.fs.Path(s"$work/vindex"))
        .getParent, "vindex.old")
    fs.mkdirs(oldPath)
    val e = intercept[IllegalStateException] {
      graft.streaming.IngestEmbed.rebuildEmbedIndex(spark, work)
    }
    assert(e.getMessage.contains("interrupted"))
    fs.delete(oldPath, true)

    graft.streaming.IngestEmbed.rebuildEmbedIndex(spark, work)
    // kept corpus untouched; index holds exactly the kept rows, once
    // each; the per-batch idempotence column survives the rebuild
    assert(keptIds === keptBefore, "rebuild touched the kept corpus")
    val idxAfter = idxIds
    assert(idxAfter.toSet === keptBefore,
      "rebuilt index rows diverge from the kept corpus")
    assert(idxAfter.length === idxAfter.toSet.size,
      "rebuilt index duplicated rows")
    assert(spark.read.parquet(s"$work/vindex/data")
      .columns.contains("batch"), "rebuild dropped the batch column")
    // the rebuilt probe answers: ≥ 0.8 of the exact top-k over the
    // kept corpus (auto probe budget)
    val queries = graft.streaming.IngestEmbed.normalizedFor(
        b0.where(col("vec_id") < 5))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val keptNorm = graft.streaming.IngestEmbed.normalizedFor(
      graft.streaming.IngestEmbed.keptEmbeddings(spark, work)
        .select("vec_id", "embedding"))
    val truth = graft.ops.Similarity
      .bruteForceTopKFor(keptNorm, queries, 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.streaming.IngestEmbed
      .embedIndexTopK(spark, work, queries, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.8, s"rebuilt-probe recall $recall below band")
    // the probe reads the index only through the cell-pruned scan.
    // nprobe pinned to 4: at the auto budget the 5 queries' probe-cell
    // union can cover every cell dir. Plan checked BEFORE execution
    // (post-execution AQE leaves are query stages, not scans)
    val probe = graft.streaming.IngestEmbed
      .embedIndexTopK(spark, work, queries, k = 10, nprobe = 4)
    val physical = probe.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val indexScans = physical.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains(s"$work/vindex/data")) => f
    }
    assert(indexScans.nonEmpty && indexScans.forall(_.partitionFilters.nonEmpty),
      s"the probe carries an unpruned index scan: " +
        s"${indexScans.map(_.partitionFilters).mkString(";")}")
    val cellDirs = spark.read.parquet(s"$work/vindex/data")
      .select("cell", "batch").distinct().count()
    val probed = indexScans.map(_.selectedPartitions.partitionCount).max
    assert(probed < cellDirs,
      s"probe scanned $probed of $cellDirs cell dirs")
    em.unpersist()
  }

  test("streaming embedding ingest, screen discipline: stream ≡ " +
    "sequential batches, duplicate-heavy batches collapse, and every " +
    "drop reaches a survivor through exact ≥ tau edges") {
    val base = tempDir("graft-embed-screen")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val em = Tables.embeddings(spark, sf).cache()
    val n = em.count()
    // duplicate-heavy batch 1: every vector + an exact copy + a
    // near-copy (the planted-pair construction of the centroid gate)
    val b1 = em.where(col("vec_id") < n / 2)
    val b1Aug = b1
      .unionByName(b1.select((col("vec_id") + 10000).as("vec_id"),
        col("embedding"), col("label")))
      .unionByName(b1.select((col("vec_id") + 20000).as("vec_id"),
        zip_with(col("embedding"), reverse(col("embedding")),
          (a, b) => a + lit(0.001f) * b).as("embedding"), col("label")))
    val b2 = em.where(col("vec_id") >= n / 2)
    def dropChunk(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    dropChunk("b1", b1Aug)
    dropChunk("b2", b2)

    graft.streaming.IngestEmbed.runIngestEmbeddings(spark, src,
      graft.core.Schemas.embeddings, work, withinBatch = "screen")
    val kept = graft.streaming.IngestEmbed.keptEmbeddings(spark, work)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // the planted exact copies MUST die within their batch (same
    // cell, identical sim, gap 0, verify dot = 1 ≥ tau)
    val keptPlantedExact = kept.count(id => id >= 10000 && id < 20000)
    assert(keptPlantedExact === 0,
      s"$keptPlantedExact planted exact copies survived the screen")
    // near-copies: the screen + verify may keep boundary stragglers
    // but must collapse the overwhelming majority
    val keptPlantedNear = kept.count(_ >= 20000)
    assert(keptPlantedNear * 10 <= (n / 2).toInt,
      s"$keptPlantedNear of ${n / 2} planted near-copies survived")

    // stream ≡ the same batches applied sequentially
    val twin = s"$base/twin"
    graft.streaming.IngestEmbed.applyEmbedBatch(spark, b1Aug, 0L, twin,
      withinBatch = "screen")
    graft.streaming.IngestEmbed.applyEmbedBatch(spark, b2, 1L, twin,
      withinBatch = "screen")
    val keptTwin = graft.streaming.IngestEmbed.keptEmbeddings(spark, twin)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === keptTwin,
      "screen-mode stream diverged from sequential batches")

    // precision, part 1 — per-drop edge: every dropped batch-1 vector
    // has an exact >= tau cosine witness among the OTHER batch-1
    // vectors. The witness is the drop's chain neighbor and may
    // itself have been dropped — this asserts an edge INTO the chain,
    // not an edge to the survivor (part 2 carries that).
    val normAll = graft.streaming.IngestEmbed.normalizedFor(b1Aug)
      .localCheckpoint()
    val droppedB1 = normAll.where(!col("vec_id").isin(kept.toSeq: _*))
    val allB1 = normAll
      .select(col("vec_id").as("kid"), col("vec").as("kvec"))
    val witnessed = droppedB1.crossJoin(allB1)
      .where(col("vec_id") =!= col("kid") &&
        graft.functions.VectorFunctions
          .dot(col("vec"), col("kvec")) >= 0.4)
      .select("vec_id").distinct()
    val unwitnessed = droppedB1.select("vec_id")
      .join(witnessed, Seq("vec_id"), "left_anti")
      .count()
    assert(unwitnessed === 0L,
      s"$unwitnessed dropped vectors have no exact-cosine witness")

    // precision, part 2 — chain-transitive: under the full exact-tau
    // closure over batch-1 vectors (all-pairs edges, spec scale only),
    // every component that lost a member still has a KEPT member —
    // i.e. each drop reaches a survivor through verified tau edges,
    // the documented chain guarantee (a component whose every member
    // was dropped would be data loss the per-edge check cannot see)
    val tauEdges = normAll.as("a")
      .join(normAll.as("b"), col("a.vec_id") < col("b.vec_id"))
      .where(graft.functions.VectorFunctions
        .dot(col("a.vec"), col("b.vec")) >= 0.4)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val comps = graft.ops.Components.connectedComponents(
      normAll.select(col("vec_id").as("node")), tauEdges)
    val orphanComponents = comps
      .withColumn("is_kept",
        col("node").isin(kept.toSeq: _*).cast("int"))
      .groupBy("component")
      .agg(org.apache.spark.sql.functions.max("is_kept").as("any_kept"))
      .where(col("any_kept") === 0)
      .count()
    assert(orphanComponents === 0L,
      s"$orphanComponents tau-components lost every member to the screen")
    em.unpersist()
  }

  test("streaming volume monitor: incremental day-grain counts ≡ the " +
    "batch screen over the union; re-delivery and re-runs are no-ops") {
    import graft.streaming.MonitorStream
    val base = tempDir("graft-monitor")
    val (src, work) = (s"$base/src", s"$base/work")
    Files.createDirectories(java.nio.file.Paths.get(src))

    // three overlapping-day batches (split by event_id, so most days
    // span batches — the additive merge is actually exercised)
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .cache()
    val n = ev.count()
    val cuts = Seq(n / 3, 2 * n / 3)
    val parts = Seq(
      ev.where(col("event_id") <= cuts.head),
      ev.where(col("event_id") > cuts.head &&
        col("event_id") <= cuts(1)),
      ev.where(col("event_id") > cuts(1)))
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$src/b$i")
      val dir = new java.io.File(s"$src/b$i")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/b$i.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }

    MonitorStream.runMonitor(spark, src,
      graft.core.Schemas.eventsOnDiskMicros, work)

    val streamed = MonitorStream.currentAnomalies(spark, work)
    val batch = graft.ops.Monitor.volumeAnomaly(spark, sf)
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "streamed screen differs from the batch screen over the union")

    // day-grain additivity really happened: >1 batch contributed to
    // at least one day
    val multi = spark.read.parquet(s"$work/daily")
      .groupBy("event_type", "day")
      .agg(countDistinct("batch").as("nb"))
      .where(col("nb") > 1).count()
    assert(multi > 0, "no day spanned batches — fixture degenerated")

    // re-delivery of an applied batch id no-ops (marker short-circuit)
    val before = MonitorStream.currentDaily(spark, work).collect().toSet
    MonitorStream.applyMonitorBatch(spark, work, parts.head, 0L)
    assert(MonitorStream.currentDaily(spark, work).collect().toSet
      === before)
    // a full re-run resumes from the checkpoint and applies nothing
    MonitorStream.runMonitor(spark, src,
      graft.core.Schemas.eventsOnDiskMicros, work)
    assert(MonitorStream.currentDaily(spark, work).collect().toSet
      === before)
    ev.unpersist()
  }

  test("embedding ingest survives an EMPTY first batch: training " +
    "defers to the first non-empty batch, dedup stays alive") {
    val base = tempDir("graft-embed-empty")
    val work = s"$base/work"
    val em = Tables.embeddings(spark, sf)
    // the poison shape this guards: centroids trained on zero vectors
    // freeze forever (dedup silently OFF for the life of the store)
    // and the first index append creates a schema-less partitioned
    // data dir that crashes every later batch
    graft.streaming.IngestEmbed.applyEmbedBatch(spark,
      em.where(col("vec_id") < 0), 0L, work)
    graft.streaming.IngestEmbed.applyEmbedBatch(spark, em, 1L, work)
    val kept = graft.streaming.IngestEmbed.keptEmbeddings(spark, work)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty)
    // dedup is ALIVE: re-delivered KEPT content (same vectors, new
    // ids) must keep nothing — an identical twin shares its top
    // probe cells, so the history probe is guaranteed to find it
    // (batch-1-dropped vectors carry no such guarantee: their kept
    // representative may live outside the twin's probed cells)
    graft.streaming.IngestEmbed.applyEmbedBatch(spark,
      em.where(col("vec_id").isin(kept.toSeq: _*))
        .withColumn("vec_id", col("vec_id") + 1000000000L), 2L, work)
    assert(graft.streaming.IngestEmbed.keptEmbeddings(spark, work)
      .select("vec_id").collect().map(_.getLong(0)).toSet === kept,
      "dedup silently disabled after an empty first batch")
    assert(spark.read.parquet(s"$work/vindex/data").count()
      === kept.size.toLong)
  }

  test("CDC indexing survives a delete-only FIRST batch: the empty " +
    "build stays readable, later adds index normally") {
    val base = tempDir("graft-cdc-delfirst")
    val idx = s"$base/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def adds(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("op", lit("add"))
    def dels(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").withColumn("text", lit(""))
        .withColumn("op", lit("delete"))
    // batch 0 carries ONLY deletes (retiring ids the index never saw):
    // the build-on-empty used to write schema-less postings/doclen
    // dirs, wedging every later batch on schema inference at each
    // redelivery
    graft.streaming.StreamIndex.applyBm25Cdc(spark, idx,
      dels(docs.where(col("doc_id") < 5)), 0L)
    graft.streaming.StreamIndex.applyBm25Cdc(spark, idx,
      adds(docs.where(col("doc_id") < 120)), 1L)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    val ref = s"$base/ref"
    graft.ops.Terms.buildBm25IndexFor(docs.where(col("doc_id") < 120), ref)
    def probe(p: String) = graft.ops.Terms.bm25IndexedTopK(spark, p,
      queries).collect().map(_.toSeq).sortBy(_.toString).toSeq
    val expected = probe(ref)
    assert(expected.nonEmpty)
    assert(probe(idx) === expected,
      "delete-only first batch corrupted the index")
    assert(graft.ops.Terms.readBm25Stats(spark, idx)
      .select("n", "s").collect().map(_.toSeq).toSeq ===
      graft.ops.Terms.readBm25Stats(spark, ref)
        .select("n", "s").collect().map(_.toSeq).toSeq)
  }
}
