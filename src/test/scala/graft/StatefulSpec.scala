package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.Skew
import graft.streaming.{Sessionize, StreamAggregator}

class StatefulSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("streaming sessionization matches batch gap-session oracle") {
    // stream the events table through flatMapGroupsWithState
    val stream = StreamAggregator.eventsStream(spark, s"$sf/{events.parquet}")
      .select(col("user_id"), col("ts"), col("value"))
      .as[Sessionize.Event]
    val name = "sessions_test"
    val q = Sessionize.sessions(stream).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        tempDir("graft-ckpt-sess"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // round sums for set-compare: the stream folds values in event-time
    // order, batch sums in partition order — identical to 1e-10 but not
    // bit-equal; 2-decimal inputs make round(2) exact on both sides
    val streamed = spark.table(name)
      .select(col("user_id"), col("session_start"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))

    val batch = Sessionize.sessionsBatch(spark, sf).toDF()
      .select(col("user_id"), col("session_start"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))

    // append mode withholds sessions the final watermark hasn't closed;
    // everything emitted must be a correct batch session, and coverage
    // must be substantial
    val streamedRows = streamed.collect().toSet
    val batchRows = batch.collect().toSet
    assert(streamedRows.nonEmpty, "no sessions emitted")
    val wrong = streamedRows.diff(batchRows)
    assert(wrong.isEmpty, s"sessions not in batch oracle: ${wrong.take(3)}")
    assert(streamedRows.size >= batchRows.size / 2,
      s"only ${streamedRows.size}/${batchRows.size} sessions emitted")
  }

  test("foreachBatch parquet sink writes the complete aggregate") {
    val out = tempDir("graft-fb-out") + "/agg"
    val ckpt = tempDir("graft-fb-ckpt")
    val agg = StreamAggregator.dailyAggExact(
      StreamAggregator.eventsStream(spark, s"$sf/{events.parquet}"))
    StreamAggregator.runToParquet(spark, agg, out, ckpt)
    val written = spark.read.parquet(out)
    val batch = StreamAggregator.dailyAggExact(Tables.events(spark, sf))
    assert(written.count() === batch.count())
    assert(written.exceptAll(batch).count() === 0)
  }

  test("drainBatches runs stateless and aggregate streams at the " +
    "session's own width and leaves the caller's conf unchanged") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val before = s.conf.getAll
    val base = java.nio.file.Paths.get(tempDir("graft-drain"))
    val src = base.resolve("src").toString
    try {
      s.range(300).selectExpr("id", "id % 7 AS k").repartition(3)
        .write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      def files = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      // a stateless per-file stream, as every per-file driver starts it:
      // its body sees the width its own batch shuffles run at
      val widths = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val rows = new java.util.concurrent.atomic.AtomicLong
      StreamAggregator.drainBatches(files,
          base.resolve("ckpt").toString) { (b, _) =>
        widths.add(b.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        rows.addAndGet(b.groupBy("k").count().collect().map(_.getLong(1)).sum)
      }
      assert(widths.size === 3)
      assert(widths.toArray.toSet === Set("16"))
      assert(rows.get === 300)
      // the aggregate (runToParquet) keeps its state at the session width
      val out = base.resolve("agg").toString
      val ckpt = base.resolve("agg-ckpt").toString
      StreamAggregator.runToParquet(s, files.groupBy("k").count(), out, ckpt)
      assert(s.read.parquet(out).count() === 7)
      val stateParts = new java.io.File(s"$ckpt/state/0").list()
        .count(_.forall(_.isDigit))
      assert(stateParts === 16)
      assert(s.conf.getAll === before)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("file re-delivery: FileStreamSource processes new files only") {
    val watched = tempDir("graft-redeliver")
    val e = Tables.events(spark, sf).limit(100).cache()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    e.write.mode("overwrite").parquet(s"$watched/chunk1")
    val schema = org.apache.spark.sql.types.StructType(
      graft.core.Schemas.events.fields)
    def runOnce(name: String): Long = {
      val s = spark.readStream.format("parquet").schema(schema)
        .load(s"$watched/chunk*")
      val q = s.writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation",
          tempDir(s"graft-$name-ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).count()
    }
    val n1 = runOnce("redeliver_a")
    // overwrite the same directory with identical content (new file
    // names) plus one genuinely new chunk
    e.write.mode("overwrite").parquet(s"$watched/chunk1")
    e.limit(10).write.mode("overwrite").parquet(s"$watched/chunk2")
    val n2 = runOnce("redeliver_b")
    assert(n1 === 100L)
    // a fresh query (fresh checkpoint) sees current listing: 100 + 10
    assert(n2 === 110L)
  }

  test("streaming dedup drops re-delivered event ids, bounded state") {
    val watched = tempDir("graft-dedup-stream")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val e = Tables.events(spark, sf).limit(200).cache()
    e.write.mode("overwrite").parquet(s"$watched/chunk1")
    // duplicate delivery: the same 200 events again under new file names
    e.write.mode("overwrite").parquet(s"$watched/chunk2")
    val schema = org.apache.spark.sql.types.StructType(
      graft.core.Schemas.events.fields)
    val stream = spark.readStream.format("parquet").schema(schema)
      .load(s"$watched/chunk*")
    val deduped = StreamAggregator.dedupedStream(stream, watermark = "30 days")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream_test")
      .option("checkpointLocation",
        tempDir("graft-dedup-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("dedup_stream_test")
    assert(out.count() === 200L, "duplicates survived or rows lost")
    assert(out.select("event_id").distinct().count() === 200L)
  }

  test("HLL sketch aggregate runs under streaming and matches batch") {
    // the ingest-grain sketch build must work in the stream itself so
    // the sketch store stays current without batch backfills
    val stream = StreamAggregator.eventsStream(spark, s"$sf/{events.parquet}")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("distinct_users_est"))
    val q = stream.writeStream
      .outputMode("complete").format("memory").queryName("sketch_stream")
      .option("checkpointLocation",
        tempDir("graft-sketch-stream-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sketch_stream")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("distinct_users_est"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("custom sessionization matches Spark's native session_window") {
    // same 30-minute gap; session_window's end is last_ts + gap (not
    // max ts), so compare on (user, start, n_events). Boundary
    // semantics differ only at diff == gap exactly (half-open window)
    // — micros-random data cannot hit it.
    val native = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"))
      .collect().map(r =>
        (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    val custom = Sessionize.sessionsBatch(spark, sf).toDF()
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r =>
        (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    assert(native === custom,
      s"native=${native.size} custom=${custom.size} " +
        s"diff=${native.diff(custom).take(3)}${custom.diff(native).take(3)}")
    assert(native.nonEmpty)
  }

  test("dynamic partition overwrite sink: day redelivery is idempotent") {
    val src = tempDir("graft-dpo-src")
    val out = tempDir("graft-dpo-out") + "/table"
    val ckpt = tempDir("graft-dpo-ckpt")
    val t0 = new java.sql.Timestamp(0L)
    val days = graft.streaming.IncrementalProducer.eventDays(spark, sf).take(3)
    days.foreach(d =>
      graft.streaming.IncrementalProducer.dropDay(spark, sf, src, d, t0))
    def runOnce(): Unit = {
      val rows = StreamAggregator.replayStream(spark, s"$src/day=*")
        .withColumn("day", to_date(col("ts")).cast("string"))
      StreamAggregator.runToPartitionedParquet(spark, rows, out, ckpt, "day")
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)
    // redeliver day 1 (same rows, new files, new processed stamp) and
    // RESUME from the same checkpoint: only the new files process, and
    // the day partition is REPLACED, not appended
    graft.streaming.IncrementalProducer.dropDay(spark, sf, src, days.head,
      new java.sql.Timestamp(60000L))
    runOnce()
    val after = spark.read.parquet(out)
    assert(after.count() === n1, "redelivered day double-appended")
    // the replaced partition carries the NEW processed stamp
    val stamps = after.where(col("day") === days.head)
      .select("processed_date").distinct().collect()
      .map(_.getTimestamp(0).getTime).toSet
    assert(stamps === Set(60000L), s"expected replaced partition, got $stamps")
  }

  test("RocksDB state store drops in via config: identical results for " +
    "windowed agg and sessionization") {
    // SCALE.md's claim that state scales past executor heap via RocksDB
    // must be proven, not asserted: run the two stateful shapes under
    // RocksDBStateStoreProvider and require bit-identical output vs the
    // default HDFS-backed provider.
    def runWindowed(name: String): Set[org.apache.spark.sql.Row] = {
      val stream = StreamAggregator.eventsStream(spark, s"$sf/{events.parquet}")
      val q = StreamAggregator.windowedAggStream(stream).writeStream
        .outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation",
          tempDir(s"graft-$name-ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).collect().toSet
    }
    def runSessions(name: String): Set[(Long, Long)] = {
      val stream = StreamAggregator.eventsStream(spark, s"$sf/{events.parquet}")
        .select(col("user_id"), col("ts"), col("value"))
        .as[Sessionize.Event]
      val q = Sessionize.sessions(stream).writeStream
        .outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation",
          tempDir(s"graft-$name-ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).select(col("user_id"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val defWindowed = runWindowed("ss_default_win")
    val defSessions = runSessions("ss_default_sess")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocksWindowed = runWindowed("ss_rocks_win")
      val rocksSessions = runSessions("ss_rocks_sess")
      assert(rocksWindowed === defWindowed,
        "windowed agg differs under RocksDB state store")
      assert(rocksSessions === defSessions,
        "sessionization differs under RocksDB state store")
      assert(rocksWindowed.nonEmpty && rocksSessions.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("dot_product registers for SQL") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0)
    assert(r === 11.0)
  }

  test("salted join equals plain join; salted agg equals plain agg") {
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_orderpriority")
    val liK = li.withColumnRenamed("l_orderkey", "o_orderkey")
    val plain = liK.join(o, Seq("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val salted = Skew.saltedJoin(liK, o, "o_orderkey", 8)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(plain.exceptAll(salted).count() === 0)
    assert(salted.exceptAll(plain).count() === 0)

    val plainAgg = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(30,2)")).cast("double")
          .as("sum_value"))
    val saltedAgg = Skew.saltedCountSum(li.withColumnRenamed("l_quantity", "v"),
      "l_returnflag", "v", 8)
    assert(plainAgg.exceptAll(saltedAgg).count() === 0)
  }

  test("late data beyond the watermark is dropped from windowed agg") {
    val watched = tempDir("graft-late")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val base = Tables.events(spark, sf)
      .select("event_id", "ts_ns", "ts", "user_id", "event_type", "value", "props")
    // chunk1: the bulk of the data (advances the watermark to max-1h)
    base.where(col("event_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$watched/chunk1")
    val schema = org.apache.spark.sql.types.StructType(
      graft.core.Schemas.events.fields)
    val stream = spark.readStream.format("parquet").schema(schema)
      .load(s"$watched/chunk*")
    val windowed = StreamAggregator.windowedAggStream(stream,
      watermark = "1 hour", windowLen = "1 hour")
    // one continuously-running query (memory sink cannot resume from a
    // checkpoint): drop files, drain, drop late files, drain, compare
    val q = windowed.writeStream.outputMode("append").format("memory")
      .queryName("late_test")
      .option("checkpointLocation",
        tempDir("graft-late-ckpt"))
      .start()
    q.processAllAvailable()
    val cutoff = {
      val minTs = base.agg(min(col("ts"))).head.getTimestamp(0)
      new java.sql.Timestamp(minTs.getTime + 3600L * 1000)
    }
    val earlyBefore = spark.table("late_test")
      .where(col("window_start") < cutoff).count()
    assert(spark.table("late_test").count() > 0)
    // chunk2: only events in the first hour — far behind the watermark
    base.where(col("event_id") % 10 === 0)
      .where(col("ts") < cutoff)
      .write.mode("overwrite").parquet(s"$watched/chunk2")
    q.processAllAvailable()
    // SURVEY §5.5: an empty micro-batch (no new files) must be a no-op
    val beforeEmptyDrain = spark.table("late_test").count()
    q.processAllAvailable()
    assert(spark.table("late_test").count() === beforeEmptyDrain,
      "empty micro-batch changed the result table")
    q.stop()
    val earlyAfter = spark.table("late_test")
      .where(col("window_start") < cutoff).count()
    // late rows fall in windows the watermark already closed; append
    // mode must not re-emit or re-open them
    assert(earlyAfter === earlyBefore,
      "late data re-opened closed windows")
  }

  test("sessionization folds LATE events by position: in-gap-before " +
    "extends the start, inside-span only aggregates, an earlier chain " +
    "emits as its own session — and no session ever inverts") {
    val watched = tempDir("graft-sess-late")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def write(name: String,
        rows: Seq[(Long, java.sql.Timestamp, Double)]): Unit =
      rows.toDF("user_id", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$watched/$name")
    // batch 1: on-time events (global max 10:30 → watermark 09:30)
    write("b1", Seq(
      (1L, ts("2026-01-01 10:00:00"), 1.0),
      (1L, ts("2026-01-01 10:05:00"), 1.0),
      (2L, ts("2026-01-01 10:00:00"), 1.0),
      (2L, ts("2026-01-01 10:20:00"), 1.0),
      (3L, ts("2026-01-01 10:30:00"), 1.0)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.format("parquet").schema(schema)
      .load(s"$watched/b*")
      .as[graft.streaming.Sessionize.Event]
    val q = graft.streaming.Sessionize.sessions(stream).writeStream
      .outputMode("append").format("memory").queryName("sess_late")
      .option("checkpointLocation",
        tempDir("graft-sess-late-ckpt"))
      .start()
    q.processAllAvailable()
    // batch 2: LATE but watermark-admitted events (all ≥ 09:30).
    // user 1: 09:50 is within gap BEFORE the open [10:00,10:05] span —
    //   the session start must extend backwards (the naive negative-
    //   gap fold instead walked lastSeen back to 09:50: inverted
    //   bounds). user 2: 10:10 lies INSIDE [10:00,10:20] — aggregates
    //   only. user 3: 09:40/09:45 sit > gap before [10:30] — their own
    //   EARLIER session, emitted complete; the open one unharmed.
    //   user 9 is the clock: 13:00 pushes the watermark to 12:00.
    write("b2", Seq(
      (1L, ts("2026-01-01 09:50:00"), 1.0),
      (2L, ts("2026-01-01 10:10:00"), 1.0),
      (3L, ts("2026-01-01 09:40:00"), 1.0),
      (3L, ts("2026-01-01 09:45:00"), 1.0),
      (9L, ts("2026-01-01 13:00:00"), 1.0)))
    q.processAllAvailable()
    // batch 3: a clock tick so the 12:00 watermark fires the timeouts
    write("b3", Seq((9L, ts("2026-01-01 15:00:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_late")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(got.forall(s => !s._2.after(s._3)),
      s"inverted session bounds: ${got.filter(s => s._2.after(s._3))}")
    val expect = Set(
      (1L, ts("2026-01-01 09:50:00"), ts("2026-01-01 10:05:00"), 3L),
      (2L, ts("2026-01-01 10:00:00"), ts("2026-01-01 10:20:00"), 3L),
      (3L, ts("2026-01-01 09:40:00"), ts("2026-01-01 09:45:00"), 2L),
      (3L, ts("2026-01-01 10:30:00"), ts("2026-01-01 10:30:00"), 1L))
    assert(expect.subsetOf(got),
      s"missing expected sessions: ${expect.diff(got)}; got $got")
  }
}
