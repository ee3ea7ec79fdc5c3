package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Schemas, Tables}
import graft.plans.AsOfJoin
import graft.sources.Formats

class SourcesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("CSV and JSONL round-trip the customer table losslessly") {
    val base = tempDir("graft-fmt")
    val src = Tables.customer(spark, sf)
    Formats.writeCsv(src, s"$base/csv")
    val csvBack = Formats.readCsv(spark, Schemas.customer, s"$base/csv")
    assert(csvBack.exceptAll(src).count() === 0)
    assert(src.exceptAll(csvBack).count() === 0)

    Formats.writeJsonl(src, s"$base/jsonl")
    val jsonBack = Formats.readJsonl(spark, Schemas.customer, s"$base/jsonl")
    assert(jsonBack.exceptAll(src).count() === 0)

    Formats.writeParquet(src, s"$base/parquet")
    val pqBack = Formats.readParquet(spark, Schemas.customer, s"$base/parquet")
    assert(pqBack.exceptAll(src).count() === 0)

    Formats.writeOrc(src, s"$base/orc")
    val orcBack = Formats.readOrc(spark, Schemas.customer, s"$base/orc")
    assert(orcBack.exceptAll(src).count() === 0)
    // pushdown reaches the ORC reader just like parquet
    val orcPlan = orcBack.where(col("c_custkey") === 42L)
      .queryExecution.executedPlan.toString
    assert(orcPlan.contains("PushedFilters") &&
      orcPlan.contains("EqualTo(c_custkey,42)"), orcPlan)
  }

  test("schema evolution: old and new parquet read under the merged schema") {
    // a 100 TB table accretes columns over years; readers must handle
    // mixed-vintage files. Old files: (doc_id, text); new files add
    // quality_score. mergeSchema unifies; old rows surface null.
    val base = tempDir("graft-evolve")
    Seq((1L, "old doc")).toDF("doc_id", "text")
      .write.parquet(s"$base/batch1")
    Seq((2L, "new doc", 0.9)).toDF("doc_id", "text", "quality_score")
      .write.parquet(s"$base/batch2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$base/batch1", s"$base/batch2")
    assert(merged.columns.toSet === Set("doc_id", "text", "quality_score"))
    val byId = merged.collect()
      .map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(byId(1L) === true, "old row should have null for the new column")
    assert(byId(2L) === false)
  }

  test("corrupt JSONL lines are quarantined, good rows survive") {
    // ingestion from the wild: PERMISSIVE mode parses what it can and
    // routes garbage to _corrupt_record instead of failing the job
    // (or silently dropping rows)
    val base = tempDir("graft-corrupt")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/data.jsonl"),
      java.util.Arrays.asList(
        """{"doc_id": 1, "text": "fine"}""",
        """{"doc_id": 2 "text": MISSING_COMMA_GARBAGE""",
        """{"doc_id": 3, "text": "also fine"}"""))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$base/data.jsonl").cache()
    assert(parsed.count() === 3)
    assert(parsed.where(col("_corrupt_record").isNotNull).count() === 1)
    assert(parsed.where(col("_corrupt_record").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    parsed.unpersist()
  }

  test("as-of join picks the nearest predecessor, nulls before any") {
    val events = Seq(
      (1L, 100L, Timestamp.valueOf("2024-01-01 00:00:05"), "view"),
      (2L, 100L, Timestamp.valueOf("2024-01-01 00:00:15"), "view"),
      (3L, 100L, Timestamp.valueOf("2024-01-01 00:00:10"), "tie"),
      (4L, 200L, Timestamp.valueOf("2024-01-01 00:00:01"), "early"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val orders = Seq(
      (100L, Timestamp.valueOf("2024-01-01 00:00:04"), 11L, 10.0),
      (100L, Timestamp.valueOf("2024-01-01 00:00:10"), 12L, 20.0),
      (100L, Timestamp.valueOf("2024-01-01 00:00:10"), 13L, 30.0),
      (200L, Timestamp.valueOf("2024-01-02 00:00:00"), 14L, 40.0))
      .toDF("user_id", "o_orderdate", "o_orderkey", "o_totalprice")
    val got = AsOfJoin.asOf(events, orders,
      "user_id", "user_id", "ts", "o_orderdate",
      Seq("o_orderkey", "o_totalprice"), "o_orderkey")
      .select("event_id", "o_orderkey").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got(1L) === 11L)   // only order 11 precedes t=5
    assert(got(2L) === 13L)   // latest ≤ 15 is t=10; tie → max orderkey
    assert(got(3L) === 13L)   // equal instant included (≤), tie → 13
    assert(got(4L) === -1L)   // user 200 has no prior order → null
  }

  test("events loader reads both on-disk ts encodings identically") {
    // The provisioned events table has arrived in two vintages: INT64
    // TIMESTAMP(NANOS) (pyarrow default — Spark reads it only as a
    // long) and native micros TIMESTAMP (Spark default). A regen that
    // flipped the encoding silently collapsed every event date to one
    // day before the loaders learned to detect it — this pins both
    // paths to identical logical output.
    val base = tempDir("graft-tsenc")
    val rows = Seq(
      (0L, Timestamp.valueOf("2024-01-01 00:00:07.179575"), 8L, "error", 6.55, "{}"),
      (1L, Timestamp.valueOf("2024-02-03 13:03:52.824425"), 46L, "click", 12.31, "{}"),
      (2L, Timestamp.valueOf("2025-12-31 23:59:59.999999"), 7L, "view", 1.63, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.parquet(s"$base/micros/events.parquet")
    // nanos vintage: the same instants as a raw int64 nanos column
    rows.select(col("event_id"),
        (unix_micros(col("ts")) * lit(1000L)).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$base/nanos/events.parquet")
    assert(!Tables.eventsTsIsNanos(spark, s"$base/micros/events.parquet"))
    assert(Tables.eventsTsIsNanos(spark, s"$base/nanos/events.parquet"))
    val m = Tables.events(spark, s"$base/micros").orderBy("event_id").collect()
    val n = Tables.events(spark, s"$base/nanos").orderBy("event_id").collect()
    assert(m.toSeq === n.toSeq)
    assert(m.map(_.getAs[Timestamp]("ts")).toSeq ===
      rows.orderBy("event_id").collect().map(_.getAs[Timestamp]("ts")).toSeq)
    // the stream reader detects per-path too: a daily aggregate over the
    // micros vintage must equal the batch plan over the same files
    val agg = graft.streaming.StreamAggregator.runToMemoryTable(spark,
      graft.streaming.StreamAggregator.dailyAggExact(
        graft.streaming.StreamAggregator.eventsStream(
          spark, s"$base/micros/{events.parquet}")),
      "tsenc_stream")
    val batch = graft.streaming.StreamAggregator.dailyAggExact(
      Tables.events(spark, s"$base/micros"))
    assert(agg.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(agg).count() === 0)
  }

  test("loading micros events leaves the session conf unchanged; " +
    "nanos events set nanosAsLong for the session") {
    val base = tempDir("graft-tsenc-conf")
    val rows = Seq(
      (0L, Timestamp.valueOf("2024-01-01 00:00:07.179575"), 8L, "error", 6.55, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.parquet(s"$base/micros/events.parquet")
    rows.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      .write.parquet(s"$base/nanos/events.parquet")
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(Tables.events(s, s"$base/micros").count() === 1)
    assert(s.conf.getAll === before)
    assert(Tables.events(s, s"$base/nanos").count() === 1)
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("as-of join shuffles once on the key (no join explosion)") {
    val plan = AsOfJoin.eventsWithLatestOrder(spark, sf)
      .queryExecution.executedPlan.toString
    // composed as union + window: exactly one hash exchange on the key,
    // no BroadcastNestedLoopJoin / cartesian anywhere
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }
}
