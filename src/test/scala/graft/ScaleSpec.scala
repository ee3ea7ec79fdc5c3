package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** Scale-mechanics checks: the plan shapes that decide whether an
  * operator survives 100 TB — partition pruning (SURVEY §4 lists it as
  * supported-but-unexercised in the reference), bucketed co-located
  * joins, and AQE presence. */
class ScaleSpec extends AnyFunSuite with SharedSpark {

  test("Hive partition pruning reaches the scan (year/month/day layout)") {
    // build a small partitioned copy: events by day
    val root = tempDir("graft-part")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")).cast("string"))
      .write.partitionBy("day").mode("overwrite").parquet(root)
    // partition discovery may infer day= values as DateType
    val days = spark.read.parquet(root)
      .select(col("day").cast("string")).distinct().orderBy("day")
      .collect().map(_.getString(0))
    val oneDay = days(days.length / 2)
    val pruned = spark.read.parquet(root).where(col("day") === oneDay)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      plan.contains(s"isnotnull(day"),
      s"no partition filter in plan:\n$plan")
    // the scan must touch exactly one partition
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned === Some(1), s"expected 1 partition scanned, got $scanned")
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    // warehouse dir is a static conf — set in SharedSpark's builder
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")
    // disable auto-broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b").join(spark.table("o_b"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === Tables.lineitem(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("LSH re-attach join degrades to shuffle join when corpus exceeds " +
    "broadcast threshold (100 TB shape)") {
    // With broadcast off this simulates a corpus too big to broadcast:
    // the vector re-attach must become a shuffle join on vec_id — a
    // hard-coded broadcast(corpus) here would OOM the driver at scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val pairs = graft.ops.Similarity.lshNearDupPairs(spark, sf)
      val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"re-attach did not shuffle-join under big-corpus conditions:\n$plan")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      // strategy must not change results: broadcast path ≡ shuffle path
      val viaBroadcast = graft.ops.Similarity.lshNearDupPairs(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === viaBroadcast)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("shard packing avoids the single-task global window") {
    // the whole point of the two-pass prefix sum: no operator in the
    // plan may funnel the corpus through one partition
    val packed = graft.ops.Pack.packDocs(spark, sf)
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"global cumsum collapsed to a single partition:\n$plan")
    // equivalence against the naive single-task global window
    val naiveW = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(Long.MinValue, 0)
    val naive = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .withColumn("cum_tokens", sum(col("w")).over(naiveW))
      .withColumn("shard_id", expr("(cum_tokens - w) DIV 4096"))
    assert(packed.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(packed).count() === 0)
    spark.catalog.clearCache()
  }

  test("pack autoParts ignores the Long.MaxValue estimate of stats-less " +
    "inputs (falls back to shuffle partitions)") {
    // createDataFrame over an RDD has no stats: the optimizer reports
    // spark.sql.defaultSizeInBytes (Long.MaxValue) as its size. Before
    // the guard, autoParts trusted that and sized a 4,194,305-partition
    // range shuffle + driver collect on a 100-row input.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rdd = spark.sparkContext.parallelize(
      (1L to 100L).map(i => Row(i, s"doc $i body words")), 4)
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false)))
    val df = spark.createDataFrame(rdd, schema)
    val packed = graft.ops.Pack.packIntoShards(df, "doc_id",
      size(split(col("text"), " ")), budget = 16L)
    assert(packed.count() === 100)
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val plan = packed.queryExecution.executedPlan.toString
    val rangeParts = """rangepartitioning\([^)]*, (\d+)\)""".r
      .findFirstMatchIn(plan).map(_.group(1).toInt)
    assert(rangeParts === Some(shuffleParts),
      s"range pass must fall back to $shuffleParts partitions on a " +
        s"stats-less input, got $rangeParts:\n${plan.take(2000)}")
    spark.catalog.clearCache()
  }

  test("repetition signals read the documents table exactly once") {
    // r4 rewrote q_repetition from two scans + self-join to a single
    // scan feeding one (kind, gram) struct stream; this pins the shape
    // so a regression back to the two-scan plan fails loudly.
    // sparkPlan, not executedPlan: AdaptiveSparkPlanExec is itself a
    // leaf node, hiding the scans from collectLeaves
    val plan = graft.ops.Repetition.repetitionSignals(spark, sf)
      .queryExecution.sparkPlan
    val scans = plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size === 1,
      s"expected exactly one parquet scan, got ${scans.size}:\n$plan")
  }

  test("chunking is pure per-row compute: no exchange in the plan") {
    val plan = graft.ops.Chunk.chunkDocs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle:\n$plan")
  }

  test("chunk dedup shuffles fingerprints and ids only — chunk text " +
    "stays inside the scan") {
    // executedPlan, not sparkPlan: exchanges are inserted by
    // EnsureRequirements; unwrap the adaptive root to see them
    val plan = graft.ops.Chunk.chunkDedup(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"expected the fp window exchange:\n$plan")
    exchanges.foreach { e =>
      val cols = e.output.map(_.name).toSet
      assert(!cols.exists(_.contains("chunk_text")),
        s"chunk text crosses the wire: $cols")
      assert(cols.subsetOf(Set("fp", "doc_id", "chunk_id")),
        s"unexpected shuffle payload (want fp/ids only): $cols")
    }
  }

  test("repetition signals aggregate with map-side partials") {
    val plan = graft.ops.Repetition.repetitionSignals(spark, sf)
      .queryExecution.executedPlan.toString
    // both keyed aggregations must run partial -> final, so the
    // exploded gram stream combines before it shuffles
    assert(plan.contains("partial_count"),
      s"no partial aggregation in repetition plan:\n$plan")
  }

  test("corpus shuffle inherits the prefix-sum shape: no single-task " +
    "stage, no join-back") {
    val df = graft.ops.Pack.corpusShuffle(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"corpus shuffle collapsed to a single partition:\n$plan")
    // doc_id is parsed back out of the sort key, never re-joined: the
    // only join in the plan is the broadcast of per-partition offsets
    // onto pid (offsets ride a BroadcastHashJoin, not a map literal,
    // so a size-derived partition count can't blow up codegen) — no
    // shuffle join of corpus data may appear
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"unexpected shuffle join-back:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast offsets join:\n$plan")
    spark.catalog.clearCache()
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    // one hot key owning most rows — the shape that stalls a shuffle
    // join on a single straggler task. AQE must detect and split it.
    // Thresholds lowered so test-scale data qualifies as 'skewed'.
    import spark.implicits._
    val hot = (1L to 200000L).map(i => (42L, i)) ++
      (1L to 2000L).map(i => (i % 50 + 100, i))
    val left = hot.toDF("k", "v").repartition(8)
    val right = (1L to 200L).map(i => (i, s"dim_$i")).toDF("k", "name")
      .repartition(8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
    try {
      val joined = left.join(right, "k").select(col("k"))
      // execute THIS frame's plan — AQE finalizes per execution, so a
      // separate count() would leave this queryExecution un-adapted
      val n = joined.collect().length
      assert(n === 200000 + 2000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("runtime bloom filter prunes the probe side of a selective " +
    "shuffle join") {
    // At 100 TB a fact⋈filtered-fact shuffle join should not shuffle
    // probe-side rows that cannot match: Spark's runtime bloom filter
    // (built on the selective side, pushed into the probe-side scan)
    // does exactly that. Thresholds here are lowered to make the
    // injection fire at test scale; on a cluster the defaults key off
    // real scan sizes.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf)
        .where(col("o_totalprice") > 400000.0)
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // pruning must not change results
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expected = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("sketch mode rule: COUNT(DISTINCT) → HLL, Expand gone, band holds") {
    spark.experimental.extraOptimizations =
      Seq(graft.plans.SketchModeRule(spark))
    try {
      val exact = graft.engine.Relational.eventsDailyAgg(spark, sf)
        .select(col("event_type"), col("day"),
          col("distinct_users").as("exact_n")).collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2))
        .toMap
      spark.conf.set("spark.graft.sketchMode", "true")
      val sketched = graft.engine.Relational.eventsDailyAgg(spark, sf)
      val plan = sketched.queryExecution.executedPlan.toString
      assert(!plan.contains("count(distinct"),
        s"sketch mode left the exact distinct in place:\n$plan")
      assert(plan.contains("approx_count_distinct"), plan)
      // same query text, HLL result within the 3·rsd band of exact
      val approx = sketched.collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2))
        .toMap
      assert(approx.keySet === exact.keySet)
      approx.foreach { case (k, est) =>
        val ex = exact(k)
        assert(math.abs(est - ex) <= math.max(1.0, ex * 3 * 0.05),
          s"HLL estimate $est outside band of exact $ex for $k")
      }
      // flag off → untouched exact plan (exact distinct back)
      spark.conf.set("spark.graft.sketchMode", "false")
      val offPlan = graft.engine.Relational.eventsDailyAgg(spark, sf)
        .queryExecution.executedPlan.toString
      assert(offPlan.contains("count(distinct"), offPlan)
    } finally {
      spark.experimental.extraOptimizations = Nil
      spark.conf.unset("spark.graft.sketchMode")
    }
  }

  test("GraftExtensions registers the rule via the session builder") {
    import org.apache.spark.sql.SparkSession
    // touch the shared session BEFORE clearing: lazy init after the
    // clears would re-register itself and getOrCreate would return it
    val master = spark.sparkContext.master
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the shared SparkContext but builds a NEW session with
      // the extension applied — the spark.sql.extensions code path
      val s2 = SparkSession.builder()
        .master(master)
        .withExtensions(new graft.plans.GraftExtensions())
        .getOrCreate()
      assert(s2 ne spark)
      s2.conf.set("spark.graft.sketchMode", "true")
      val plan = graft.engine.Relational.eventsDailyAgg(s2, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("count(distinct"), plan)
      assert(plan.contains("approx_count_distinct"), plan)
      // injected SQL function is available without runtime registration
      val d = s2.sql(
        "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head.getDouble(0)
      assert(d === 11.0)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("AQE is available and coalesces shuffle partitions") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val df = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(count(lit(1)))
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan"), plan)
  }
}
