package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas for every table the engine touches.
  *
  * The reference infers schemas from parquet footers for batch and re-uses
  * the inferred schema for its stream (`notebooks/stream.ipynb:113 (cell 1)`
  * in Mamba369x/M13_SparkStreaming_PYTHON_AZURE). At 100 TB, schema
  * inference means listing + footer-reading thousands of files on the
  * driver before the job starts — so here every schema is declared
  * statically and handed to the reader. Inference remains available via
  * [[Tables.load]] when the schema is genuinely unknown.
  */
object Schemas {

  /** Reference hotel-weather file schema (11 columns, see FIXTURES.md §1).
    * Note the documented address/name swap is preserved as-is: `address`
    * holds the hotel name, `name` the street address. */
  val hotelWeather: StructType = StructType(Seq(
    StructField("address", StringType),
    StructField("avg_tmpr_c", DoubleType),
    StructField("avg_tmpr_f", DoubleType),
    StructField("city", StringType),
    StructField("country", StringType),
    StructField("geoHash", StringType),
    StructField("id", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("name", StringType),
    StructField("wthr_date", StringType)
  ))

  /** Ingested variant: producer adds processed_date; Hive partition dirs
    * add year/month/day (reference `upload.py:67` + partition discovery). */
  val hotelWeatherIngested: StructType = StructType(
    hotelWeather.fields ++ Seq(
      StructField("processed_date", TimestampType),
      StructField("year", IntegerType),
      StructField("month", IntegerType),
      StructField("day", IntegerType)
    ))

  // ----- driver-provisioned synthetic testdata (TESTDATA.md) -----

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)
  ))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)
  ))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)
  ))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)
  ))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)
  ))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)
  ))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)
  ))

  /** On-disk schema when `ts` is INT64 TIMESTAMP(NANOS) — Spark's
    * TimestampType is microseconds, so the file column is read as raw
    * nanos (LongType, via spark.sql.legacy.parquet.nanosAsLong) and
    * [[Tables.events]] derives a micros `ts` column from it. */
  val eventsOnDisk: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** On-disk schema when `ts` is a standard INT64 TIMESTAMP(MICROS)
    * column (Spark-native). [[Tables.events]] detects which encoding a
    * given file actually uses and picks the matching schema — writers
    * differ (pandas/pyarrow default to nanos, Spark to micros), and a
    * silent mismatch corrupts every event-time computation downstream. */
  val eventsOnDiskMicros: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Logical events schema after load: ts_ns keeps full precision,
    * ts is the truncated-to-micros TimestampType for time arithmetic. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_ns", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))

  val byName: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings
  )
}

/** Table loaders over the driver-provisioned parquet testdata.
  *
  * Every load passes the declared schema so the scan skips footer-based
  * inference (a driver-side scalability hazard on wide datasets) and so a
  * schema drift in the data fails loudly at analysis time instead of
  * silently changing downstream types.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Scale-adaptive scan spread — optimization guide §2.5 ("input
    * skew: one huge unsplittable file … repartition immediately after
    * the read"). The provisioned testdata ships each table as ONE
    * parquet file with ONE row group, so Spark plans every scan as a
    * single task and ALL scan-stage per-row work runs on one core no
    * matter how many the session has. Applied at the CALL SITES whose
    * scan-stage per-row work measurably dominates (16 seeded md5s per
    * shingle, char-gram winnowing, Levenshtein verify, regex
    * redaction, n² dot products — the A/B table in
    * OPTIMIZATION_r17.md); a blanket spread measured as a net LOSS on
    * the scan+aggregate/window majority (+0.2-0.7 s per query), so
    * there is deliberately no central hook in [[load]].
    *
    * The repartition is deterministic and retry-safe: hash on the
    * table's primary key, never rand()/round-robin (guide §2.5 /
    * SPARK-38388), with the partition count pinned explicitly so AQE
    * cannot coalesce the small exchange back to one partition and
    * re-serialize the downstream compute.
    *
    * At scale the guard turns this off by itself: a scan that already
    * splits into >= defaultParallelism partitions (any real
    * multi-file / multi-row-group layout) passes through untouched,
    * so the production plan shape — no text-bearing exchange after
    * the scan — is preserved exactly where it matters. `df` must be
    * scan-grade (scan + project/filter only): the probe plans the
    * frame to count partitions, and planning a frame with exchanges
    * under AQE would execute its upstream stages. The target is the
    * session's defaultParallelism. */
  def spread(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (target <= 1) return df
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }

  /** [[spread]] of the documents table — the common call-site form. */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(documents(spark, dir), "doc_id")

  /** The inverse of [[spread]] — data-proportional split PACKING for
    * the engine's partitioned index layouts (vindex/IVF-PQ cells,
    * guide §6 "small files hurt twice" / §2.2 "fewer, larger map
    * tasks"). A cell-partitioned index holds one small file per
    * (cell, batch); Spark's split packing sizes `maxSplitBytes` from
    * bytes-per-core, so a probe over such a directory plans ~one task
    * PER FILE (measured: 80- and 178-task scan stages whose wall time
    * is pure task deserialization — r18 stage profile of
    * q_ingest_embed_drift). `coalesce` to ceil(bytes / maxPartitionBytes)
    * merges those splits without a shuffle.
    *
    * Scale-safe by construction: the target is derived from the
    * directory's ACTUAL bytes, so a big index yields target ≥ natural
    * split count and `coalesce` (which never increases partition
    * count) is a pass-through — only the tiny-file regime changes.
    * The one-call `getContentSummary` is driver-side metadata of the
    * same order as the directory listing the scan itself performs.
    * Call AFTER partition-pruning filters (coalesce sits above the
    * filter, pruning is untouched). */
  def packedScan(df: DataFrame, path: String): DataFrame = {
    val spark = df.sparkSession
    val bytes =
      try Dirs.fs(spark, path)
        .getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
      catch { case _: java.io.FileNotFoundException => return df }
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    // floor at defaultParallelism: the probed rows feed per-row compute
    // (ADC / exact dots) ABOVE the scan, so packing below the core
    // count serializes that work (measured: coalesce(1) cost more than
    // the 80 tiny tasks it removed) — one task per core is the floor,
    // data-proportional splits past it
    val target = math.max(spark.sparkContext.defaultParallelism.toLong,
      (bytes + maxSplit - 1) / maxSplit)
    df.coalesce(math.min(target, Int.MaxValue.toLong).toInt)
  }

  /** Load one table with its declared schema (inferred if undeclared). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else Schemas.byName.get(name) match {
      case Some(s) => spark.read.schema(s).parquet(path(dir, name))
      case None    => spark.read.parquet(path(dir, name))
    }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** True when the events file stores `ts` as INT64 TIMESTAMP(NANOS)
    * (pyarrow/pandas default); false for a standard micros TIMESTAMP
    * (Spark default). Detected from the parquet footer via schema
    * inference — with nanosAsLong set, a NANOS column infers LongType
    * while MICROS infers TimestampType. One footer read per call,
    * driver-side and bounded (inference reads a single footer with
    * mergeSchema off) — cheap even when `path` is a 100 TB directory.
    * Not cached: the same path can legitimately change encoding across
    * test-data regenerations within one JVM.
    *
    * The probe itself runs under a scoped nanosAsLong
    * ([[Session.withConf]]), so a MICROS file leaves the caller's conf
    * exactly as it was. A NANOS file sets the flag for the session and
    * leaves it set, the one session-wide conf write outside `Session`:
    * the returned events frame is lazy, and the parquet reader consults
    * the conf again at physical planning (per-file footer conversion),
    * so restoring it after the probe would flip the encoding out from
    * under a not-yet-executed scan. Scope of that leak: OTHER
    * TIMESTAMP(NANOS) parquet columns read later in the session arrive
    * as LongType raw nanos instead of erroring — within this library
    * the only NANOS producer is the events vintage itself, which is
    * exactly what the flag serves. */
  def eventsTsIsNanos(spark: SparkSession, eventsPath: String): Boolean = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val nanos = Session.withConf(spark, key -> "true") {
      spark.read.parquet(eventsPath).schema("ts").dataType == LongType
    }
    if (nanos) spark.conf.set(key, "true")
    nanos
  }

  /** Events with `ts` as a usable TimestampType (micros) plus the
    * full-precision raw nanos as `ts_ns`. Handles BOTH on-disk
    * encodings (see [[eventsTsIsNanos]]): INT64 TIMESTAMP(NANOS) is
    * read as a long and truncated to micros; a native micros TIMESTAMP
    * is used as-is with `ts_ns` derived (exact — micros*1000 never
    * overflows a long for any realistic epoch). The nanosAsLong conf
    * the NANOS path needs is runtime-settable and set by the probe, so
    * it works in ANY session the caller provides. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = path(dir, "events")
    val df =
      if (eventsTsIsNanos(spark, p))
        spark.read.schema(Schemas.eventsOnDisk).parquet(p)
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      else
        spark.read.schema(Schemas.eventsOnDiskMicros).parquet(p)
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    df.select("event_id", "ts_ns", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register all tables as temp views so `spark.sql` mirrors the
    * reference's memory-sink-as-SQL-table pattern
    * (`notebooks/stream.ipynb:178 (cell 3)`). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
