package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Multi-dimensional data layout: Z-order (Morton) clustering — the
  * file-layout operator a 100 TB lake runs so that TWO predicate
  * dimensions prune at scan time instead of one. Reference behavior
  * covered: none (extension; the reference reads an already-partitioned
  * hotel-weather layout — this is the operator that WRITES such
  * layouts well).
  *
  * Why this is first-order at scale: parquet scan pruning works off
  * per-file (row-group) min/max column stats. A table sorted by one
  * column gives that column tight per-file ranges and leaves every
  * other column's range as wide as the domain — a time-range query on
  * a user-sorted table reads every file. Interleaving the bits of two
  * bounded bucket ids (x even bits, y odd bits) and sorting by the
  * result bounds BOTH per-file ranges at once: a file of 2^k
  * consecutive z-values spans ≤ 2^ceil(k/2) x-buckets × 2^floor(k/2)
  * y-buckets, so a box predicate touches ~√(selectivity) of the files
  * per dimension instead of all of them. This is the same layout
  * technique Delta/Iceberg expose as OPTIMIZE ZORDER; the arithmetic
  * here is plain integer expressions, fully codegen'd, and — unlike
  * space-filling-curve libraries — reproducible in ANSI SQL, so every
  * query in the family is hash-exact against the DuckDB oracle.
  *
  * Determinism discipline: bucket ids are equal-width integer bins
  * derived from the dimension's (min, max) — one 1-row bounds
  * aggregate broadcast back onto the scan (the repo's bounded-frame
  * pattern; at a real lake the bounds come from table stats). Every
  * step after the scan is integer DIV/shift arithmetic — no floats
  * anywhere in the family.
  */
object Layout {

  /** Interleave the low `bits` bits of two non-negative ints:
    * x occupies even output positions, y odd. Unrolled into 2·bits
    * codegen'd shift/mask terms (bits ≤ 16 keeps the tree small);
    * both engines evaluate the identical integer expression. */
  def zValue(x: Column, y: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** The same interleave as SQL text, for the oracles. */
  def zValueSql(x: String, y: String, bits: Int = 8): String =
    (0 until bits).map { i =>
      s"(($x >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(($y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")

  /** Events collapsed to the (x_bucket, y_bucket) cell grain over
    * (user_id, event day): the one shuffle in the family, carrying at
    * most 2^(2·bits) rows no matter the event volume. Bucket id =
    * (v - min) * 2^bits DIV (max - min + 1) — pure integer, always in
    * [0, 2^bits), and it STRETCHES a narrow domain across the bucket
    * space (a width-first `(v-min) DIV width` form would be
    * overflow-proof but leaves a 30-value domain in buckets 0..29 and
    * the layout degenerate). The price is a precondition: the
    * multiply overflows Long past a ~2^(63-bits) dimension SPAN —
    * 64-bit snowflake/surrogate ids live there — so the span is
    * guarded by a codegen'd `assert_true` that fails loudly instead
    * of binning garbage; pre-bin such domains (e.g. `id DIV 2^16`)
    * before z-ordering. Day joins in as days-since-min-day so both
    * dimensions are dense non-negative ints. */
  private def eventCells(spark: SparkSession, dir: String,
      bits: Int): DataFrame = {
    val n = 1 << bits
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        lit(1L).as("one"))
    // span guard on the 1-ROW bounds frame, not the event scan: same
    // loud failure, evaluated once instead of per row (a per-row
    // assert_true filter measured +0.85 s on 1M events at sf1).
    // try_subtract: a raw u_max - u_min WRAPS negative past a 2^63
    // span (negative min, huge positive max) and would sail through
    // the very guard built for it — the try_ form yields null there
    // and assert_true(null) fails loudly like false. An EMPTY events
    // frame (all-null bounds row) short-circuits via the isNull arm
    // instead of tripping the assert: the join below is empty anyway.
    val bounds = ev.agg(
        min("user_id").as("u_min"), max("user_id").as("u_max"),
        min("day").as("d_min"), max("day").as("d_max"))
      .where(col("u_min").isNull || assert_true(
        try_subtract(col("u_max"), col("u_min")) < lit(1L << (63 - bits)) &&
          datediff(col("d_max"), col("d_min")) < lit(1L << (63 - bits)),
        lit(s"z-order bucketing needs dimension spans < 2^${63 - bits} " +
          "(multiply-first binning would overflow); pre-bin wider " +
          "domains, e.g. id DIV 65536")).isNull)
    ev.join(broadcast(bounds))
      .select(
        expr(s"(user_id - u_min) * $n DIV (u_max - u_min + 1)")
          .as("xb"),
        expr(s"(datediff(day, d_min)) * $n DIV " +
          s"(datediff(d_max, d_min) + 1)").as("yb"))
      .groupBy("xb", "yb").agg(count(lit(1)).as("n_rows"))
  }

  private val cellsSql: String =
    """SELECT (user_id - u_min) * 256 // (u_max - u_min + 1) AS xb,
      |       (CAST(ts AS DATE) - d_min) * 256 //
      |         ((d_max - d_min) + 1) AS yb,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM events, (SELECT MIN(user_id) AS u_min, MAX(user_id) AS u_max,
      |                     MIN(CAST(ts AS DATE)) AS d_min,
      |                     MAX(CAST(ts AS DATE)) AS d_max FROM events)
      |GROUP BY 1, 2""".stripMargin

  /** Per-z-block layout profile: cells z-ordered, 256 cells per block
    * (the simulated file), per block the row volume and the x/y
    * bucket spans the block's min/max stats would advertise. The
    * point the numbers make: every block's x-span AND y-span is ≤ 16
    * of 256 — a 16×16 patch — where a lexicographic layout's blocks
    * span all 256 y-buckets. Plan: scan → cell aggregate (≤ 65 536
    * rows) → block aggregate (256 rows); volume-independent past the
    * first aggregate. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame =
    eventCells(spark, dir, bits = 8)
      .withColumn("z", zValue(col("xb"), col("yb")))
      .withColumn("z_block", expr("z DIV 256"))
      .groupBy("z_block")
      .agg(count(lit(1)).as("n_cells"), sum("n_rows").as("n_rows"),
        min("xb").as("x_lo"), max("xb").as("x_hi"),
        min("yb").as("y_lo"), max("yb").as("y_hi"))

  val zorderLayoutSql: String =
    s"""WITH cells AS ($cellsSql),
       |z AS (SELECT *, ${zValueSql("xb", "yb")} // 256 AS z_block
       |      FROM cells)
       |SELECT z_block, CAST(COUNT(*) AS BIGINT) AS n_cells,
       |       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       |       MIN(xb) AS x_lo, MAX(xb) AS x_hi,
       |       MIN(yb) AS y_lo, MAX(yb) AS y_hi
       |FROM z GROUP BY 1""".stripMargin

  /** Min/max-stats pruning simulation: the SAME cell frame filed
    * three ways (256 cells per file) — `zorder` (file = z DIV 256),
    * `lexicographic` (file = x-bucket: sort by (x, y) puts one
    * x-bucket per file at this file size), and `unsorted` (stats
    * carry no information: every nonempty file is read). A file is
    * READ iff its advertised [min,max] x-range AND y-range both
    * overlap the box — exactly parquet row-group pruning semantics,
    * false positives included. Box = the center 1/8 × 1/8 of the
    * bucket space. Output one row per layout: files/rows read vs the
    * rows that actually match — the read-amplification table that
    * justifies z-ordering a 100 TB fact table. */
  def zorderPruneEffect(spark: SparkSession, dir: String): DataFrame = {
    val (xLo, xHi, yLo, yHi) = (96, 127, 96, 127)
    // ONE pass over the cell frame for all three layouts (r18): the
    // old shape cached the cells and walked them once per layout —
    // three aggregation branches, a pinned cache, and (before AQE can
    // help) three stage chains for a ≤ 65 536-row frame. Exploding a
    // (layout, file_id) pair per layout triples the BOUNDED cell rows
    // (never the event rows) and one groupBy chain computes every
    // layout's profile together. Values are identical integer sums;
    // only row provenance (union order) changes, and the oracle
    // canonicalizes row order.
    val boxed = eventCells(spark, dir, bits = 8)
      .withColumn("z", zValue(col("xb"), col("yb")))
      .withColumn("in_box",
        (col("xb").between(xLo, xHi) && col("yb").between(yLo, yHi))
          .cast("long"))
    val filed = boxed.select(col("xb"), col("yb"), col("n_rows"),
        col("in_box"), explode(array(
          struct(lit("zorder").as("layout"),
            expr("z DIV 256").cast("long").as("file_id")),
          struct(lit("lexicographic").as("layout"),
            col("xb").cast("long").as("file_id")),
          // ingestion-order stand-in: coprime mixing scatters each
          // file's cells across the whole bucket space, so its min/max
          // stats advertise (nearly) the full domain and nothing prunes
          struct(lit("unsorted").as("layout"),
            expr("(xb * 73 + yb * 151) % 256").cast("long")
              .as("file_id")))).as("lf"))
      .select(col("lf.layout").as("layout"), col("lf.file_id").as("file_id"),
        col("xb"), col("yb"), col("n_rows"), col("in_box"))
    val profile = filed.groupBy("layout", "file_id")
      .agg(sum("n_rows").as("f_rows"),
        sum(col("in_box") * col("n_rows")).as("f_match"),
        min("xb").as("x_lo"), max("xb").as("x_hi"),
        min("yb").as("y_lo"), max("yb").as("y_hi"))
      .withColumn("hit",
        (col("x_hi") >= xLo && col("x_lo") <= xHi &&
          col("y_hi") >= yLo && col("y_lo") <= yHi).cast("long"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum("hit").as("files_read"),
        sum(col("hit") * col("f_rows")).as("rows_read"),
        sum("f_match").as("rows_match"))
    // one row per layout even over an empty events table, as the
    // oracle's three global aggregates give: n_files = 0, NULL sums
    val layouts = spark.range(1).select(explode(array(
      lit("zorder"), lit("lexicographic"), lit("unsorted"))).as("layout"))
    layouts.join(broadcast(profile), Seq("layout"), "left")
      .select(col("layout"), coalesce(col("n_files"), lit(0L)).as("n_files"),
        col("files_read"), col("rows_read"), col("rows_match"))
  }

  val zorderPruneEffectSql: String = {
    def one(name: String, fileId: String) =
      s"""SELECT '$name' AS layout,
         |       CAST(COUNT(*) AS BIGINT) AS n_files,
         |       CAST(SUM(hit) AS BIGINT) AS files_read,
         |       CAST(SUM(hit * f_rows) AS BIGINT) AS rows_read,
         |       CAST(SUM(f_match) AS BIGINT) AS rows_match
         |FROM (SELECT SUM(n_rows) AS f_rows, SUM(in_box * n_rows) AS f_match,
         |             CASE WHEN MAX(xb) >= 96 AND MIN(xb) <= 127
         |                   AND MAX(yb) >= 96 AND MIN(yb) <= 127
         |                  THEN 1 ELSE 0 END AS hit
         |      FROM boxed GROUP BY $fileId)""".stripMargin
    s"""WITH cells AS ($cellsSql),
       |boxed AS (
       |  SELECT *, ${zValueSql("xb", "yb")} AS z,
       |         CASE WHEN xb BETWEEN 96 AND 127
       |               AND yb BETWEEN 96 AND 127
       |              THEN 1 ELSE 0 END AS in_box
       |  FROM cells)
       |${one("zorder", "z // 256")}
       |UNION ALL ${one("lexicographic", "xb")}
       |UNION ALL ${one("unsorted", "(xb * 73 + yb * 151) % 256")}""".stripMargin
  }

  /** Physically write `df` z-clustered on two integer bucket columns:
    * range-partition by the interleaved key, sort within partitions,
    * one parquet file per partition — each emitted file then carries
    * tight min/max stats on BOTH source columns (asserted per-file in
    * LayoutSpec). `numFiles` sizes the job (a lake compaction would
    * derive it from target file size); the z column itself is dropped
    * from the output — it is a layout device, not data. */
  def zorderWrite(df: DataFrame, xBucket: Column, yBucket: Column,
      outDir: String, numFiles: Int, bits: Int = 8): Unit =
    df.withColumn("__z", zValue(xBucket, yBucket, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)

  /** Rows the REAL parquet reader delivers for `pred` over `dir`:
    * the pushed min/max filters prune row groups inside the scan, so
    * the scan node's `numOutputRows` IS rows-read-from-disk (each
    * probe file below holds one row group, so this is row-group- and
    * file-grain pruning at once). Returns (rows_read, rows_match). */
  def scanRowsRead(spark: SparkSession, dir: String,
      pred: Column): (Long, Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    val df = spark.read.parquet(dir).where(pred)
    // collect (not count) so the metrics below belong to the plan of
    // THIS Dataset — count() re-plans under a fresh metric set
    val rowsMatch = df.collect().length.toLong
    def expand(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case other => other.children
      }
      p +: kids.flatMap(expand)
    }
    val read = expand(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum
    (read, rowsMatch)
  }

  /** The pruning simulation made PHYSICAL: write the events table
    * twice — [[zorderWrite]]-clustered on (user bucket, day bucket)
    * vs single-column user_id sort — then push the SAME 2-D box
    * predicate (raw `user_id` range AND raw `ts` range — the
    * predicates a user actually writes) through the real parquet
    * reader and report what each layout's scan delivered.
    * [[zorderPruneEffect]]'s overlap arithmetic is the claim; the
    * scan metric here is the proof (LayoutSpec asserts z < x-sort;
    * SCALE.md records the numbers per SF).
    *
    * Timestamps are written as TIMESTAMP_MICROS explicitly: INT96
    * parquet timestamps carry no usable min/max stats, which would
    * silently disable the ts half of the pruning this measures.
    * Returns one (layout, rows_read, rows_match) per layout. */
  def zorderScanMeasure(spark: SparkSession, dir: String, outBase: String,
      numFiles: Int = 64): Seq[(String, Long, Long)] = {
    zorderScanWrite(spark, dir, outBase, numFiles)
    zorderScanProbe(spark, dir, outBase)
  }

  /** The write half of [[zorderScanMeasure]]: events filed twice
    * (z-clustered vs x-sorted) under `outBase`. */
  def zorderScanWrite(spark: SparkSession, dir: String, outBase: String,
      numFiles: Int = 64): Unit = {
    val n = 256
    // TIMESTAMP_MICROS for the two layout writes only — INT96 carries
    // no usable min/max stats — then RESTORED: leaking it session-wide
    // would silently flip every later parquet write's physical
    // timestamp type (masking the very INT96 behavior documented
    // elsewhere)
    graft.core.Session.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val (uMin, uMax, dMin, dRange) = scanBounds(spark, dir)
      // width-first layout buckets (overflow-proof; stretch across the
      // full bucket space is irrelevant here — Morton locality only
      // needs MONOTONE bins, and the box below is phrased on the raw
      // value domain, not the bucket domain)
      val uW = (uMax - uMin) / n + 1
      val dW = dRange / n + 1
      val xb = expr(s"(user_id - $uMin) DIV $uW")
      val yb = expr(s"datediff(to_date(ts), DATE'$dMin') DIV $dW")
      zorderWrite(ev, xb, yb, s"$outBase/zorder", numFiles)
      ev.repartitionByRange(numFiles, col("user_id"))
        .sortWithinPartitions("user_id")
        .write.mode("overwrite").parquet(s"$outBase/xsort")
    }
  }

  /** The probe half: push the same 2-D box through the real reader
    * over both layouts. Bounds recompute deterministically from the
    * source table (one agg — the box must be derived identically on
    * every probe of a cached layout). */
  def zorderScanProbe(spark: SparkSession, dir: String,
      outBase: String): Seq[(String, Long, Long)] = {
    val (uMin, uMax, dMin, dRange) = scanBounds(spark, dir)
    // the center 1/8 x 1/8 of each RAW value range (so the box always
    // holds data at any SF), phrased on the raw columns so only file
    // stats — not helper columns — can prune it
    val uStep = math.max(1L, (uMax - uMin + 1) / 8)
    val (uLo, uHi) = (uMin + 3 * uStep, uMin + 4 * uStep - 1)
    val dStep = math.max(1L, (dRange + 1) / 8)
    // TIMESTAMP literals in SQL text: a lit(java.sql.Timestamp) would
    // route through the same sun.util.calendar handles as Date below
    val tLo = dMin.plusDays(3 * dStep).atStartOfDay()
    val tHiX = dMin.plusDays(4 * dStep).atStartOfDay()
    val box = col("user_id").between(uLo, uHi) &&
      expr(s"ts >= TIMESTAMP'$tLo'") && expr(s"ts < TIMESTAMP'$tHiX'")
    Seq(s"$outBase/zorder" -> "zorder", s"$outBase/xsort" -> "xsort")
      .map { case (d, name) =>
        val (read, matched) = scanRowsRead(spark, d, box)
        (name, read, matched)
      }
  }

  /** (u_min, u_max, first day, day span) of the events table — as
    * plain longs (epoch days, not java.sql.Date: Date deserialization
    * needs sun.util.calendar opens a bare-java classpath lacks). */
  private def scanBounds(spark: SparkSession,
      dir: String): (Long, Long, java.time.LocalDate, Long) = {
    val b = Tables.events(spark, dir).agg(
      min("user_id"), max("user_id"),
      min(unix_date(to_date(col("ts")))).cast("long"),
      max(unix_date(to_date(col("ts")))).cast("long")).head()
    (b.getLong(0), b.getLong(1),
      java.time.LocalDate.ofEpochDay(b.getLong(2)),
      b.getLong(3) - b.getLong(2))
  }

  /** Driver-gate form of the real-reader proof: the z-layout must
    * deliver the SAME matching rows while reading STRICTLY fewer from
    * disk than the single-column sort — SF-checked on every verify
    * run like the ANN recall gates, not only in LayoutSpec. Every
    * call files both layouts into a fresh scratch directory and then
    * pays two pruned scans. File count scales with volume (~400
    * events per file, the compaction knob a lake would set from
    * target file size): a fixed 64 at sf1+ makes files so large the
    * day dimension's per-file span saturates — the recorded 64-file
    * sf0.1 sensitivity. */
  def zorderScanGate(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("graft-zorder-scan")
    // ~400 events per simulated file — the grain where sf0.1 lands at
    // the proven 256-file regime (0.39x rows read); 64 files at sf0.1
    // is the RECORDED too-shallow-day sensitivity and would flip the
    // gate
    val nEvents = Tables.events(spark, dir).count()
    val numFiles = math.max(64L, math.min(4096L, nEvents / 400L)).toInt
    zorderScanWrite(spark, dir, base, numFiles)
    val r = zorderScanProbe(spark, dir, base)
      .map(t => t._1 -> (t._2, t._3)).toMap
    val (zRead, zMatch) = (r("zorder")._1, r("zorder")._2)
    val (xRead, xMatch) = (r("xsort")._1, r("xsort")._2)
    import spark.implicits._
    Seq((if (zMatch == xMatch && zMatch > 0) 1L else 0L,
        if (zRead < xRead) 1L else 0L))
      .toDF("results_match", "z_reads_fewer")
  }

  val zorderScanGateSql: String =
    "SELECT CAST(1 AS BIGINT) AS results_match, " +
      "CAST(1 AS BIGINT) AS z_reads_fewer"
}
