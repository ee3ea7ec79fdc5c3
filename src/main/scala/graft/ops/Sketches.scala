package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Mergeable distinct-count sketches (Apache DataSketches HLL, built
  * into Spark 4) — the pre-aggregation pattern that serves distinct
  * counts at 100 TB without rescanning raw data: fine-grained sketches
  * are computed ONCE at ingest grain and persisted; any coarser
  * rollup (weekly, monthly, all-time, cross-segment) is a UNION of
  * sketch buffers — bytes-sized state, no shuffle of raw ids, and no
  * second pass over the events table. `approx_count_distinct` cannot
  * do this: its HLL++ buffer is consumed inside one aggregate and
  * cannot be stored or merged across queries.
  *
  * Accuracy: lgConfigK=12 ⇒ ~1.6% relative standard error; the
  * rollup-vs-exact band is asserted in OpsSpec.
  */
object Sketches {

  /** Per-(event_type, day) HLL sketch of distinct users — the ingest
    * grain a pipeline would persist alongside its daily partitions. */
  def dailyUserSketches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("user_sketch"),
        count(lit(1)).as("n_events"))

  /** Monthly distinct users per event type — computed purely by
    * merging the daily sketches, never touching raw events. */
  def monthlyDistinctFromDaily(daily: DataFrame): DataFrame =
    daily
      .groupBy(col("event_type"),
        date_trunc("month", col("day")).cast("date").as("month"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("user_sketch")))
          .as("distinct_users_est"),
        sum(col("n_events")).as("n_events"))

  /** Registered query: monthly estimates via sketch merge (rows-only —
    * estimates can't hash-match an exact oracle; the band test is in
    * OpsSpec). */
  def monthlyUserEstimates(spark: SparkSession, dir: String): DataFrame =
    monthlyDistinctFromDaily(dailyUserSketches(spark, dir))

  /** The quantile analog (DataSketches KLL): per-day value sketches,
    * merged to monthly percentiles without rescanning — what
    * `approx_percentile` cannot do across queries. KLL rank error at
    * the default k is ~1.3%; band vs exact asserted in OpsSpec. */
  def dailyValueSketches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("kll_sketch_agg_double(value)").as("value_sketch"),
        count(lit(1)).as("n_events"))

  def monthlyQuantilesFromDaily(daily: DataFrame): DataFrame =
    daily
      .groupBy(col("event_type"),
        date_trunc("month", col("day")).cast("date").as("month"))
      .agg(expr(
        "kll_sketch_get_quantile_double(" +
          "kll_merge_agg_double(value_sketch), array(0.5D, 0.99D))")
        .as("q"))
      .select(col("event_type"), col("month"),
        col("q").getItem(0).as("q50_est"),
        col("q").getItem(1).as("q99_est"))

  def monthlyValueQuantiles(spark: SparkSession, dir: String): DataFrame =
    monthlyQuantilesFromDaily(dailyValueSketches(spark, dir))

  // ----- Count-Min sketch (frequency / heavy hitters) -----
  //
  // The frequency analog of the HLL/KLL pattern above, with one extra
  // property the library exploits: a CMS is TABLE-SHAPED data —
  // (cms_row, bucket, cnt) with cnt a plain SUM — so it is mergeable
  // by GROUP BY, persistable as parquet, AND recomputable from
  // scratch by DuckDB. Every hash is the portable md5 trick
  // (seeded "j:item" strings, low-32-hex-digit bucket), so unlike the
  // DataSketches binary buffers the registered queries here are
  // HASH-EXACT oracled, not band-tested: the oracle recomputes the
  // whole sketch and the estimates must match bit-for-bit.
  //
  // Scale shape: the build is one events scan — the d=4 per-row
  // buckets are codegen'd md5 columns exploded BELOW the scan, and
  // map-side partial aggregation collapses the shuffle to ≤ d·w rows
  // per partition (the sketch is d·w rows total, CONSTANT in event
  // volume). Estimates join a k-row candidate frame against the
  // d·w-row sketch — broadcast, no corpus-sized stage anywhere past
  // the scan. At 100 TB the ingest grain persists per-partition
  // sketches and any rollup (monthly, global, cross-source) is a sum.
  //
  // WIDTH AUTO-SCALES with key cardinality (the r12 fixed-structure
  // lesson: a 4×256 constant drowns heavy hitters in ε·N noise once
  // the key space outgrows the buckets). w = max(256, pow2ceil(
  // ceil(n_keys / 8))) keeps expected bucket occupancy ≈ 8 keys, so
  // the e/w relative-error contract holds at every SF; the 256 floor
  // keeps every provisioned gate SF (≤ 2048 users) bit-identical to
  // the historical sketch. pow2ceil is computed as
  // 1 << length(bin(c−1)) — pure integer ops both engines evaluate
  // identically (log2-the-float is the graphDegrees hazard), and the
  // ORACLE derives w by the same formula, so the registered queries
  // stay hash-exact at ANY SF, not just where the floor bites.
  // The cardinality input here is an exact COUNT(DISTINCT) (one
  // key-grain shuffle, same cost class as the heavy-hitter candidate
  // scan); a persisted 100 TB store would feed the epoch's HLL
  // estimate instead — width is FROZEN when an ingest-grain sketch
  // is persisted (mergeability demands one w per store; re-widening
  // is a rebuild).

  private val cmsDepth = 4

  /** pow2ceil width from a BIGINT cardinality column `nk` — the one
    * integer formula every width source (exact COUNT DISTINCT, HLL
    * estimate, the SQL oracle) evaluates identically. */
  private def pow2WidthExpr(nk: String): String =
    s"greatest(256L, shiftleft(1L, " +
      s"length(bin(greatest(($nk + 7) div 8, 2L) - 1))))"

  /** The auto-width as a broadcastable 1-row frame (w) — computed
    * declaratively from the same events frame, no driver action. */
  private def cmsWidthFrame(ev: DataFrame): DataFrame =
    ev.agg(count_distinct(col("user_id")).as("nk"))
      .select(expr(pow2WidthExpr("nk")).as("w"))

  /** [[cmsWidthFrame]] fed from the epoch's PERSISTED HLL rollup
    * instead of an exact COUNT(DISTINCT) — the 100 TB form: the
    * ingest grain already persists [[dailyUserSketches]], so sizing a
    * new CMS store is a union of kilobyte sketch buffers, never a
    * key-grain shuffle over raw events. The ~1.6% HLL error moves the
    * pow2ceil width at most one step at bucket-boundary cardinalities
    * — occupancy lands in [4, 16] instead of the exact ≈8, both well
    * inside the 3·N/w error contract (OpsSpec pins the band). */
  def cmsWidthFromHll(dailySketches: DataFrame): DataFrame =
    dailySketches
      .agg(expr("cast(hll_sketch_estimate(hll_union_agg(user_sketch)) " +
        "as bigint)").as("nk"))
      .select(expr(pow2WidthExpr("nk")).as("w"))

  /** SQL twin of [[cmsWidthFrame]]'s expression — the oracle computes
    * the width by the SAME integer formula. */
  private val cmsWidthSqlExpr =
    "GREATEST(256, 1 << length(bin(GREATEST(" +
      "(COUNT(DISTINCT user_id) + 7) // 8, 2) - 1)))"

  /** Bucket of `item` in CMS row `j`: low 32 hex digits of
    * md5("j:item") mod width — engine-portable, like
    * [[Dedup.portableMinhashSigs]]'s pHash. */
  private def cmsBucket(j: Int, item: org.apache.spark.sql.Column,
      width: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(s"$j:"), item.cast("string"))), 25, 8),
      16, 10).cast("long") % width

  /** Spec seams: width and a flat sketch over an ARBITRARY (user_id)
    * frame, so the error-contract test can plant cardinality regimes
    * the registered tables don't reach. */
  private[graft] def cmsWidthOf(ev: DataFrame): Long =
    cmsWidthFrame(ev).head().getLong(0)

  private[graft] def cmsSketchFor(ev: DataFrame): DataFrame =
    // composed from the SAME parameterized core the persisted store
    // path uses (dummy month + derived width) — not a re-spelled
    // copy, so a change to bucket/depth derivation cannot fork the
    // spec seam from the store sketch the specs compare against
    monthlySketchAt(
        ev.select(lit(java.sql.Date.valueOf("1970-01-01")).as("month"),
          col("user_id")),
        cmsWidthFrame(ev))
      .groupBy("cms_row", "bucket").agg(sum("cnt").as("cnt"))

  /** Per-month CMS of per-user event counts — the ingest-grain frame
    * a pipeline persists; coarser sketches are GROUP BY sums of it. */
  def monthlyCmsSketches(spark: SparkSession, dir: String): DataFrame = {
    // one base frame feeds BOTH the sketch rows and the width
    // derivation; the sketch itself is the shared parameterized core
    val base = Tables.events(spark, dir)
    monthlySketchAt(
        base.select(date_trunc("month", to_date(col("ts"))).cast("date")
          .as("month"), col("user_id")),
        cmsWidthFrame(base))
      .select("month", "cms_row", "bucket", "cnt")
  }

  /** Global sketch by MERGING the monthly grain — pure arithmetic
    * (bucket counts sum), never re-touching events. */
  def mergedCmsSketch(spark: SparkSession, dir: String): DataFrame =
    monthlyCmsSketches(spark, dir)
      .groupBy("cms_row", "bucket")
      .agg(sum("cnt").as("cnt"))

  // ----- persisted epoch store: HLL-fed width, FROZEN on disk -----

  /** Monthly sketch of a (month, user_id) frame at an explicit width
    * frame — the parameterized core both the session queries and the
    * persisted store share. The width rides in every row: mergeability
    * demands one w per store, and carrying it in-band makes the store
    * self-describing (no sidecar to lose). */
  private def monthlySketchAt(monthEvents: DataFrame,
      widthFrame: DataFrame): DataFrame =
    monthEvents.crossJoin(broadcast(widthFrame))
      .select(col("month"), col("w"),
        explode(array((0 until cmsDepth).map(j =>
          struct(lit(j).as("cms_row"),
            cmsBucket(j, col("user_id"), col("w")).as("bucket"))): _*))
          .as("rb"))
      .select(col("month"), col("w"), col("rb.cms_row").as("cms_row"),
        col("rb.bucket").as("bucket"))
      .groupBy("month", "w", "cms_row", "bucket")
      .agg(count(lit(1)).as("cnt"))

  private def monthEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_trunc("month", to_date(col("ts"))).cast("date")
        .as("month"), col("user_id"))

  /** Create a persisted monthly CMS store: the width comes from the
    * epoch's HLL rollup ([[cmsWidthFromHll]] — sketch-buffer bytes,
    * never a second key-grain pass over raw events) and is FROZEN
    * into every row. Returns the frozen width. */
  def buildCmsStore(spark: SparkSession, dir: String,
      storePath: String): Long = {
    val wf = cmsWidthFromHll(dailyUserSketches(spark, dir))
      .localCheckpoint()
    monthlySketchAt(monthEvents(spark, dir), wf)
      .write.mode("overwrite").parquet(storePath)
    wf.head().getLong(0)
  }

  /** Append a new epoch's (month, user_id) rows to an existing store
    * AT THE STORE'S FROZEN WIDTH — the epoch's own cardinality never
    * re-derives w (bucket counts at two widths cannot merge;
    * re-widening is a rebuild, and a store that somehow holds two
    * widths fails loudly here rather than merging garbage). Repeated
    * months across epochs are fine: the merge is a SUM. */
  def appendEpochToCmsStore(spark: SparkSession, newMonthEvents: DataFrame,
      storePath: String): Unit = {
    val ws = spark.read.parquet(storePath)
      .select("w").distinct().collect().map(_.getLong(0))
    require(ws.length == 1,
      s"CMS store at $storePath holds widths ${ws.sorted.mkString(",")} " +
        "— a store has exactly ONE frozen width (re-widening is a " +
        "rebuild via buildCmsStore)")
    monthlySketchAt(newMonthEvents,
        spark.range(1).select(lit(ws.head).as("w")))
      .write.mode("append").parquet(storePath)
  }

  /** The store merged to one global sketch (plus its width) — pure
    * bucket-count sums over the persisted rows, raw data untouched. */
  def cmsStoreMerged(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(storePath)
      .groupBy("w", "cms_row", "bucket")
      .agg(sum("cnt").as("cnt"))

  /** Registered driver gate for the persisted epoch store — the
    * OpsSpec append+merge proof lifted to the hash-exact tier where
    * every other persisted store lives. The store is built from the
    * first half-month epoch with the width FROZEN from epoch 1's
    * exact cardinality (the one width source the SQL oracle can
    * reproduce — the HLL-fed production sizing stays band-pinned in
    * OpsSpec), the second epoch appends AT the frozen width
    * ([[appendEpochToCmsStore]] — never re-deriving w), and the
    * merged result must hash-match DuckDB's from-scratch sketch
    * (width over epoch 1, buckets over ALL events): build + append +
    * merge ≡ one-pass, at every SF the oracle check runs. Every call
    * builds its own store in a fresh scratch directory. */
  def cmsStoreMergedQuery(spark: SparkSession, dir: String): DataFrame = {
    val store = Scratch.dir("graft-cms-store")
    val raw = Tables.events(spark, dir)
    def me(df: DataFrame): DataFrame =
      df.select(date_trunc("month", to_date(col("ts"))).cast("date")
        .as("month"), col("user_id"))
    val epoch1 = me(raw.where(dayofmonth(col("ts")) <= 15))
    val epoch2 = me(raw.where(dayofmonth(col("ts")) > 15))
    monthlySketchAt(epoch1, cmsWidthFrame(epoch1))
      .write.mode("overwrite").parquet(store)
    appendEpochToCmsStore(spark, epoch2, store)
    cmsStoreMerged(spark, store)
  }

  val cmsStoreMergedSql: String =
    s"""WITH e1 AS (
       |  SELECT user_id FROM events WHERE EXTRACT(day FROM ts) <= 15),
       |cw AS (SELECT $cmsWidthSqlExpr AS w FROM e1),
       |rb AS (
       |  SELECT cw.w AS w, t.j AS cms_row,
       |         CAST(concat('0x', substr(md5(CAST(t.j AS VARCHAR) || ':' ||
       |              CAST(user_id AS VARCHAR)), 25, 8)) AS BIGINT) % cw.w
       |           AS bucket
       |  FROM events, cw, UNNEST(range(0, 4)) AS t(j))
       |SELECT CAST(w AS BIGINT) AS w, cms_row, bucket,
       |       CAST(COUNT(*) AS BIGINT) AS cnt
       |FROM rb GROUP BY 1, 2, 3""".stripMargin

  /** Spec seam: flat sketch of a (user_id) frame at an EXPLICIT width
    * — lets the store spec rebuild the union from scratch at the
    * frozen width and assert the append+merge path estimate-invariant. */
  private[graft] def cmsSketchAtWidth(ev: DataFrame, w: Long): DataFrame =
    monthlySketchAt(
        ev.select(lit(java.sql.Date.valueOf("1970-01-01")).as("month"),
          col("user_id")),
        ev.sparkSession.range(1).select(lit(w).as("w")))
      .groupBy("cms_row", "bucket").agg(sum("cnt").as("cnt"))

  /** Shared CTE body (width + bucketed rows + sketch) — the heavy-
    * hitter oracle composes it rather than string-rewriting it (the
    * r12 derive-by-composition rule). */
  private val cmsCteBody: String =
    s"""cw AS (SELECT $cmsWidthSqlExpr AS w FROM events),
       |rb AS (
       |  SELECT t.j AS cms_row,
       |         CAST(concat('0x', substr(md5(CAST(t.j AS VARCHAR) || ':' ||
       |              CAST(user_id AS VARCHAR)), 25, 8)) AS BIGINT) % cw.w
       |           AS bucket
       |  FROM events, cw, UNNEST(range(0, 4)) AS t(j)),
       |sk AS (SELECT cms_row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM rb GROUP BY 1, 2)""".stripMargin

  val cmsSketchSql: String =
    s"WITH $cmsCteBody\nSELECT cms_row, bucket, cnt FROM sk"

  /** Heavy hitters with CMS estimates: the exact top-10 users (total
    * order: count desc, user_id — engine-deterministic) attached to
    * their merged-sketch estimate `min_j cnt[j][h_j(u)]`. The CMS
    * guarantee `cms_est ≥ exact_cnt` is visible in the output rows;
    * the hash-exact oracle (DuckDB rebuilds the sketch from scratch)
    * proves the monthly-merge path is estimate-invariant. At corpus
    * scale the candidate set comes from per-partition heavy hitters
    * instead of a full exact group-by; the estimate join is unchanged
    * (k·d rows against the 1k-row broadcast sketch). */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"))
    // the width derives ONCE per query (materialized 1-row frame):
    // the key-grain COUNT DISTINCT shuffle behind it is the dominant
    // non-candidate cost at corpus scale, and it previously ran twice
    // — once for the candidate buckets, once inside the merged
    // sketch's own derivation
    val width = cmsWidthFrame(ev).localCheckpoint()
    val cand = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("user_id").asc)
      .limit(10)
    val candBuckets = cand
      .crossJoin(broadcast(width))
      .select(col("user_id"), col("exact_cnt"),
        explode(array((0 until cmsDepth).map(j =>
          struct(lit(j).as("cms_row"),
            cmsBucket(j, col("user_id"), col("w")).as("bucket"))): _*))
          .as("rb"))
      .select(col("user_id"), col("exact_cnt"),
        col("rb.cms_row").as("cms_row"), col("rb.bucket").as("bucket"))
    // the merged sketch still goes THROUGH the monthly grain (the
    // estimate-invariance of merging is what the query proves), at
    // the shared width
    val merged = monthlySketchAt(
        Tables.events(spark, dir)
          .select(date_trunc("month", to_date(col("ts"))).cast("date")
            .as("month"), col("user_id")),
        width)
      .groupBy("cms_row", "bucket").agg(sum("cnt").as("cnt"))
    candBuckets
      .join(broadcast(merged), Seq("cms_row", "bucket"))
      .groupBy("user_id", "exact_cnt")
      .agg(min("cnt").as("cms_est"))
  }

  val cmsHeavyHittersSql: String =
    s"""WITH $cmsCteBody,
       |cand AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
       |  FROM events GROUP BY 1
       |  ORDER BY exact_cnt DESC, user_id LIMIT 10),
       |cb AS (
       |  SELECT c.user_id, c.exact_cnt, t.j AS cms_row,
       |         CAST(concat('0x', substr(md5(CAST(t.j AS VARCHAR) || ':' ||
       |              CAST(c.user_id AS VARCHAR)), 25, 8)) AS BIGINT) % cw.w
       |           AS bucket
       |  FROM cand c, cw, UNNEST(range(0, 4)) AS t(j))
       |SELECT cb.user_id, cb.exact_cnt, MIN(sk.cnt) AS cms_est
       |FROM cb JOIN sk ON sk.cms_row = cb.cms_row AND sk.bucket = cb.bucket
       |GROUP BY 1, 2""".stripMargin
}
