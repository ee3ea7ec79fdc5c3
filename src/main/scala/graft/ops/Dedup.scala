package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{Dirs, Session, Tables}

/** Deduplication operators for a training-data pipeline: exact,
  * n-gram-Jaccard (exact set similarity), MinHash+LSH (the 100 TB scale
  * path), and SimHash. Extension beyond the reference surface
  * (SURVEY §7 step 7).
  *
  * Scale design:
  *  - Exact dedup is one hash-shuffle on a 16-byte fingerprint —
  *    optimal; at 100 TB the shuffle carries only (fp, doc_id).
  *  - Exact Jaccard via shingle self-join is quadratic in per-shingle
  *    document frequency; it is the *oracle* for the approximate paths,
  *    not the scale path. At scale, hot shingles (stop-shingles) make
  *    the join explode — which is exactly why MinHash+LSH exists: cost
  *    becomes #docs × #bands with bucket-bounded joins, independent of
  *    pairwise overlap structure.
  *  - MinHash signatures are computed per-row with array expressions —
  *    no explode, no shuffle until the (band, bucket) join; band hashes
  *    are the only shuffled payload.
  */
object Dedup {

  /** Exact duplicate groups: md5 of normalized text → group size + the
    * survivor (min doc_id). The classic first pass of every dedup
    * pipeline. */
  def exactDupGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(TextStats.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  val exactDupGroupsSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY 1""".stripMargin

  /** Surviving rows after exact dedup (keep min doc_id per fingerprint).
    * Window-free formulation: semi-join against the survivor set — at
    * scale this is one shuffle on fp instead of a global window sort. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val survivors = docs
      .groupBy(TextStats.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(survivors, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
  }

  val dedupExactSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id IN (
      |  SELECT MIN(doc_id) FROM documents
      |  GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))""".stripMargin

  /** Incremental dedup — the steady-state shape of a production
    * pipeline: a NEW batch is deduped against the fingerprint store of
    * everything already ingested, not against itself-plus-history.
    * One anti-join on the 16-byte fingerprint: the history side is a
    * (fp)-only table, so at 100 TB the shuffle carries fingerprints,
    * never text; with the store bucketed by fp the join is
    * shuffle-free. Self-dups within the new batch collapse by
    * [[firstArrivals]]. */
  def dedupAgainstHistory(newDocs: DataFrame, historyFps: DataFrame): DataFrame = {
    val rows = newDocs.withColumn("fp", TextStats.fingerprint(col("text")))
    firstArrivals(rows,
        rows.join(historyFps.select("fp"), Seq("fp"), "left_anti"))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** The one survivor rule of every exact dedup against a fingerprint
    * history (plain, Bloom-screened, and both ingest batch forms):
    * `fresh` holds the (doc_id, fp) of the batch rows no history fp
    * matched; a row survives when its doc_id is the min doc_id of SOME
    * fp group of `fresh` — the oracle's `doc_id IN (SELECT MIN(doc_id)
    * FROM fresh GROUP BY fp)`, a semi-join on doc_id alone. The
    * survivors' full rows come back from `rows` (the batch with its
    * `fp` column) by (doc_id, fp), so a duplicate doc_id keeps only
    * its own fresh texts, and by NULL-SAFE fp equality, so a null-text
    * row (null fp, which matches no history fp) survives as it does in
    * the oracle.
    *
    * `fresh` is localCheckpoint'd (batch-sized, two columns): it fans
    * out into the collapse aggregate and the semi-join, and Spark
    * inlines the subtree per reference — without the checkpoint the
    * history anti-join, whose cost is the store scan, ran once per
    * reference (2-3 store scans per batch, measured at 8M fps). */
  private[graft] def firstArrivals(rows: DataFrame,
      fresh: DataFrame): DataFrame = {
    val f = fresh.select("doc_id", "fp").localCheckpoint()
    val keep = f.join(
        f.groupBy("fp").agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("__id"), col("fp").as("__fp"))
    rows.join(keep,
      rows("doc_id") === keep("__id") && rows("fp") <=> keep("__fp"),
      "left_semi")
  }

  /** Oracle query: sources src0/src1 arrive as the new batch, the rest
    * are history. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val history = docs.where(!col("source").isin("src0", "src1"))
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
    dedupAgainstHistory(docs.where(col("source").isin("src0", "src1")),
      history)
  }

  // NULL-fp rows mirror the Spark anti-join exactly: a null batch fp
  // matches nothing (kept), a null history fp matches nothing (must
  // not poison the NOT IN — one NULL in the subquery makes every
  // membership test UNKNOWN and empties `fresh` under three-valued
  // logic)
  val dedupIncrementalSql: String =
    """WITH f AS (
      |  SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |  FROM documents),
      |fresh AS (
      |  SELECT * FROM f
      |  WHERE source IN ('src0', 'src1')
      |    AND (fp IS NULL OR fp NOT IN (
      |      SELECT fp FROM f
      |      WHERE source NOT IN ('src0', 'src1') AND fp IS NOT NULL)))
      |SELECT doc_id, lang, source, n_chars FROM fresh
      |WHERE doc_id IN (SELECT MIN(doc_id) FROM fresh GROUP BY fp)""".stripMargin

  /** [[dedupAgainstHistory]] with a BLOOM FILTER screen in front of
    * the anti-join — the steady-state ingest shape when history is
    * enormous and the batch is small. The anti-join's cost is a
    * shuffle of the BATCH against the HISTORY fingerprint store; even
    * fp-bucketed, every batch row touches the store. A Bloom filter
    * over the history fps (built once per ingest epoch, reused across
    * batches; ~1.2 GB at 10⁹ fps / 1% fpp) splits the batch:
    * definite-new rows (no false negatives — the overwhelming
    * majority of a healthy crawl) SKIP the store entirely; only
    * bloom-positive rows (true dups + fpp of the new) are confirmed
    * by the exact anti-join, so the join input shrinks from |batch|
    * to |dups| + fpp·|new|. The output is EXACTLY
    * [[dedupAgainstHistory]]'s — the bloom is pure pruning, and the
    * shared DuckDB oracle (a from-scratch NOT IN) makes the hash
    * match a differential proof of that.
    *
    * The filter is SHARDED BY FP PREFIX ([[bloomShardFrame]]) and the
    * batch is screened by the one [[cogroupScreen]]; one shard is
    * just the cogroup with a single filter row. `shards ≤ 0` picks
    * ceil(expectedItems / [[BloomShardItemCap]]) shards. No plan
    * embeds a filter literal, so no per-filter size ceiling applies.
    * Null fingerprints never enter a filter and always take the
    * exact confirm path, where the anti-join keeps them (null matches
    * nothing), same as the unscreened form. */
  def dedupAgainstHistoryBloom(newDocs: DataFrame, historyFps: DataFrame,
      expectedItems: Long, fpp: Double = 0.01, shards: Int = 0): DataFrame = {
    val items = math.max(expectedItems, 1L)
    val n = if (shards > 0) shards
      else ((items + BloomShardItemCap - 1) / BloomShardItemCap).toInt
    val filters = bloomShardFrame(historyFps, n, (items + n - 1) / n, fpp)
    dedupeScreened(newDocs, cogroupScreen(newDocs, filters, n), historyFps)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Positive-slice size under which the exact confirm runs as an
    * IN-set probe of the history store instead of the full anti
    * merge join. The full join's cost is the HISTORY-side scan —
    * O(history) per batch no matter how small the positive slice —
    * while an IN-set of the slice's fps BUCKET-PRUNES the store scan
    * (`SelectedBucketsCount` < total in the plan; the fps ship to the
    * driver first, a collect bounded by this cap — ~320 KiB of
    * 32-char fps). That makes the steady state's per-batch store IO
    * proportional to the DUPLICATE COUNT, not the accumulated history
    * — the mostly-new batch (the common crawl-ingest regime) touches
    * only the buckets its few re-crawls hash to. Above the cap the
    * merge join over the bucket layout is the right plan (exchange-
    * and sort-free on the store side). The plan-shape specs pin both
    * regimes through [[confirmAgainstHistory]]'s `cap` argument.
    *
    * Sizing note: the positive slice of a mostly-new batch is
    * ~`fpp × batchSize` FALSE positives plus the true re-crawls, so
    * the cap must exceed that product for the probe to fire in the
    * very regime it serves — 10k covers a 400k-row batch at the
    * default fpp 0.01 with headroom. */
  private val ConfirmInFilterCap = 10000

  /** The store fps matching a small fp set — the probe scan of the
    * bucket-pruned confirm. MUST execute with
    * `autoBucketedScan.enabled = false`: the planner's
    * DisableUnnecessaryBucketedScan un-buckets a scan feeding a
    * broadcast join (no distribution needed) and bucket-set pruning
    * does NOT apply on the plain read path — measured 8/8 files read
    * un-bucketed vs `SelectedBucketsCount: 2 out of 8` bucketed on
    * the same probe. [[confirmAgainstHistory]] materializes it under
    * the pinned conf; exposed for the plan-shape spec. */
  private[graft] def storeFpsIn(historyFps: DataFrame,
      fps: Seq[String]): DataFrame =
    historyFps.select("fp").where(col("fp").isin(fps: _*))

  /** The exact confirm of a bloom-positive slice against the history
    * store — IN-set probe up to `cap` distinct fps, full anti-join
    * above or at `cap = 0` (see [[ConfirmInFilterCap]]). `maybes` must
    * be a MATERIALIZED frame (checkpointed screen output): the small
    * collect re-reads cached blocks, never re-runs the screen.
    * Identical output either way: null fps match nothing in both
    * forms and duplicate store fps can't multiply an anti-join.
    *
    * The probe materializes EAGERLY (a ≤ cap-row localCheckpoint)
    * under the same conf lock the store's appends use — the
    * bucketed-scan pin and an append's identical toggle must not
    * race each other's save/restore. */
  private[graft] def confirmAgainstHistory(maybes: DataFrame,
      historyFps: DataFrame, cap: Int = ConfirmInFilterCap): DataFrame = {
    val spark = maybes.sparkSession
    // ONE bounded job decides the regime AND fetches the probe set:
    // collect at most cap+1 distinct fps (driver memory bounded by
    // the cap either way) — cap+1 rows back means "too many, take
    // the merge join", never an unbounded collect
    val fps = if (cap > 0)
      maybes.select("fp").where(col("fp").isNotNull)
        .distinct().limit(cap + 1)
        .collect().map(_.getString(0)).toIndexedSeq
      else IndexedSeq.empty[String]
    if (cap > 0 && fps.length <= cap) {
      if (fps.isEmpty) maybes
      else {
        val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        val dup = graft.streaming.Ingest.bucketedConfLock.synchronized {
          graft.core.Session.withConf(spark, key -> "false") {
            storeFpsIn(historyFps, fps).localCheckpoint()
          }
        }
        maybes.join(dup, Seq("fp"), "left_anti")
      }
    } else maybes.join(historyFps.select("fp"), Seq("fp"), "left_anti")
  }

  /** Shared tail of every bloom-screened dedup: bloom-positive
    * verdicts are confirmed by the exact anti-join
    * ([[confirmAgainstHistory]]), definite-new ones skip the store,
    * and [[firstArrivals]] collapses batch self-dups and re-attaches
    * the batch's full rows (plus `fp`). */
  private def dedupeScreened(newDocs: DataFrame, verdicts: DataFrame,
      historyFps: DataFrame): DataFrame =
    firstArrivals(newDocs.withColumn("fp", TextStats.fingerprint(col("text"))),
      confirmAgainstHistory(verdicts.where(col("__maybe")), historyFps)
        .unionByName(verdicts.where(!col("__maybe"))))

  /** Per-filter item budget: [[dedupAgainstHistoryBloom]] picks
    * ceil(items / cap) shards when the caller passes none, and
    * [[rebuildBloomStore]] grows a store's shard count to keep every
    * shard under it. 4M items is Spark's own runtime row-level
    * filtering ceiling (`spark.sql.optimizer.runtime.bloomFilter.max*`
    * defaults) — ~4.6 MiB per filter at 1% fpp, one filter held per
    * in-flight screen group. */
  private[graft] val BloomShardItemCap = 4000000L

  /** Shard id of a fingerprint: the fp's first 12 bits (3 hex chars of
    * the md5) mod `shards` — computable identically at build time and
    * probe time, no extra hash. Null fp ⇒ null shard (routed to the
    * exact confirm path). Supports up to 4096 shards ≈ 1.6·10¹⁰ fps
    * under the per-shard cap. */
  private def fpShard(fp: Column, shards: Int): Column =
    (conv(substring(fp, 1, 3), 16, 10).cast("long") % shards).cast("int")

  /** One-pass build of the prefix-sharded epoch filter frame:
    * (shard, n_fps, filter) — the bloom aggregation AND the shard's
    * exact fp count come out of the SAME history scan, so the store's
    * sizing stats are a free by-product, never a second corpus action
    * (the r12 `docs.count()` lesson). Filters are Catalyst's own
    * `BloomFilterAggregate` over `xxhash64(fp)`, sized to
    * `itemsPerShard`; [[cogroupScreen]] reads them back through the
    * public sketch API. */
  private[graft] def bloomShardFrame(historyFps: DataFrame, shards: Int,
      itemsPerShard: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val n = math.max(itemsPerShard, 1L)
    // optimal bits for (n, p): ceil(-n ln p / ln²2) — the standard
    // bloom sizing formula Spark's sketch library uses internally
    val bits = math.ceil(-n * math.log(fpp) /
      (math.log(2.0) * math.log(2.0))).toLong
    val agg = Bridge.column(new BloomFilterAggregate(
      Bridge.expression(xxhash64(col("fp"))),
      Literal(n), Literal(bits)).toAggregateExpression())
    // REPARTITION BY SHARD FIRST: without it, map-side partial
    // aggregation makes every scan task hold one full-size filter
    // buffer PER SHARD (tasks × shards × filter bytes — measured OOM
    // at 32 M fps / 8 shards / 32 tasks). Pre-shuffling on the shard
    // key satisfies the aggregate's distribution, so each build task
    // holds exactly the buffers of its own shard(s) — memory is
    // one-filter-per-task flat no matter how many shards the epoch
    // needs, and the build parallelism is shard-grain (≫ cores at
    // the history sizes that need sharding at all).
    historyFps
      .where(col("fp").isNotNull)
      .withColumn("shard", fpShard(col("fp"), shards))
      .repartition(col("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_fps"), agg.as("filter"))
  }

  /** The slim batch row the screen shuffles — text dies at the
    * fingerprint — with the probe hash (the `xxhash64(fp)` the filters
    * were built over) and the shard id (-1 = null fp); and the one
    * verdict row every screen returns, as (doc_id, fp, __maybe). */
  private[ops] case class FpRow(doc_id: Long, fp: String, h: Long,
      shard: Int)
  private[ops] case class FpVerdict(doc_id: Long, fp: String,
      maybe: Boolean)

  /** The one Bloom screen: verdicts (doc_id, fp, __maybe) for any
    * (doc_id, text) batch against a (shard, …, filter) frame — built
    * in memory ([[bloomShardFrame]]) or read from a persisted
    * [[buildBloomStore]] store. ONE job, a typed COGROUP: batch rows
    * keyed by (shard, h mod salts) meet their shard's filter row(s),
    * replicated per salt; each group deserializes its filters once
    * and probes the precomputed hashes. No plan embeds a filter
    * literal and no driver loop runs, so per-batch wall is flat in
    * BOTH history size and shard count (SCALE.md's StressBloom rows).
    * The batch moves once (slim), the filter frame once (one ~MiB row
    * per shard per salt). A healthy store has ONE filter row per
    * shard per epoch; several rows (incremental
    * [[appendToBloomStore]] appends, or a torn store write) are the
    * shard's history UNION, so every row is probed — taking the first
    * would turn the extras' dups into false "new" rows. Shard < 0
    * (null fp) rides to the exact confirm; a shard with batch rows
    * but no filter row is definite-new.
    *
    * Salts: one shard's batch slice is one cogroup group, so a store
    * at a small shard count would screen the whole batch on 1-2
    * cores. `salts ≤ 0` takes min(16, parallelism / shards) (≥ 1):
    * screen parallelism ≥ min(cores, rows) at any shard count, while
    * the filter frame's shuffle volume stays ~parallelism × filter
    * bytes (shards ≥ parallelism ⇒ one salt). Verdicts are per-row
    * functions of (h, shard filters), so they are salt-invariant by
    * construction; the salt spec passes `salts` explicitly.
    *
    * localCheckpoint'd: the confirm tail reads the verdicts twice
    * (positive and negative slices) and a lazy cogroup re-executes
    * per reference — measured 3x the whole screen riding in the full
    * dedup wall. Batch-sized and slim, so bounded at any history. */
  private[graft] def cogroupScreen(newDocs: DataFrame, filters: DataFrame,
      shards: Int, salts: Int = 0): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val nSalts = if (salts > 0) salts
      else math.max(1, math.min(16,
        spark.sparkContext.defaultParallelism / math.max(shards, 1)))
    val rows = newDocs
      .select(col("doc_id").cast("long").as("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
      .select(col("doc_id"), col("fp"), xxhash64(col("fp")).as("h"),
        coalesce(fpShard(col("fp"), shards), lit(-1)).as("shard"))
      .as[FpRow]
    val filts = filters.select(col("shard"), col("filter"))
      .as[(Int, Array[Byte])]
      .flatMap { case (s, f) => (0 until nSalts).iterator.map(k => (s, k, f)) }
    rows.groupByKey(r => (r.shard,
        java.lang.Math.floorMod(r.h, nSalts.toLong).toInt))
      .cogroup(filts.groupByKey(t => (t._1, t._2))) {
        case ((shard, _), rs, fs) =>
          val bfs = if (shard < 0) Array.empty[BloomFilter]
            else fs.map(f =>
              BloomFilter.readFrom(new java.io.ByteArrayInputStream(f._3)))
              .toArray
          // null fp: never in a filter, always exact-confirmed; no
          // filter row in this shard: definite new
          rs.map(r => FpVerdict(r.doc_id, r.fp,
            shard < 0 || bfs.exists(_.mightContainLong(r.h))))
      }
      .select(col("doc_id"), col("fp"), col("maybe").as("__maybe"))
      .localCheckpoint()
  }

  /** The one store check of a persisted filter store: reads the
    * [[BloomMeta]] sidecar and returns it with the shard count to
    * route by. `shards ≤ 0` means the store's own count; a store
    * without a sidecar needs `shards > 0`; a positive count that
    * disagrees with the sidecar fails loudly — shard ROUTING is store
    * layout, and probing at another count routes fps to the wrong
    * shard's filters, tagging true duplicates definite-new (a silent
    * readmission). */
  private def bloomStoreLayout(spark: SparkSession, storePath: String,
      shards: Int): (Option[BloomMeta], Int) = {
    val meta = bloomStoreMeta(spark, storePath)
    val n = meta.fold(shards)(_.shards)
    if (n <= 0)
      throw new IllegalStateException(
        s"bloom store at $storePath has no $BloomMetaSidecar sidecar " +
          s"(pre-coherence layout) and the caller passed shards = " +
          s"$shards — the shard count is unknowable; rebuild it via " +
          "buildBloomStore")
    require(shards <= 0 || n == shards,
      s"bloom store at $storePath was built with $n shards; caller " +
        s"asked for $shards — shard routing is store layout, probing " +
        "at another count silently misses")
    (meta, n)
  }

  /** Screen verdicts (doc_id, fp, __maybe) of a batch against a
    * persisted [[buildBloomStore]] store — the pure per-batch
    * steady-state stage, [[cogroupScreen]] at the count
    * [[bloomStoreLayout]] resolves (`shards ≤ 0`: the store's own).
    * Downstream, bloom-positive rows go to the exact confirm join,
    * whose cost is a store-layout property: against an fp-BUCKETED
    * history store ([[dedupAgainstIngestStore]]) the confirm is
    * co-located and sort-free; against a flat fp table it re-sorts
    * the history side each batch (the measured growth term in
    * StressBloom's flat-history full-dedup column). */
  def screenAgainstBloomStore(spark: SparkSession, newDocs: DataFrame,
      storePath: String, shards: Int): DataFrame =
    cogroupScreen(newDocs, readBloomFrame(spark, storePath),
      bloomStoreLayout(spark, storePath, shards)._2)

  /** Schema of a persisted [[buildBloomStore]] store. Reads go
    * through this declared schema so an EMPTY store (a fresh
    * pipeline's [[ensureBloomStore]], before any filter append) reads
    * as zero rows instead of failing schema inference. */
  private[graft] val BloomStoreSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_fps",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("filter",
        org.apache.spark.sql.types.BinaryType)))

  private def readBloomFrame(spark: SparkSession,
      storePath: String): DataFrame =
    spark.read.schema(BloomStoreSchema).parquet(storePath)

  /** In-band layout metadata of a filter store, persisted in a
    * `_graft_bloom_meta` sidecar inside the store directory:
    *  - `shards` / `itemsPerShard` / `fpp`: the build-time layout.
    *    Shard ROUTING is layout — probing with a different shard
    *    count than the store was built with silently misses — so
    *    every probe path validates its caller's count against this.
    *  - `coversEpoch`: the fp store append epoch
    *    ([[graft.streaming.Ingest.storeEpoch]]) this store's filters
    *    cover. The coherence guard ([[requireCoherentStores]])
    *    compares it to the fp store's live epoch at screen time —
    *    a bloom store that missed an fp append would otherwise route
    *    the appended fps around the exact confirm as bloom-NEGATIVE
    *    ("definitely new") and silently readmit their duplicates. */
  private[graft] case class BloomMeta(shards: Int, itemsPerShard: Long,
      fpp: Double, coversEpoch: Long) {
    def text: String =
      s"shards=$shards\nitems_per_shard=$itemsPerShard\n" +
        s"fpp=$fpp\ncovers_epoch=$coversEpoch\n"
  }

  private val BloomMetaSidecar = "_graft_bloom_meta"

  /** The persisted [[BloomMeta]], if this directory holds a
    * post-coherence store. A sidecar that exists but does not parse
    * is CORRUPT, not absent — silently treating it as a legacy store
    * would skip the staleness guard — so it fails loudly instead. */
  def bloomStoreMeta(spark: SparkSession,
      storePath: String): Option[BloomMeta] =
    Dirs.readSidecar(spark, storePath, BloomMetaSidecar).map { text =>
      val kv = text.split('\n').map(_.trim).filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
      val parsed = scala.util.Try(BloomMeta(kv("shards").toInt,
        kv("items_per_shard").toLong, kv("fpp").toDouble,
        kv("covers_epoch").toLong)).toOption
      require(parsed.isDefined,
        s"corrupt $BloomMetaSidecar sidecar at $storePath (content: " +
          s"'${text.take(120)}'): rebuild the store via buildBloomStore")
      parsed.get
    }

  /** Build and persist the prefix-sharded epoch filter store — the
    * once-per-epoch artifact the steady-state ingest loop screens
    * every batch against. The store IS its own sidecar metadata:
    * per-shard `n_fps` rides in the same rows (sizing stats), and the
    * layout + coverage facts live in [[BloomMeta]]. `coversEpoch` is
    * the fp store epoch these filters cover — pass
    * `Ingest.storeEpoch(spark, fpStoreDir)` taken BEFORE reading the
    * history snapshot, so a concurrent append makes the guard fail
    * loud rather than pass stale. The write is shard-partitioned
    * (one writer per shard), not a single-task funnel: at 4096 shards
    * × ~4.6 MiB filters the old `repartition(1)` pushed ~19 GB
    * through one task. */
  def buildBloomStore(historyFps: DataFrame, storePath: String,
      shards: Int, itemsPerShard: Long, fpp: Double = 0.01,
      coversEpoch: Long = 0L): Unit = {
    val spark = historyFps.sparkSession
    bloomShardFrame(historyFps, shards, itemsPerShard, fpp)
      .repartition(shards, col("shard"))
      .write.mode("overwrite").parquet(storePath)
    Dirs.writeSidecar(spark, storePath, BloomMetaSidecar,
      BloomMeta(shards, itemsPerShard, fpp, coversEpoch).text)
  }

  /** Create an EMPTY filter store if none exists (the fresh-pipeline
    * entry point: the first screened batch sees no filter rows —
    * definite-new everywhere — which is exactly right against an
    * empty fp store; every batch thereafter appends its own filter
    * rows). An existing store is validated against the requested
    * layout, same contract as the fp store's `ensureStore`. */
  def ensureBloomStore(spark: SparkSession, storePath: String,
      shards: Int, itemsPerShard: Long = BloomShardItemCap,
      fpp: Double = 0.01): BloomMeta =
    bloomStoreMeta(spark, storePath) match {
      case Some(m) =>
        // the requested layout applies at CREATION only: an existing
        // store keeps its own (rebuildBloomStore may legitimately
        // have grown the shard count past the creation-time value as
        // the history outgrew it — failing here would permanently
        // lock a pipeline out of restarting with its original
        // config). Probe paths validate against the meta they read,
        // never against this argument.
        m
      case None =>
        if (Dirs.holdsData(spark, storePath))
          throw new IllegalStateException(
            s"$storePath holds filter data but no $BloomMetaSidecar " +
              "sidecar (pre-coherence layout) — overwriting it with " +
              "an empty store would destroy existing coverage; " +
              "rebuild it via buildBloomStore")
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            BloomStoreSchema)
          .write.mode("overwrite").parquet(storePath)
        val m = BloomMeta(shards, itemsPerShard, fpp, coversEpoch = 0L)
        Dirs.writeSidecar(spark, storePath, BloomMetaSidecar, m.text)
        m
    }

  /** Append a NEW batch of fingerprints' filters to an existing store
    * — the steady-state maintenance twin of
    * [[graft.streaming.Ingest.appendToStore]], and the function whose
    * absence was the repo's one latent wrong-answer shape: fps used
    * to append every batch while filters only full-rebuilt, so every
    * since-appended fp read bloom-NEGATIVE and its duplicates were
    * silently readmitted around the confirm join.
    *
    * One filter row per (touched) shard per append; the screen probes
    * a shard's rows as a UNION, so appended rows are correct by the
    * same semantics that make torn writes safe. Filters are sized to
    * the APPEND (2× slack over the even-spread expectation — batch
    * fps hash-spread across shards), not the epoch: per-batch rows
    * stay KiB-sized instead of repeating the epoch's MiB filters.
    * Rows accrete one per shard per append — linear probe cost in
    * appends — so fold them back on the store-compaction cadence via
    * [[rebuildBloomStore]].
    *
    * `coversEpoch`: the fp store epoch this append brings coverage up
    * to. Filters land BEFORE the sidecar advances — a crash between
    * the two leaves coverage UNDER-claimed (loud false alarm at the
    * next screen), never over-claimed.
    *
    * `expectedItems` sizes the append's filters; ≤ 0 counts `newFps`
    * (a batch-sized frame — bounded, unlike the corpus-action counts
    * the r12 rule bans). */
  def appendToBloomStore(spark: SparkSession, newFps: DataFrame,
      storePath: String, coversEpoch: Long,
      expectedItems: Long = -1L): Unit = {
    val meta = bloomStoreMeta(spark, storePath).getOrElse(
      throw new IllegalStateException(
        s"bloom store at $storePath has no $BloomMetaSidecar sidecar " +
          "(pre-coherence layout); rebuild it via buildBloomStore " +
          "before appending"))
    val items = if (expectedItems > 0) expectedItems else newFps.count()
    if (items > 0) {
      val perShard = math.max(1024L,
        2L * ((items + meta.shards - 1) / meta.shards))
      bloomShardFrame(newFps, meta.shards, perShard, meta.fpp)
        .repartition(meta.shards, col("shard"))
        .write.mode("append").parquet(storePath)
    }
    Dirs.writeSidecar(spark, storePath, BloomMetaSidecar,
      meta.copy(coversEpoch = coversEpoch).text)
  }

  /** Rebuild the filter store from the fp store's CURRENT contents —
    * the compaction-cadence maintenance op that folds accreted
    * per-append filter rows back to one row per shard (and re-sizes
    * the layout if the history outgrew it). Sizing comes from the old
    * store's own `n_fps` rows (kilobytes; append overlap overcounts,
    * which only oversizes — safe), never a corpus count. The epoch is
    * read BEFORE the history snapshot: an append racing the rebuild
    * makes the guard fail loud, never pass stale. Maintenance op —
    * not concurrent with screens (the overwrite window), same caveat
    * as the fp store's compactStore. */
  def rebuildBloomStore(spark: SparkSession, fpStoreDir: String,
      storePath: String): BloomMeta = {
    val meta = bloomStoreMeta(spark, storePath).getOrElse(
      throw new IllegalStateException(
        s"bloom store at $storePath has no $BloomMetaSidecar sidecar; " +
          "create it via buildBloomStore/ensureBloomStore first"))
    val epoch = graft.streaming.Ingest.storeEpoch(spark, fpStoreDir)
    val totalRow = readBloomFrame(spark, storePath)
      .agg(sum("n_fps").as("t")).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val shards =
      if (total <= 0) meta.shards
      else math.max(meta.shards,
        ((total + BloomShardItemCap - 1) / BloomShardItemCap).toInt)
    val itemsPerShard =
      if (total <= 0) meta.itemsPerShard
      else math.max(1L, (total + shards - 1) / shards)
    buildBloomStore(graft.streaming.Ingest.readStore(spark, fpStoreDir),
      storePath, shards, itemsPerShard, meta.fpp, coversEpoch = epoch)
    BloomMeta(shards, itemsPerShard, meta.fpp, epoch)
  }

  /** The loud coherence gate every two-store screen passes through:
    * the filter store must cover the fp store's live append epoch,
    * and the caller's shard count must pass [[bloomStoreLayout]]. A
    * stale filter does not degrade — it silently drops the dedup
    * guarantee for every post-build fp — so staleness is a crash,
    * not a warning. `shards ≤ 0` means "whatever the store uses"
    * (the returned meta carries the real count). */
  private[graft] def requireCoherentStores(spark: SparkSession,
      fpStoreDir: String, bloomStorePath: String,
      shards: Int): BloomMeta = {
    val meta = bloomStoreLayout(spark, bloomStorePath, shards)._1.getOrElse(
      throw new IllegalStateException(
        s"bloom store at $bloomStorePath has no $BloomMetaSidecar " +
          "sidecar (pre-coherence layout) — staleness vs the fp store " +
          "is uncheckable; rebuild it via buildBloomStore"))
    val fpEpoch = graft.streaming.Ingest.storeEpoch(spark, fpStoreDir)
    if (fpEpoch == 0 &&
        Dirs.holdsData(spark, fpStoreDir))
      throw new IllegalStateException(
        s"fp store at $fpStoreDir holds data but no append-epoch " +
          "sidecar (pre-epoch layout) — filter coverage is " +
          "uncheckable, and an empty/stale filter store would pass " +
          "the 0 >= 0 compare while silently readmitting the legacy " +
          "history's duplicates. Stamp it (compactStore, or the " +
          "screened runIngest startup heal) and rebuildBloomStore " +
          "before screening.")
    if (meta.coversEpoch < fpEpoch)
      throw new IllegalStateException(
        s"STALE bloom store: fp store at $fpStoreDir is at append " +
          s"epoch $fpEpoch but the filters at $bloomStorePath cover " +
          s"only epoch ${meta.coversEpoch}. Fingerprints appended " +
          "since the last filter build would read bloom-NEGATIVE and " +
          "be routed around the exact confirm — silently readmitting " +
          "their duplicates. Append the missing fps' filters via " +
          "appendToBloomStore, or rebuildBloomStore, before screening.")
    meta
  }

  /** The FULL steady-state batch dedup against persisted stores — the
    * shape a 100 TB ingest loop actually runs: the bloom screen reads
    * the [[buildBloomStore]] filter store (one cogroup job, flat in
    * history), and the exact confirm anti-join reads the fp-BUCKETED
    * [[graft.streaming.Ingest]] store, whose scan already satisfies
    * the join's hash distribution — NO exchange and (via the written
    * `sortBy(fp)` order) NO sort on the history side, per batch, no
    * matter how large the accumulated history grows. Only the
    * bloom-positive slice of the batch shuffles (IngestSpec
    * plan-asserts both properties; SCALE.md's StressBloom rows show
    * the full column flat where the flat-table twin grew 4.3→51 s over 16×).
    * `shards ≤ 0` screens at the store's own count. */
  def dedupAgainstIngestStore(spark: SparkSession, newDocs: DataFrame,
      fpStoreDir: String, bloomStorePath: String, shards: Int): DataFrame =
    storeSurvivors(spark, newDocs, fpStoreDir, bloomStorePath, shards)
      .select("doc_id", "lang", "source", "n_chars")

  /** [[dedupAgainstIngestStore]] keeping every batch column plus `fp`
    * — also the screened micro-batch of the streaming ingest
    * ([[graft.streaming.Ingest.ingestBatchScreened]]).
    *
    * The coherence guard runs first: a bloom store that missed an fp
    * append would silently readmit the appended fps' duplicates.
    * Sort-free reading of the store needs Spark's opt-in
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (the scan
    * reports the written order only under it, and only when each
    * bucket holds one file — guaranteed after [[graft.streaming
    * .Ingest.compactStore]], and checked per-file by Spark before the
    * order is claimed). It is set only while the screened dedup runs:
    * [[firstArrivals]] checkpoints the confirmed rows inside the
    * scope, so the confirm join is planned and executed there and the
    * caller's conf is left as it was. */
  private[graft] def storeSurvivors(spark: SparkSession, newDocs: DataFrame,
      fpStoreDir: String, bloomStorePath: String, shards: Int): DataFrame = {
    val meta = requireCoherentStores(spark, fpStoreDir, bloomStorePath,
      shards)
    Session.withConf(spark,
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      dedupeScreened(newDocs,
        screenAgainstBloomStore(spark, newDocs, bloomStorePath, meta.shards),
        graft.streaming.Ingest.readStore(spark, fpStoreDir))
    }
  }

  /** Registered bloom-screened twin of [[dedupIncremental]]: same
    * batch/history split, same oracle SQL — hash-equality with the
    * from-scratch oracle proves the bloom screen is result-invariant.
    * Sizing comes from the HISTORY frame itself: one distinct-fp
    * materialization (`localCheckpoint`) serves the count, the filter
    * build, and the confirm anti-join — no extra action over the
    * corpus (the r12 `docs.count()` fix). */
  def dedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val history = docs.where(!col("source").isin("src0", "src1"))
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    dedupAgainstHistoryBloom(docs.where(col("source").isin("src0", "src1")),
      history, expectedItems = history.count())
  }

  /** Registered PREFIX-SHARDED twin — 8 shards forced so the
    * multi-shard screen (per-shard filters, shard routing, null-fp
    * routing) is exercised and hash-proven against the same
    * from-scratch oracle at every verify run. */
  def dedupIncrementalBloomSharded(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val history = docs.where(!col("source").isin("src0", "src1"))
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    dedupAgainstHistoryBloom(
      docs.where(col("source").isin("src0", "src1")), history,
      expectedItems = history.count(), shards = 8)
  }

  /** Registered PERSISTED-STORE twin — the same batch/history split
    * and oracle as [[dedupIncremental]], but the history lives where
    * a production pipeline keeps it: fingerprints in the fp-BUCKETED
    * [[graft.streaming.Ingest]] store and the epoch filters in a
    * [[buildBloomStore]] store, both built by every call into a fresh
    * scratch directory (the once-per-epoch layout cost). The hash
    * match proves the whole steady-state path
    * ([[dedupAgainstIngestStore]]: cogroup screen + exchange-free,
    * sort-free confirm) result-invariant vs the from-scratch oracle. */
  def dedupIncrementalStore(spark: SparkSession, dir: String): DataFrame = {
    val shards = 8
    val base = Scratch.dir("graft-dedup-store")
    val history = Tables.documents(spark, dir)
      .where(!col("source").isin("src0", "src1"))
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    // one append = one file per bucket (the aligned repartition in
    // appendToStore), so the sort-free scan precondition holds
    // without a compaction pass
    graft.streaming.Ingest.appendToStore(spark, s"$base/fps", history,
      buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt)
    buildBloomStore(history, s"$base/bloom", shards,
      itemsPerShard = math.max(1L, (history.count() + shards - 1) / shards),
      coversEpoch = graft.streaming.Ingest.storeEpoch(spark, s"$base/fps"))
    dedupAgainstIngestStore(spark,
      Tables.documents(spark, dir).where(col("source").isin("src0", "src1")),
      s"$base/fps", s"$base/bloom", shards)
  }

  /** Distinct word n-gram shingles per document, as (doc_id, shingle)
    * pairs. Documents shorter than n tokens produce none. */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    docs
      // tokenize ONCE per row (the ops/Spans lesson): split(text)
      // inside the transform lambda re-tokenizes the doc per window
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
          .as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard ≥ tau)
    * via shingle equi-join: |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|.
    * Integer counts + one IEEE division ⇒ engine-deterministic. */
  def ngramJaccardPairs(spark: SparkSession, dir: String, n: Int = 3,
      tau: Double = 0.5): DataFrame =
    ngramJaccardPairsFor(Tables.documentsSpread(spark, dir), n, tau)

  /** [[ngramJaccardPairs]] over any (doc_id, text) frame — the form
    * the clustering ops use after collapsing exact duplicates. */
  def ngramJaccardPairsFor(docs: DataFrame, n: Int = 3,
      tau: Double = 0.5): DataFrame = {
    val sh = shingles(docs, n).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** The exact-Jaccard pair pipeline as a composable CTE body ending
    * in `jp(doc_a, doc_b, n_common, jaccard)` (threshold applied) —
    * no leading WITH, so consumers ([[ngramJaccardPairsSql]],
    * [[Mix.crossSplitLeakageSql]]) COMPOSE it instead of
    * string-rewriting the finished statement (the r12 lesson: a
    * `.replace` with a stale target is a silent no-op that
    * degenerates the derived oracle to its base). */
  private[ops] val ngramPairsCteBody: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
      |       FROM t, UNNEST(range(1, len(toks)-1)) AS u(i)
      |       WHERE len(toks) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |jp AS (
      |  SELECT doc_a, doc_b, n_common,
      |         CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
      |  FROM c JOIN sz x ON c.doc_a = x.doc_id
      |         JOIN sz y ON c.doc_b = y.doc_id
      |  WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) >= 0.5)""".stripMargin

  val ngramJaccardPairsSql: String =
    s"WITH $ngramPairsCteBody\nSELECT doc_a, doc_b, n_common, jaccard FROM jp"

  // ----- MinHash + LSH (scale path) -----

  /** Per-document MinHash signature: numHashes independent permutations
    * simulated by seeded xxhash64; each component is the min hash over
    * the document's shingle set.
    *
    * Implementation note (benchmarked): the tempting per-row formulation
    * `transform(seeds, seed -> array_min(transform(shingles, hash)))`
    * runs interpreted (higher-order functions have no codegen) and
    * re-evaluates the shingle array once per seed — 17 ms/doc at 64
    * hashes. This explode + 64-column min-aggregate form keeps every
    * hash inside whole-stage codegen and was measured ~100× faster; it
    * is also the right 100 TB shape: partial min aggregation happens
    * map-side, so the only shuffle payload is (doc_id, 64 longs). */
  def minhashSignatures(docs: DataFrame, n: Int = 3,
      numHashes: Int = 64): DataFrame = {
    val sh = shingles(docs, n)
    val minCols = (0 until numHashes).map(seed =>
      min(xxhash64(lit(seed), col("shingle"))).as(s"mh_$seed"))
    sh.groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(s => col(s"mh_$s")): _*)
          .as("minhash"))
  }

  /** [[minhashSignatures]] via the custom
    * [[graft.functions.MinHashSketchAgg]] TypedImperativeAggregate: one
    * sketch buffer per document instead of 64 aggregate slots.
    * Bit-identical output (OpsSpec asserts). */
  def minhashSignaturesSketch(docs: DataFrame, n: Int = 3,
      numHashes: Int = 64): DataFrame =
    shingles(docs, n)
      .groupBy("doc_id")
      .agg(graft.functions.MinHashSketch
        .minhash_sketch(col("shingle"), numHashes).as("minhash"))

  /** LSH banding: signature split into `bands` rows of `rowsPerBand`
    * components; docs agreeing on any full band land in the same
    * bucket. Returns candidate pairs with their estimated Jaccard
    * (fraction of agreeing signature components) ≥ tau.
    *
    * The only shuffles are the (band, bandHash) exchange and the
    * bucket join — both sized by #docs × #bands, never by pairwise
    * structure. This is the dedup path that survives 100 TB. */
  def minhashLshPairs(spark: SparkSession, dir: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, tau: Double = 0.5): DataFrame =
    minhashLshPairsFor(Tables.documentsSpread(spark, dir), n, numHashes, bands, tau)

  /** [[minhashLshPairs]] over any (doc_id, text) frame — the form the
    * clustering ops use after collapsing exact duplicates. */
  def minhashLshPairsFor(docs: DataFrame, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, tau: Double = 0.5): DataFrame = {
    // loud, not truncated: bands ∤ numHashes would silently leave the
    // trailing signature components out of every band (recall quietly
    // below what the parameters imply) while est_jaccard still
    // divides by the full numHashes
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — " +
        s"${numHashes % bands} trailing components would never band")
    val rowsPerBand = numHashes / bands
    // cached: the banding self-join consumes the signatures twice
    val sigs = minhashSignatures(docs, n, numHashes)
      .cache()
    val banded = sigs.select(col("doc_id"), col("minhash"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("minhash"), b * rowsPerBand + 1,
          lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.minhash").as("mh_a"), col("b.minhash").as("mh_b"))
      .dropDuplicates("doc_a", "doc_b")
    pairs
      .withColumn("est_jaccard",
        size(filter(zip_with(col("mh_a"), col("mh_b"),
          (x, y) => x === y), b => b)).cast("double") / numHashes)
      .where(col("est_jaccard") >= tau)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Persisted LSH store — incremental NEAR-dup dedup, the approximate
    * analog of [[dedupAgainstHistory]]: band rows (doc_id, band,
    * band_hash) and signatures for the already-ingested corpus are
    * written once; each new batch computes its own bands and joins
    * ONLY against the store on (band, band_hash). Cost per batch is
    * batch-size × bands, independent of history size modulo bucket
    * occupancy — the only steady-state-viable shape at 100 TB (the
    * batch-self-contained variant recomputes history signatures every
    * run). Store layout: plain parquet here; bucketed-by-band_hash on
    * a real cluster makes the candidate join shuffle-free. */
  def buildLshStore(spark: SparkSession, docs: DataFrame, storePath: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit = {
    val sigs = minhashSignatures(docs, n, numHashes)
    sigs.write.mode("overwrite").parquet(s"$storePath/signatures")
    bandRows(sigs, numHashes, bands)
      .select("doc_id", "band", "band_hash")
      .write.mode("overwrite").parquet(s"$storePath/bands")
  }

  /** Banding of a signature table: (doc_id, band, band_hash). */
  private[ops] def bandRows(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    sigs.select(col("doc_id"), col("minhash"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("minhash"), b * rowsPerBand + 1,
          lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Near-dup pairs between a NEW batch and the persisted store:
    * candidates from the (band, band_hash) join, verified by estimated
    * Jaccard over the two signature tables. Returns (new_id, old_id,
    * est_jaccard). */
  def nearDupAgainstStore(spark: SparkSession, newDocs: DataFrame,
      storePath: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, tau: Double = 0.5): DataFrame = {
    val newSigs = minhashSignatures(newDocs, n, numHashes).cache()
    val candidates = bandRows(newSigs, numHashes, bands).as("a")
      .join(spark.read.parquet(s"$storePath/bands").as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    candidates
      .join(newSigs.select(col("doc_id").as("new_id"),
        col("minhash").as("mh_new")), "new_id")
      .join(spark.read.parquet(s"$storePath/signatures")
        .select(col("doc_id").as("old_id"), col("minhash").as("mh_old")),
        "old_id")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("mh_new"), col("mh_old"),
          (x, y) => x === y), b => b)).cast("double") / numHashes)
      .where(col("est_jaccard") >= tau)
      .select("new_id", "old_id", "est_jaccard")
  }

  /** Oracle variant of the FULL MinHash+LSH pipeline with every hash
    * swapped to md5-low-bits integers both engines compute identically:
    * 16 seeded min-hashes per doc, 4 bands of 4 rows keyed by the md5
    * of the band's stringified slice, candidate pairs from the band
    * join, estimated Jaccard = agreeing components / 16. Proves the
    * banding machinery end-to-end against DuckDB — the xxhash64
    * 64-hash path stays the production default (same shape, faster
    * hash, more hashes). */
  def minhashLshPairsPortable(spark: SparkSession, dir: String,
      n: Int = 3, tau: Double = 0.5): DataFrame =
    minhashLshPairsPortableFor(Tables.documentsSpread(spark, dir), n, tau)

  /** Engine-portable 16-hash MinHash signatures: (doc_id, mh_0..mh_15)
    * with each component a seeded-md5-low-32-bits min — arithmetic
    * both engines compute identically (the oracle-twin hash). */
  private[ops] def portableMinhashSigs(docs: DataFrame, n: Int): DataFrame = {
    def pHash(seed: Int, c: Column): Column =
      conv(substring(md5(concat(lit(s"$seed:"), c)), 25, 8), 16, 10)
        .cast("long")
    val minCols = (0 until 16).map(s =>
      min(pHash(s, col("shingle"))).as(s"mh_$s"))
    shingles(docs, n).groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
  }

  /** 4-band banding of [[portableMinhashSigs]] output: (doc_id, band,
    * band_hash) with band_hash = md5 of the stringified 4-slice. */
  private[ops] def portableBandRows(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until 4).map(r =>
          col(s"mh_${b * 4 + r}").cast("string")): _*))
          .as("band_hash"))
    }
    sigs.select(col("doc_id"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_hash").as("band_hash"))
  }

  /** [[minhashLshPairsPortable]] over any (doc_id, text) frame. */
  def minhashLshPairsPortableFor(docs: DataFrame,
      n: Int = 3, tau: Double = 0.5): DataFrame = {
    val numHashes = 16
    val sigs = portableMinhashSigs(docs, n).cache()
    val banded = portableBandRows(sigs)
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val matches = (0 until numHashes).map(s =>
      when(col(s"a.mh_$s") === col(s"b.mh_$s"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= tau)
  }

  /** The full portable MinHash+LSH pipeline as a composable CTE body
    * ending in `lshp(doc_a, doc_b, est_jaccard)` (threshold applied) —
    * the clustering oracle composes it (r12 derive-by-composition
    * rule) instead of splicing the finished statement. */
  private[ops] val portableLshCteBody: String = {
    val minExprs = (0 until 16).map(s =>
      s"min(CAST(('0x' || substr(md5('$s:' || s), 25, 8)) AS BIGINT)) AS mh_$s")
      .mkString(",\n       ")
    val bandSelects = (0 until 4).map { b =>
      val slice = (0 until 4).map(r => s"CAST(mh_${b * 4 + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($slice) AS band_hash FROM mh"
    }.mkString("\nUNION ALL\n")
    val matchSum = (0 until 16)
      .map(s => s"CASE WHEN x.mh_$s = y.mh_$s THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
       |       FROM t, UNNEST(range(1, len(toks)-1)) AS u(i)
       |       WHERE len(toks) >= 3),
       |mh AS (SELECT doc_id,
       |       $minExprs
       |       FROM sh GROUP BY doc_id),
       |banded AS ($bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |lshp AS (
       |  SELECT doc_a, doc_b,
       |         CAST($matchSum AS DOUBLE) / 16 AS est_jaccard
       |  FROM pairs
       |  JOIN mh x ON pairs.doc_a = x.doc_id
       |  JOIN mh y ON pairs.doc_b = y.doc_id
       |  WHERE CAST($matchSum AS DOUBLE) / 16 >= 0.5)""".stripMargin
  }

  val minhashLshPairsPortableSql: String =
    s"WITH $portableLshCteBody\nSELECT doc_a, doc_b, est_jaccard FROM lshp"

  // ----- SimHash -----

  /** Oracle twin of the SimHash pipeline: 60-bit signatures (md5 low 60
    * bits per token — 15 hex chars keep the value inside signed BIGINT
    * on both engines), per-bit ±1 votes, 4×15-bit pigeonhole quarters,
    * bit_count-verified Hamming ≤ 3. Every step is integer arithmetic
    * both engines compute identically, so the emitted pairs hash-match
    * DuckDB — proving the vote/assemble/bucket machinery. The xxhash64
    * 64-bit path stays the production default. */
  def simhashPairsPortable(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val bits = 60
    val tokens = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("h",
        conv(substring(md5(col("token")), 18, 15), 16, 10).cast("long"))
    val voteCols = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"v_$b"))
    val sigExpr = (0 until bits)
      .map(b => when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val sigs = tokens.groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), sigExpr.as("simhash"))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("simhash"), q * 15).bitwiseAND(0x7FFFL)): _*)))
      .withColumnRenamed("pos", "quarter")
      .withColumnRenamed("col", "quarter_bits")
    banded.as("a")
      .join(banded.as("b"),
        col("a.quarter") === col("b.quarter") &&
          col("a.quarter_bits") === col("b.quarter_bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .where(col("hamming") <= maxHamming)
  }

  val simhashPairsPortableSql: String = {
    val votes = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v_$b")
      .mkString(",\n       ")
    val sig = (0 until 60)
      .map(b => s"(CASE WHEN v_$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val quarters = (0 until 4).map(q =>
      s"SELECT doc_id, $q AS quarter, (sig >> ${q * 15}) & 32767 AS qb, sig FROM s")
      .mkString("\nUNION ALL\n")
    s"""WITH tok AS (
       |  SELECT doc_id, t.token
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(token)),
       |h AS (SELECT doc_id,
       |        CAST(('0x' || substr(md5(token), 18, 15)) AS BIGINT) AS h
       |      FROM tok),
       |v AS (SELECT doc_id,
       |       $votes
       |      FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, $sig AS sig FROM v),
       |q AS ($quarters)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.sig, b.sig)) AS hamming
       |FROM q a JOIN q b
       |  ON a.quarter = b.quarter AND a.qb = b.qb AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
  }

  /** 64-bit SimHash per document: each token hashes to 64 bits; bit b of
    * the signature is the majority vote (+1/−1) of token-hash bit b.
    * Same codegen-friendly shape as [[minhashSignatures]]: explode
    * tokens, 64 sum-aggregates of ±1 per bit (map-side partials), then
    * assemble the signature from the vote signs. */
  def simhashDocs(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("h", xxhash64(col("token")))
    val voteCols = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"v_$b"))
    val bits = (0 until 64).map(b =>
      when(col(s"v_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
    tokens.groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        bits.reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found
    * via 4-band pigeonhole bucketing (any pair within Hamming 3 must
    * agree on at least one 16-bit quarter). bit_count(xor) verifies
    * exactly. */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = simhashDocs(Tables.documentsSpread(spark, dir))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("simhash"), q * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "quarter")
      .withColumnRenamed("col", "quarter_bits")
    banded.as("a")
      .join(banded.as("b"),
        col("a.quarter") === col("b.quarter") &&
          col("a.quarter_bits") === col("b.quarter_bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .where(col("hamming") <= maxHamming)
  }

  /** Per-source dedup GOVERNANCE report — the curation-dashboard
    * rollup a corpus review reads before admitting a domain: document
    * count, distinct-content count, the duplication rate, and how much
    * of the source's content also appears in OTHER sources
    * (cross-source boilerplate — licensing pages, templated headers —
    * is the classic cross-domain contamination signal).
    *
    * Scale shape: ONE text scan → (fp, source) pairs; a distinct at
    * (fp, source) grain; cross-source fps fall out of a (fp)-grain
    * aggregate (count of distinct sources per fp) joined back at the
    * 16-byte fp key — text never survives the first projection, and
    * the dup_rate division is the only float (one IEEE op, exact both
    * engines). */
  def dedupReport(spark: SparkSession, dir: String): DataFrame =
    dedupReportFor(Tables.documents(spark, dir))

  /** The report over ANY (text, source) frame — the spec plants
    * cross-source duplicates through this seam (the registered table
    * has none at small SFs). */
  def dedupReportFor(docs: DataFrame): DataFrame = {
    val fpSrc = docs
      .select(TextStats.fingerprint(col("text")).as("fp"), col("source"))
    val perPair = fpSrc.groupBy("fp", "source")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val shared = perPair.groupBy("fp")
      .agg(count(lit(1)).as("n_sources"))
      .where(col("n_sources") > 1)
      .select("fp")
    perPair.join(shared.withColumn("is_shared", lit(1L)),
        Seq("fp"), "left")
      .groupBy("source")
      .agg(sum("n").cast("long").as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("is_shared").isNotNull, col("n"))
          .otherwise(lit(0L))).cast("long").as("n_cross_source"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (lit(1.0) - col("n_unique") / col("n_docs").cast("double"))
          .as("dup_rate"),
        col("n_cross_source"))
  }

  val dedupReportSql: String =
    """WITH f AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |         source
      |  FROM documents),
      |pp AS (SELECT fp, source, COUNT(*) AS n FROM f GROUP BY 1, 2),
      |sh AS (SELECT fp FROM pp GROUP BY fp HAVING COUNT(*) > 1)
      |SELECT pp.source,
      |       CAST(SUM(pp.n) AS BIGINT) AS n_docs,
      |       CAST(COUNT(*) AS BIGINT) AS n_unique,
      |       1.0 - COUNT(*) / CAST(SUM(pp.n) AS DOUBLE) AS dup_rate,
      |       CAST(SUM(CASE WHEN sh.fp IS NOT NULL THEN pp.n ELSE 0 END)
      |            AS BIGINT) AS n_cross_source
      |FROM pp LEFT JOIN sh ON sh.fp = pp.fp
      |GROUP BY pp.source""".stripMargin

  // ----- Edit-distance verify tier -----

  /** Character-grain near-dup: LSH candidates verified by EXACT edit
    * distance — the tier that catches OCR noise, typo farms, and
    * template drift that token-level Jaccard under-scores (shingle
    * sets barely move when every 20th character mutates, but curation
    * rules phrased as "≤ 20% of characters changed" need the real
    * Levenshtein value, not a set estimate).
    *
    * Scale shape: the quadratic DP never runs on the corpus — only on
    * LSH candidate pairs (band-bucket joins, id-only shuffles; the
    * texts attach per-candidate). Two bounds keep the per-pair cost
    * honest at 100 TB: `capDist` uses Spark's early-exit Levenshtein
    * (the threshold variant abandons the DP once the distance exceeds
    * the cap — O(cap·len) not O(len²)), and the relative filter
    * `5·dist ≤ max(n_chars)` (≤ 20% of the longer text) is all-integer
    * so both engines agree exactly. A pair is emitted iff it passes
    * BOTH: dist ≤ capDist AND dist ≤ 20% of the longer length. */
  def editDistNearDupFor(docs: DataFrame,
      capDist: Int = DefaultCapDist): DataFrame =
    editDistVerify(docs,
      minhashLshPairsFor(docs.select("doc_id", "text")), capDist)

  /** Production form over the documents table (xxhash64 LSH — seeded-
    * hash candidates, so no SQL oracle; [[editDistNearDupPortable]] is
    * the hash-exact twin proving the verify arithmetic). */
  def editDistNearDup(spark: SparkSession, dir: String,
      capDist: Int = DefaultCapDist): DataFrame =
    editDistNearDupFor(Tables.documentsSpread(spark, dir), capDist)

  /** Oracle twin: md5-portable LSH candidates (the [[portableLshCteBody]]
    * machinery) verified by the same exact edit distance — every step
    * reproducible in DuckDB, hash-exact. */
  /** Default absolute edit-distance cap — shared between the Scala
    * defaults and [[editDistNearDupPortableSql]] so the registered
    * query and its committed oracle cannot drift. */
  val DefaultCapDist = 500

  def editDistNearDupPortable(spark: SparkSession, dir: String,
      capDist: Int = DefaultCapDist): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    editDistVerify(docs,
      minhashLshPairsPortableFor(docs.select("doc_id", "text")), capDist)
  }

  /** The shared verify join: attach both texts to (doc_a, doc_b)
    * candidates, compute the capped Levenshtein once, filter on the
    * cap and the 20%-relative bound. `levenshtein(a, b, cap)` returns
    * -1 past the cap, so `dist >= 0` is exactly `dist <= cap`. */
  private def editDistVerify(docs: DataFrame, candidates: DataFrame,
      capDist: Int): DataFrame = {
    val texts = docs.select(col("doc_id"), col("text"),
      col("n_chars"))
    candidates.select("doc_a", "doc_b")
      .join(texts.as("a"), col("doc_a") === col("a.doc_id"))
      .join(texts.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("a.text"), col("b.text"), capDist)
          .cast("long").as("dist"),
        greatest(col("a.n_chars"), col("b.n_chars")).as("max_len"))
      .where(col("dist") >= 0 && col("dist") * 5 <= col("max_len"))
  }

  val editDistNearDupPortableSql: String =
    s"""WITH $portableLshCteBody,
       |verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |         CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
       |         GREATEST(a.n_chars, b.n_chars) AS max_len
       |  FROM lshp c
       |  JOIN documents a ON c.doc_a = a.doc_id
       |  JOIN documents b ON c.doc_b = b.doc_id)
       |SELECT doc_a, doc_b, dist, max_len FROM verified
       |WHERE dist <= $DefaultCapDist AND dist * 5 <= max_len""".stripMargin
}
