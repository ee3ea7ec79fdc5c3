package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Dirs
import graft.ops.TextStats

/** Continuous corpus ingest — the steady-state shape of a 100 TB
  * training-data pipeline: a file stream of raw document batches,
  * each micro-batch exact-deduped against the PERSISTED fingerprint
  * store before its survivors append to the corpus. `foreachBatch`
  * composes the batch operators (fingerprint, anti-join, min-id
  * collapse) per micro-batch, and the checkpoint makes re-runs
  * process only new files.
  *
  * Shuffle discipline per batch: the history side is a (fp)-only
  * table — 16 bytes/row, never text — AND it is a catalog-registered
  * table BUCKETED BY fp: the scan's output partitioning already
  * satisfies the anti-join's required distribution, so the store side
  * joins with NO Exchange no matter how large the accumulated history
  * grows (asserted in IngestSpec). Only the incoming batch — the
  * small side, by definition — shuffles, into exactly the bucket
  * layout. Batch text is scanned once.
  *
  * Store layout durability: the bucket count is TABLE LAYOUT — every
  * append must match it — so it is chosen once at store creation
  * (size it at ~128 MB of fingerprints per bucket for the expected
  * history volume) and persisted in a `_graft_buckets` sidecar file
  * inside the store directory. Reopening on a fresh JVM (the
  * in-memory catalog is session-scoped) re-registers the table from
  * the sidecar with a data-free `CREATE TABLE ... LOCATION` DDL —
  * never CTAS, which Spark refuses over a non-empty location — and a
  * caller passing a DIFFERENT bucket count than the persisted one
  * fails loudly rather than corrupting the layout (IngestSpec).
  *
  * Store maintenance: appends arrive bucket-aligned (the batch is
  * repartitioned by the bucket hash first, so each task writes one
  * file per bucket, not tasks×buckets), and [[compactStore]] rewrites
  * the accumulated per-batch files back to one file per bucket
  * without losing the bucketing metadata — `ops.Compaction`'s plain
  * coalesce would. Run it on the usual small-file cadence.
  *
  * Batch-boundary semantics: EXACTLY-ONCE, via stage-then-commit
  * ([[applyIngestBatch]]). The old order (append corpus, then append
  * store) left a window where a crash between the two writes made a
  * re-delivered batch re-append its survivors — permanent duplicate
  * documents in the corpus, invisible to the fp store and inherited
  * by every derived artifact (the StreamShards manifest packs them).
  * Now each batch's survivors are STAGED to a sibling directory
  * (overwrite — a torn stage just re-stages), fingerprints append to
  * the store only after the stage is complete (so a partial fp append
  * can never change what the batch's survivors ARE), and the batch
  * COMMITS by one atomic rename of the staged directory into the
  * corpus as its `ingest_batch=N` partition. Re-delivery at any crash
  * point re-runs to the identical state: a committed batch no-ops on
  * the partition-exists check; an uncommitted one re-uses its
  * completed stage (never recomputing survivors against a store that
  * may already hold some of its fps) or rebuilds a torn stage from
  * the unchanged store. The only repeatable side effect is a
  * re-appended fp file — duplicates in a SET, harmless to the
  * anti-join and swept by [[compactStore]]'s distinct. Re-running the
  * whole pipeline over already-ingested files is a no-op by the
  * checkpoint, and re-delivering old CONTENT is a no-op by the
  * fp store (both tested in IngestSpec). */
object Ingest {

  val storeSchema: StructType =
    StructType(Seq(StructField("fp", StringType, nullable = false)))

  /** Default bucket count for NEW fp stores, sized for the test
    * corpus; production stores pass an explicit count at creation
    * (~128 MB per bucket). Existing stores always reopen at their
    * persisted count regardless of this value. */
  val DefaultStoreBuckets = 8

  /** Sidecar file (inside the store dir) holding the bucket count the
    * store was created with. Underscore prefix ⇒ parquet readers skip
    * it as metadata, same convention as `_SUCCESS`. */
  private val BucketsSidecar = "_graft_buckets"

  /** Sidecar holding the store's APPEND EPOCH — a counter bumped by
    * every [[appendToStore]]. Derived artifacts that must stay
    * coherent with the store's CONTENT (the sharded bloom-filter
    * store a steady-state dedup screens with) record the epoch they
    * were built at; comparing the two at screen time turns the
    * silent-wrong-answer shape (a stale filter routes since-appended
    * duplicates around the exact confirm) into a loud failure.
    * [[compactStore]] PRESERVES the counter across its swap — the
    * rewrite is content-invariant (a distinct over a set), so every
    * filter that covered the store before still covers it after. */
  private val EpochSidecar = "_graft_epoch"

  /** The store's append epoch: how many [[appendToStore]] calls have
    * landed (0 for a store that predates epoch tracking or doesn't
    * exist yet — such a store can only be screened by a filter store
    * built AFTER this counter existed, which is the safe direction). */
  def storeEpoch(spark: SparkSession, storeDir: String): Long =
    Dirs.readSidecar(spark, storeDir, EpochSidecar).fold(0L) { text =>
      val parsed = text.trim.toLongOption.filter(_ >= 0)
      require(parsed.isDefined,
        s"corrupt $EpochSidecar sidecar at $storeDir (content: " +
          s"'${text.take(64)}'): expected a non-negative epoch counter")
      parsed.get
    }

  /** One catalog table per store directory (the catalog needs a name).
    * The name is an md5 of the NORMALIZED absolute URI: a 31-bit
    * String.hashCode could collide two distinct directories (silently
    * binding a store to a table whose path points elsewhere), and the
    * same physical dir spelled two ways would get two tables. The
    * table is external: the data lives at `storeDir`, the catalog
    * holds the bucketing metadata that makes the store side of the
    * anti-join shuffle-free. */
  def storeTableName(spark: SparkSession, storeDir: String): String = {
    val norm = Dirs.qualified(spark, storeDir).toUri.toString
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"graft_fp_store_$md5"
  }

  /** The persisted bucket count, if this directory holds a bucketed
    * store created by [[ensureStore]]. A sidecar that exists but does
    * not parse (zero bytes — a crash between create and write — or
    * garbage) is CORRUPT, not absent: returning None would silently
    * re-register the store at the default count and break the layout,
    * so it fails with a descriptive error instead. */
  def persistedBuckets(spark: SparkSession, storeDir: String): Option[Int] =
    Dirs.readSidecar(spark, storeDir, BucketsSidecar).map { text =>
      val parsed = text.trim.toIntOption.filter(_ > 0)
      require(parsed.isDefined,
        s"corrupt $BucketsSidecar sidecar at $storeDir (content: " +
          s"'${text.take(64)}'): expected a positive bucket count. " +
          "Restore the sidecar or rewrite the store via compactStore " +
          "with an explicit bucket count.")
      parsed.get
    }

  /** Register the bucketed external store table (idempotent) and
    * return (table name, effective bucket count).
    *
    * `buckets` ≤ 0 means "whatever the store already uses" (reopen);
    * a positive value is honored only at creation and VALIDATED
    * against the sidecar on reopen — appending at a different bucket
    * count than the table layout would silently break the shuffle-free
    * join, so a mismatch throws instead.
    *
    * Registration is pure DDL (`CREATE TABLE ... LOCATION`) — no data
    * write — so reopening an existing non-empty store on a fresh JVM
    * works; CTAS (`saveAsTable` on a new name) would throw on the
    * non-empty location. A non-empty directory WITHOUT a sidecar is a
    * pre-bucketing legacy layout: its files lack bucket ids, so
    * registering it bucketed would mis-prune — migrate it through
    * [[compactStore]] first (which reads it plain and rewrites it
    * bucketed). */
  def ensureStore(spark: SparkSession, storeDir: String,
      buckets: Int = 0): (String, Int) = {
    val tbl = storeTableName(spark, storeDir)
    Dirs.requireNoInterruptedSwap(spark, storeDir)
    val persisted = persistedBuckets(spark, storeDir)
    persisted.foreach { n =>
      require(buckets <= 0 || buckets == n,
        s"fp store at $storeDir was created with $n buckets; " +
          s"caller asked for $buckets — the bucket count is table " +
          "layout and cannot change on append (rewrite via compactStore)")
    }
    val n = persisted.getOrElse(if (buckets > 0) buckets
      else DefaultStoreBuckets)
    if (!spark.catalog.tableExists(tbl)) {
      require(persisted.isDefined || !Dirs.holdsData(spark, storeDir),
        s"$storeDir holds a pre-bucketing store layout (data files, no " +
          s"$BucketsSidecar sidecar); run compactStore to migrate it " +
          "before bucketed appends")
      // backslash-escape quotes: the URI is caller data interpolated
      // into a SQL string literal; an unescaped quote breaks the DDL
      val loc = Dirs.qualified(spark, storeDir).toUri.toString
        .replace("\\", "\\\\").replace("'", "\\'")
      spark.sql(
        s"""CREATE TABLE $tbl (fp STRING) USING parquet
           |CLUSTERED BY (fp) SORTED BY (fp) INTO $n BUCKETS
           |LOCATION '$loc'""".stripMargin)
      if (persisted.isEmpty)
        Dirs.writeSidecar(spark, storeDir, BucketsSidecar, n.toString)
    }
    (tbl, n)
  }

  /** Append fingerprints bucket-aligned: repartitioning by the bucket
    * column first means every task holds exactly one bucket's rows, so
    * each append adds ≤ buckets files (not tasks × buckets). `buckets`
    * only matters on first use (store creation); see [[ensureStore]].
    *
    * autoBucketedScan is OFF for the write: when `fps` itself comes
    * from an equal-bucketed table scan, the planner first elides the
    * repartition exchange (the scan's partitioning satisfies it) and
    * THEN disables the bucketed scan as "unnecessary" — the writer
    * would get raw file splits and emit tasks×buckets files. Pinning
    * the scan bucketed makes the elision actually hold. */
  /** Serializes the session-global autoBucketedScan toggle shared by
    * [[appendToStore]] and the bucket-pruned confirm probe
    * ([[graft.ops.Dedup]]): two concurrent togglers would otherwise
    * race the save/restore and could leave the conf disabled. Queries
    * OUTSIDE this lock that run concurrently with an append still see
    * the toggled conf for the append's duration — appends are a
    * maintenance write, not meant to overlap latency-sensitive reads
    * on the same session. */
  private[graft] val bucketedConfLock = new Object

  def appendToStore(spark: SparkSession, storeDir: String,
      fps: DataFrame, buckets: Int = 0): Unit = {
    val (tbl, n) = ensureStore(spark, storeDir, buckets)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    bucketedConfLock.synchronized {
      // bump BEFORE the rows land — the fail-safe order. A crash
      // after the bump but before (or during) the write leaves the
      // epoch OVER-counted: the coherence guard then rejects a filter
      // store as stale when it actually covers everything — a loud
      // false alarm, repaired by the ingest replay's filter append.
      // The reverse order would leave appended fps UNDER the recorded
      // epoch after a crash: a filter claiming full coverage while
      // rows it never saw sit in the store — the silent-readmission
      // shape this sidecar exists to kill.
      Dirs.writeSidecar(spark, storeDir, EpochSidecar,
        (storeEpoch(spark, storeDir) + 1).toString)
      graft.core.Session.withConf(spark, key -> "false") {
        fps.select("fp")
          .repartition(n, col("fp"))
          .write.mode("append")
          .format("parquet")
          .bucketBy(n, "fp").sortBy("fp")
          .saveAsTable(tbl)
      }
    }
  }

  /** Rewrite the store's accumulated per-batch files to one file per
    * bucket, keeping the bucketing metadata (a plain coalesce rewrite
    * would drop it and re-impose a shuffle on every future ingest
    * join). Also the migration path for pre-bucketing legacy layouts
    * (read plain, rewritten bucketed at `buckets` /
    * [[DefaultStoreBuckets]]).
    *
    * Crash safety: the compacted copy replaces the store through
    * [[graft.core.Dirs.swap]], so a crashed previous swap is refused
    * loudly and the history is never held only in executor memory. */
  def compactStore(spark: SparkSession, storeDir: String,
      buckets: Int = 0): Unit = {
    val tbl = storeTableName(spark, storeDir)
    // a crashed previous swap must be recovered by hand, not papered
    // over: the snapshot read below would otherwise see a missing (or
    // half-swapped) store and compact an empty history
    Dirs.requireNoInterruptedSwap(spark, storeDir)
    // a store that was never created is a no-op, not a raw
    // path-does-not-exist AnalysisException from inside the read —
    // the same missing-dir handling readStore applies
    if (!Dirs.exists(spark, storeDir)) return
    // An explicit positive count WINS over the sidecar: compactStore is
    // the documented re-bucketing path (ensureStore's mismatch error
    // points here), and the durable swap below makes changing the
    // layout safe. Only with buckets <= 0 does the store keep its
    // persisted count.
    val n = if (buckets > 0) buckets
      else persistedBuckets(spark, storeDir).getOrElse(DefaultStoreBuckets)
    // Read the CURRENT layout as plain parquet files, whatever it is —
    // covers legacy non-bucketed stores without registering them
    // bucketed, and gives the rewrite an unknown input partitioning so
    // the bucket-aligning repartition in appendToStore is never elided.
    // distinct: retried ingest commits may have appended a batch's
    // fps twice (harmless to the anti-join — the store is a set);
    // compaction is where the duplicates get swept
    val snapshot = spark.read.schema(storeSchema).parquet(storeDir).distinct()
    // the append epoch SURVIVES compaction: the rewrite is
    // content-invariant (a distinct over a set), so every filter
    // store that covered this epoch before still covers it after —
    // letting the tmp store's own epoch (1) through would instead
    // make the next append under-count and pass a stale filter.
    // A pre-epoch legacy store WITH content stamps at 1: compaction is
    // the documented migration path, and the stamp gives its history a
    // checkable epoch (a filter store rebuilt from the compacted
    // content covers it).
    val epoch = storeEpoch(spark, storeDir)
    val stamp = if (Dirs.holdsData(spark, storeDir)) math.max(epoch, 1L)
      else epoch
    Dirs.swap(spark, storeDir) { tmp =>
      // the temp table exists only to carry the bucket spec through
      // the write
      val tmpTbl = storeTableName(spark, tmp)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      appendToStore(spark, tmp, snapshot, n)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      // the preserved epoch is written INTO the tmp dir so it rides the
      // swap rename atomically — restoring it after the swap left a
      // crash window that reset the store to the tmp dir's own count
      // (1), deflating it below existing filter coverage and silently
      // disarming the staleness guard
      Dirs.writeSidecar(spark, tmp, EpochSidecar, stamp.toString)
      spark.sql(s"DROP TABLE IF EXISTS $tbl") // re-registered below at count n
    }
    ensureStore(spark, storeDir, n)
    ()
  }

  /** Apply one ingest micro-batch EXACTLY-ONCE (see class doc):
    * stage survivors → append fingerprints → commit by atomic rename
    * into `corpusDir/ingest_batch=<batchId>`. Safe to call again with
    * the same id after a crash at any point; a fully committed batch
    * returns immediately. */
  /** Quality-model admission screen: the [[graft.ops.Classify]] hashed
    * linear classifier as the ingest door — only positively-scored
    * documents are admitted. Deterministic (a pure function of text),
    * so stream ≡ batch composition is preserved and a re-delivered
    * batch screens identically; codegen'd (explode + partial-agg +
    * semi-join), never an interpreted per-row lambda. Rejected docs
    * are screened BEFORE fingerprinting — their fps never enter the
    * store, the quality gate is at the door, and a duplicate of a
    * rejected doc is (deterministically) rejected again, never
    * shadow-deduped. */
  val qualityScreen: DataFrame => DataFrame = { batch =>
    batch.join(
      graft.ops.Classify.scoreDocs(batch)
        .where(col("score_milli") > 0).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  def applyIngestBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, corpusDir: String, storeDir: String,
      storeBuckets: Int = 0,
      admit: DataFrame => DataFrame = identity,
      bloomStorePath: String = null): Unit = {
    val fs = Dirs.fs(spark, corpusDir)
    val (stageDir, commitDir) = Dirs.stagedBatch(spark, corpusDir, batchId)
    if (fs.exists(commitDir)) return // fully applied earlier
    // a COMPLETE stage (_SUCCESS) is authoritative: survivors must
    // not be recomputed once any fp of this batch may have reached
    // the store, or the anti-join would drop those docs and the
    // commit would lose them. The same check heals bloom/fp epoch
    // skew after a crash between the two appends below: the
    // re-delivered batch skips the (guarded) screen and re-appends
    // BOTH stores, restoring covers_epoch ≥ store epoch before the
    // next batch screens.
    if (!fs.exists(new Path(stageDir, "_SUCCESS"))) {
      val survivors =
        if (bloomStorePath == null)
          ingestBatch(admit(batch), readStore(spark, storeDir))
        else
          ingestBatchScreened(spark, admit(batch), storeDir,
            bloomStorePath)
      survivors.drop("fp")
        .write.mode("overwrite").parquet(stageDir.toString)
    }
    // explicit schema: an empty stage directory (all-duplicate batch)
    // has no part files to infer from
    val staged = spark.read.schema(batch.schema).parquet(stageDir.toString)
    // one materialized fps frame serves the store append, the filter
    // append AND its sizing count — not three stage-file re-reads +
    // md5 passes per micro-batch
    val fps = staged
      .select(TextStats.fingerprint(col("text")).as("fp"))
      .localCheckpoint()
    appendToStore(spark, storeDir, fps, storeBuckets)
    // filter coverage rides every fp append: survivors' fps are
    // unique (min-doc_id collapse), so one KiB-scale filter row per
    // shard per batch. A redelivered batch appends a duplicate row —
    // the union probe makes that correct, rebuildBloomStore sweeps it.
    if (bloomStorePath != null)
      graft.ops.Dedup.appendToBloomStore(spark, fps, bloomStorePath,
        coversEpoch = storeEpoch(spark, storeDir),
        expectedItems = fps.count())
    // the refresh matters to same-session readers of the corpus: the
    // per-batch manifest recompute in StreamShards
    Dirs.commitStaged(spark, stageDir, commitDir, corpusDir)
  }

  /** One micro-batch: survivors (new content, min doc_id per fp) with
    * their fingerprints — the history anti-join plus the one survivor
    * rule, [[graft.ops.Dedup.firstArrivals]]. Exposed for testing the
    * batch semantics without the stream. */
  def ingestBatch(batch: DataFrame, history: DataFrame): DataFrame = {
    val rows = batch.withColumn("fp", TextStats.fingerprint(col("text")))
    graft.ops.Dedup.firstArrivals(rows,
      rows.join(history.select("fp"), Seq("fp"), "left_anti"))
  }

  /** [[ingestBatch]] with the sharded bloom screen in front — the
    * steady-state micro-batch shape for stores that OUTGROW the page
    * cache: only the bloom-POSITIVE slice of the batch reaches the
    * exact confirm anti-join against the bucketed store (whose scan
    * is exchange- and sort-free off the written layout), instead of
    * the whole batch paying the full merge join every trigger.
    * Opt-in (`runIngest(bloomShards > 0)`), measured-not-assumed:
    * through 2.4e8 fps/node the warm plain anti-join stays ~3 s/batch
    * (the store page-caches) while this path's fixed screen+confirm
    * overhead is ~3-6 s — no single-node crossover exists; the win
    * case is cluster-scale IO-bound store scans, where per-batch
    * store IO drops to ∝ duplicate count (SCALE.md r16). It is
    * [[graft.ops.Dedup.dedupAgainstIngestStore]] at the bloom store's
    * own shard count, keeping every batch column: the coherence
    * guard, the slim (doc_id, fp) screen — the batch's text never
    * enters the cogroup shuffle — and the same survivor rule as
    * [[ingestBatch]], so the output is row-identical to it
    * (IngestSpec proves the equality). */
  def ingestBatchScreened(spark: SparkSession, batch: DataFrame,
      storeDir: String, bloomStorePath: String): DataFrame =
    graft.ops.Dedup.storeSurvivors(spark, batch, storeDir, bloomStorePath,
      shards = 0)

  /** The store as a DataFrame: the bucketed catalog table (registered
    * from the sidecar on a fresh JVM if needed); a plain parquet read
    * for a pre-bucketing layout (correct, just not shuffle-free);
    * empty otherwise. */
  def readStore(spark: SparkSession, storeDir: String): DataFrame = {
    Dirs.requireNoInterruptedSwap(spark, storeDir)
    val registered = spark.catalog.tableExists(storeTableName(spark, storeDir))
    if (registered || persistedBuckets(spark, storeDir).isDefined)
      spark.table(ensureStore(spark, storeDir)._1)
    else if (Dirs.exists(spark, storeDir))
      spark.read.schema(storeSchema).parquet(storeDir)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchema)
  }

  /** Drive the ingest over every file currently in `srcDir` (resumes
    * from `checkpointDir`; one micro-batch per file so cross-batch
    * dedup is exercised). Appends survivors to `corpusDir` and their
    * fingerprints to the bucketed store at `storeDir` (created at
    * `storeBuckets` on first run; must match thereafter).
    * `compactEvery` > 0 folds the store's accumulated per-batch files
    * back to one per bucket every that-many batches (the
    * `StreamIndex.runIngestBm25` cadence discipline) — a long-running
    * ingest otherwise grows one file per bucket per batch forever.
    * Safe at any point: compaction is content-invariant (a distinct
    * over a set) and runs AFTER the batch commits, so a crash inside
    * it leaves a committed batch plus an uncompacted store. */
  /** `bloomShards` > 0 opts the loop into the SCREENED steady state:
    * a sharded filter store at `<storeDir>.bloom` fronts every
    * batch's confirm join ([[ingestBatchScreened]]), created empty on
    * first run, appended per batch alongside the fp store, folded
    * back to one row per shard (and re-covered from the compacted fp
    * store) on the same `compactEvery` cadence. A pre-existing fp
    * history with no filter coverage (or a crash-stale store) is
    * healed ONCE at startup by a full rebuild — the loud-guard
    * alternative would reject the first batch. */
  def runIngest(spark: SparkSession, srcDir: String, schema: StructType,
      corpusDir: String, storeDir: String, checkpointDir: String,
      storeBuckets: Int = 0, compactEvery: Int = 0,
      admit: DataFrame => DataFrame = identity,
      bloomShards: Int = 0): Unit = {
    val bloomStorePath = if (bloomShards > 0) {
      val p = Dirs.qualified(spark, storeDir)
      val path = new Path(p.getParent, p.getName + ".bloom").toString
      val meta = graft.ops.Dedup.ensureBloomStore(spark, path, bloomShards)
      // a PRE-EPOCH fp store (content, counter 0) gets stamped at 1
      // here: the stamp asserts "this content is epoch 1" and the
      // rebuild below reads that exact content, so coverage is
      // coherent by construction — without the stamp the legacy
      // history would screen against an empty filter store that
      // PASSES the 0 >= 0 epoch compare and silently readmits every
      // legacy duplicate
      if (storeEpoch(spark, storeDir) == 0 &&
          Dirs.holdsData(spark, storeDir))
        Dirs.writeSidecar(spark, storeDir, EpochSidecar, "1")
      if (meta.coversEpoch < storeEpoch(spark, storeDir))
        graft.ops.Dedup.rebuildBloomStore(spark, storeDir, path)
      path
    } else null
    StreamAggregator.drainBatches(
        StreamAggregator.filePerBatch(spark, srcDir, schema),
        checkpointDir) { (batch, id) =>
      applyIngestBatch(batch.sparkSession, batch, id, corpusDir,
        storeDir, storeBuckets, admit, bloomStorePath)
      if (compactEvery > 0 && id % compactEvery == (compactEvery - 1)) {
        compactStore(batch.sparkSession, storeDir)
        if (bloomStorePath != null)
          graft.ops.Dedup.rebuildBloomStore(batch.sparkSession,
            storeDir, bloomStorePath)
      }
    }
  }
}
