package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions.{dot, normalize, toDoubleVec}
import graft.ops.{Components, Similarity}

/** Continuous EMBEDDING ingest with online semantic dedup — the
  * vector analogue of [[Ingest]]'s text flow, completing the
  * streaming story across the stack (text dedup: [[Ingest]];
  * training shards: [[StreamShards]]; BM25 index: [[StreamIndex]];
  * embeddings: here). The steady-state 100 TB shape: embeddings
  * arrive in micro-batches, each batch is semantically deduped
  * against the KEPT history through a persisted cell-partitioned
  * vector index — never a rescan of history vectors outside the
  * probed cells — and survivors append to both the kept corpus and
  * the index.
  *
  * Online semantics (documented, deterministic, spec-tested):
  *  1. vs HISTORY — a batch vector matching any kept historical
  *     vector at cosine ≥ tau (within its nprobe probed cells) is
  *     dropped. Exact duplicates are cosine-1, so re-delivered
  *     CONTENT always dies here.
  *  2. WITHIN BATCH — the remainder is clustered batch-locally
  *     (the [[Similarity.semanticDedupClusters]] cell-bucketed
  *     pair verify + connected components, against the FROZEN
  *     centroids) and one survivor (min vec_id) is kept per
  *     cluster.
  * This is ONLINE dedup, not a recompute of the one-shot batch
  * clustering: a chain a–b–c where b arrived (and was dropped)
  * earlier does not merge a and c later — first-arrival semantics,
  * the same trade every streaming dedup makes ([[Ingest]]'s
  * fp store keeps first arrivals too).
  *
  * Index layout under `workDir/vindex`: `centroids/` — the frozen
  * (cid, cvec) table, trained ONCE on the first batch's vectors
  * (bounded [[Similarity.hashSample]]; drift is a periodic-rebuild
  * concern, the FAISS operational model, exactly as
  * `Quantize.appendToIvfPqIndex` documents); `data/cell=C/batch=N/`
  * — kept NORMALIZED vectors in their nearest frozen cell,
  * per-batch partitions written with dynamic overwrite so
  * re-applying a batch REPLACES its contribution (the
  * `appendToBm25Index` idempotence-by-layout move). Probes prune to
  * the batch's cells at the directory level; probe cost scales with
  * occupancy of the probed cells, not history size.
  *
  * Batch-boundary semantics: EXACTLY-ONCE via the
  * [[Ingest.applyIngestBatch]] stage-then-commit discipline — stage
  * survivors (a complete stage is authoritative: survivors are
  * never recomputed once the index may hold any of this batch's
  * vectors, or the history probe would drop them and the commit
  * would lose the batch), append the index under batch=N (dynamic
  * overwrite ⇒ re-delivery replaces, never double-counts), then
  * commit by one atomic rename into `ingest_batch=N`, followed by a
  * metadata-cache refresh (the rename bypasses Spark's own write
  * invalidation). */
object IngestEmbed {

  private def corpusPath(workDir: String) = s"$workDir/embeddings.parquet"
  private def centsPath(workDir: String) = s"$workDir/vindex/centroids"
  private def dataPath(workDir: String) = s"$workDir/vindex/data"

  /** Cell granularity for a work dir's discipline — ONE formula
    * shared by first-batch training and [[rebuildEmbedIndex]], whose
    * recall contract depends on rebuilding at the same granularity
    * rule the ingest trained with (only n changes between them). */
  private def cellCount(nv: Double, withinBatch: String,
      nprobe: Int): Int =
    math.min(4096, math.max(16,
      (if (withinBatch == "screen") math.sqrt(nv)
       else nprobe * math.sqrt(nv)).toLong)).toInt

  /** (vec_id, vec) with unit-normalized double vectors, from any
    * frame with an `embedding: array<float>` column. */
  def normalizedFor(batch: DataFrame): DataFrame =
    batch.select(col("vec_id"),
      normalize(toDoubleVec(col("embedding"))).as("vec"))

  /** Apply one embedding micro-batch exactly-once (see class doc).
    *
    * `withinBatch` picks the batch-local dedup discipline:
    *  - `"pairs"` (default): cell-bucketed pair verification + CC —
    *    full tau single-linkage within the batch, cost ∝ probed-cell
    *    occupancy² per cell (the [[Similarity.semanticDedupClusters]]
    *    shape at batch grain).
    *  - `"screen"`: the SemDeDup centroid screen against the SAME
    *    frozen centroids — one best-cell pass (cell + similarity to
    *    the owning centroid in one codegen map stage), then a
    *    per-cell walk down the (sim desc, vec_id) order where each
    *    arrival pays ONE exact dot against its chain PREDECESSOR: a
    *    link holds iff the sim gap is ≤ `eps` AND cos(v, prev) ≥
    *    tau; a failed link starts a new chain. Survivors are one
    *    min-id representative per verified chain. Verifying the
    *    predecessor (not the chain representative) is what makes
    *    exact copies collapse UNCONDITIONALLY: identical vectors
    *    have identical sim, so they are adjacent in the order
    *    (anything tied exactly between them is itself an identical
    *    vector) and the link dot is 1 — whereas rep-verification
    *    can strand a copy whose 1-D group acquired an unrelated
    *    representative (the batch hybrid catches those in its
    *    pairwise fallback pool; a per-batch screen has no fallback,
    *    so the chain discipline carries the guarantee instead,
    *    measured by the duplicate-heavy StreamingSpec case). Every
    *    drop is justified by an exact ≥ tau link into its chain —
    *    the same per-member witness the pair join's CC gives
    *    non-survivors. No pair term at any batch size: duplicate-
    *    heavy streams pay Θ(rows · k) per batch instead of the pair
    *    join's occupancy² (SCALE.md's StressIngestEmbed row prices
    *    the A/B). Moderate-similarity batch-local pairs
    *    that only the pair join would link stay un-merged (kept,
    *    never wrongly dropped). The history probe (step 1) is
    *    identical in both modes. */
  def applyEmbedBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, workDir: String, tau: Double = 0.4,
      nprobe: Int = 4, withinBatch: String = "pairs",
      eps: Double = 5e-4): Unit = {
    val corpusQ = Ingest.qualified(spark, corpusPath(workDir))
    val fs = Ingest.fileSystem(spark, workDir)
    val commitDir = new Path(corpusQ, s"ingest_batch=$batchId")
    if (fs.exists(commitDir)) return // fully applied earlier
    val stageDir = new Path(
      new Path(corpusQ.getParent, corpusQ.getName + ".staging"),
      batchId.toString)

    if (!fs.exists(new Path(stageDir, "_SUCCESS")))
      graft.core.Par.labeled(spark, s"ingest-embed b$batchId: stage") {
      val vecs = normalizedFor(batch).localCheckpoint()
      if (vecs.isEmpty) {
        // an EMPTY batch stages as-is and trains nothing: training on
        // it would freeze an empty centroid table forever (no cell
        // ever assigns again — dedup silently off for the life of the
        // store, and the first index append would create a schema-less
        // partitioned data dir that bricks every later probe).
        // Training defers to the first non-empty batch; the flat empty
        // write keeps the stage readable.
        batch.write.mode("overwrite").parquet(stageDir.toString)
      } else {
      // frozen centroids: trained on the first NON-EMPTY batch
      // (overwrite ⇒ a re-delivered first batch retrains identically —
      // the build is deterministic), read back for every later one
      if (!Ingest.pathExists(spark, centsPath(workDir))) {
        // cell granularity follows the within-batch discipline the
        // work dir runs (frozen thereafter): the pair join wants
        // nprobe·√n cells (occupancy² pruning), the screen wants the
        // batch screen's coarser √n (duplicate-regime locality only —
        // finer cells split near-copies across boundaries and the 1-D
        // chain never sees the pair; measured 12.8% → band-compliant
        // stragglers on the planted spec corpus). Both granularities
        // serve the history probe; coarser just probes more rows.
        Similarity.ivfCentroidsDf(vecs,
            cellCount(vecs.count().toDouble, withinBatch, nprobe),
            iters = 2)
          .write.mode("overwrite").parquet(centsPath(workDir))
      }
      val cents = spark.read.parquet(centsPath(workDir)).localCheckpoint()
      val assigned = Similarity.assignCells(vecs, cents, nprobe)
        .localCheckpoint()

      // 1. vs history: any kept vector at cosine ≥ tau in a probed
      //    cell kills the batch vector. Probe cells are a bounded
      //    driver list (≤ cell count) → directory-level pruning, the
      //    ivfTopKIndexed pattern.
      val fresh =
        if (Ingest.pathExists(spark, dataPath(workDir))) {
          val probeCells = assigned.select("cell").distinct()
            .collect().map(_.getInt(0)).toSeq
          // packedScan: the per-(cell,batch) layout is one tiny file
          // each — pack the probed splits to data-proportional tasks
          val hist = graft.core.Tables.packedScan(
            spark.read.parquet(dataPath(workDir))
              .where(col("cell").isin(probeCells: _*)),
            dataPath(workDir))
            .select(col("cell"), col("vec").as("hvec"))
          val dropped = assigned
            .join(vecs, "vec_id")
            .join(hist, "cell")
            .where(dot(col("vec"), col("hvec")) >= tau)
            .select("vec_id").distinct()
          vecs.join(dropped, Seq("vec_id"), "left_anti")
        } else vecs

      // 2. within batch (see scaladoc): pair-verify + CC, or the
      //    centroid screen — both against the same frozen centroids
      val survivors = withinBatch match {
        case "screen" =>
          // one codegen map pass: owning cell AND the similarity to
          // its centroid together (the batch screen's only dot per
          // arrival besides the verify below)
          val centsArr = cents
            .agg(collect_list(struct(col("cid"), col("cvec"))).as("cc"))
          val scored = fresh.crossJoin(broadcast(centsArr))
            .select(col("vec_id"), col("vec"),
              graft.functions.VectorFunctions
                .bestCell(col("vec"), col("cc")).as("b"))
            .select(col("vec_id"), col("vec"),
              col("b.cid").as("cell"), col("b.sim").as("sim"))
            .localCheckpoint()
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("cell").orderBy(col("sim").desc, col("vec_id"))
          // one exact dot per arrival, against the chain predecessor;
          // a failed link (gap or dot) starts a new chain, and each
          // chain keeps its min id
          val chained = scored
            .withColumn("gap", lag(col("sim"), 1).over(w) - col("sim"))
            .withColumn("pvec", lag(col("vec"), 1).over(w))
            .withColumn("news",
              when(col("gap").isNotNull && col("gap") <= eps &&
                dot(col("vec"), col("pvec")) >= tau, 0L).otherwise(1L))
            .withColumn("chain", sum("news").over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
          chained
            .withColumn("keep_id", min("vec_id")
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy("cell", "chain")))
            .where(col("vec_id") === col("keep_id"))
            .select("vec_id")
        case _ =>
          // cell-bucketed pair verify (each pair once, at its
          // smallest shared probe cell) + CC, min-id survivor
          val freshAssigned = assigned
            .join(fresh.select("vec_id"), Seq("vec_id"), "left_semi")
          val sided = freshAssigned.groupBy("vec_id")
            .agg(sort_array(collect_list(col("cell"))).as("cells"))
            .join(fresh, "vec_id")
            .select(col("vec_id"), col("vec"), col("cells"),
              explode(col("cells")).as("cell"))
          val pairs = sided.as("a")
            .join(sided.as("b"),
              col("a.cell") === col("b.cell") &&
                col("a.vec_id") < col("b.vec_id"))
            .where(col("a.cell") ===
                array_min(array_intersect(col("a.cells"), col("b.cells"))) &&
              dot(col("a.vec"), col("b.vec")) >= tau)
            .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
          Components.connectedComponents(
              fresh.select(col("vec_id").as("node")), pairs)
            .groupBy("component").agg(min("node").as("vec_id"))
            .select("vec_id")
      }
      batch.join(survivors, Seq("vec_id"), "left_semi")
        .write.mode("overwrite").parquet(stageDir.toString)
      }
    }

    // (end of the labeled staging block)
    // index append AFTER the stage is complete, BEFORE the commit:
    // batch=N dynamic overwrite makes a re-applied id replace (not
    // double-count) its earlier, possibly torn, contribution. An
    // EMPTY staged batch appends nothing — a zero-row partitioned
    // write would CREATE a schema-less data dir on the store's first
    // write (bricking every later probe) and contributes nothing
    // otherwise
    val staged = spark.read.schema(batch.schema)
      .parquet(stageDir.toString)
    if (!staged.isEmpty)
      graft.core.Par.labeled(spark, s"ingest-embed b$batchId: append") {
      val cents = spark.read.parquet(centsPath(workDir)).localCheckpoint()
      // ONE stage read + normalize pass, reused by assign and join
      val normed = normalizedFor(staged).localCheckpoint()
      // EXPLICIT partition count: a keyless repartition(col("cell"))
      // is AQE-coalesced to ONE partition at small batch volume, and
      // that one task then creates every (cell, batch) file serially —
      // measured 0.9-1.6 s per micro-batch of pure file-create
      // overhead. min(cells, cores) tasks parallelize the file
      // creation while keeping one file per (cell, batch) — each cell
      // still lands in exactly one task.
      val nCells = cents.count().toInt
      Similarity.assignCells(normed, cents, nprobe = 1)
        .join(normed, "vec_id")
        .withColumn("batch", lit(batchId))
        .repartition(
          math.max(1, math.min(nCells,
            spark.sparkContext.defaultParallelism)), col("cell"))
        .write.mode("overwrite").partitionBy("cell", "batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(dataPath(workDir))
    }

    fs.mkdirs(corpusQ)
    require(fs.rename(stageDir, commitDir),
      s"embed ingest commit failed: could not rename $stageDir to $commitDir")
    spark.catalog.refreshByPath(corpusPath(workDir))
    ()
  }

  /** Drive the embedding ingest over every file currently in
    * `srcDir` (resuming from the checkpoint), one micro-batch per
    * file so cross-batch dedup is exercised. */
  def runIngestEmbeddings(spark: SparkSession, srcDir: String,
      schema: StructType, workDir: String, tau: Double = 0.4,
      nprobe: Int = 4, withinBatch: String = "pairs"): Unit =
    StreamAggregator.drainBatches(
        StreamAggregator.filePerBatch(spark, srcDir, schema),
        s"$workDir/ckpt") { (batch, id) =>
      applyEmbedBatch(batch.sparkSession, batch, id, workDir,
        tau = tau, nprobe = nprobe, withinBatch = withinBatch)
    }

  /** The kept (semantically deduped) embedding corpus. */
  def keptEmbeddings(spark: SparkSession, workDir: String): DataFrame =
    spark.read.parquet(corpusPath(workDir))

  /** ANN top-k over the ingest's vector index — the read side that
    * makes `vindex/` a queryable artifact, not just dedup plumbing:
    * probe each query's `nprobe` best cells (0 = auto-tune against
    * the index's cell count, [[graft.ops.Similarity.nprobeAuto]] —
    * a fixed budget quietly loses recall as the first batch's size,
    * hence the frozen cell count, grows), scan ONLY those cell
    * directories (static IN-list → directory-level pruning, the
    * ivfTopKIndexed pattern), exact dot, per-query top-k. `queries`
    * is a (query_id, qvec) side input of unit vectors — never
    * fetched from the index itself (the [[graft.ops.Quantize
    * .ivfPqTopK]] full-scan trap). */
  def embedIndexTopK(spark: SparkSession, workDir: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 0): DataFrame = {
    val centArr = spark.read.parquet(centsPath(workDir))
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cc"))
      .localCheckpoint()
    val np = if (nprobe > 0) nprobe
      else Similarity.nprobeAuto(
        centArr.select(size(col("cc"))).head().getInt(0))
    val probes = queries.select(col("query_id"), col("qvec"))
      .crossJoin(broadcast(centArr))
      .select(col("query_id"), col("qvec"),
        explode(slice(reverse(array_sort(transform(col("cc"),
          c => struct(dot(col("qvec"), c.getField("cvec")).as("sim"),
            c.getField("cid").as("cid"))))), 1, np)
          .getField("cid")).as("cell"))
      .localCheckpoint()
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val scored = graft.core.Tables.packedScan(
        spark.read.parquet(dataPath(workDir))
          .where(col("cell").isin(probeCells: _*)),
        dataPath(workDir))
      .select(col("cell"), col("vec_id"), col("vec"))
      .join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("vec"), col("qvec")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** REBUILD the ingest's vector index from the full kept history —
    * the drift-repair operation [[applyEmbedBatch]]'s frozen-
    * centroid design defers to (the FAISS periodic-rebuild model,
    * same as [[graft.ops.Quantize.appendToIvfPqIndex]]'s): retrain
    * centroids on everything kept so far (same granularity formula
    * as the first-batch training, now at full-history n), re-assign
    * every kept vector to its new nearest cell, and atomically swap
    * `vindex/` via the two-rename discipline of
    * [[graft.ops.Quantize.compactIvfPqIndex]] (loud interrupted-swap
    * detection; a crash between the renames leaves `.old` for hand
    * recovery, never a half-written live index). Rows keep their
    * `batch` column, so the per-batch dynamic-overwrite idempotence
    * of re-delivered micro-batches survives the rebuild. Cost: one
    * centroid train + one full-history assignment write — O(history),
    * paid on the operator's cadence, never per batch. */
  def rebuildEmbedIndex(spark: SparkSession, workDir: String,
      withinBatch: String = "pairs", nprobe: Int = 4): Unit = {
    val hist = spark.read.parquet(dataPath(workDir))
      .select("vec_id", "vec", "batch").localCheckpoint()
    val nCells = cellCount(hist.count().toDouble, withinBatch, nprobe)
    val cents = Similarity
      .ivfCentroidsDf(hist.select("vec_id", "vec"), nCells, iters = 2)
      .localCheckpoint()
    val fs = Ingest.fileSystem(spark, workDir)
    val vindex = fs.makeQualified(
      new Path(s"$workDir/vindex"))
    val tmp = new Path(vindex.getParent, vindex.getName + ".rebuild.tmp")
    val old = new Path(vindex.getParent, vindex.getName + ".old")
    require(!fs.exists(old),
      s"rebuildEmbedIndex: $old exists — a previous rebuild swap was " +
        "interrupted; recover (restore or delete the .old copy) by hand")
    fs.delete(tmp, true)
    cents.write.parquet(s"$tmp/centroids")
    // explicit count, same reason as the append write: AQE coalesces a
    // keyless repartition to 1 partition and that task creates every
    // (cell, batch) file serially (measured 9.8 s for the 353-file
    // rebuild at sf0.1)
    Similarity.assignCells(hist.select("vec_id", "vec"), cents, nprobe = 1)
      .join(hist, "vec_id")
      .repartition(
        math.max(1, math.min(nCells,
          spark.sparkContext.defaultParallelism)), col("cell"))
      .select(col("vec_id"), col("vec"), col("cell"), col("batch"))
      .write.partitionBy("cell", "batch")
      .parquet(s"$tmp/data")
    require(fs.rename(vindex, old),
      s"rebuildEmbedIndex: failed to move $vindex aside")
    require(fs.rename(tmp, vindex),
      s"rebuildEmbedIndex: failed to move rebuilt index into place")
    fs.delete(old, true)
    spark.catalog.refreshByPath(dataPath(workDir))
    spark.catalog.refreshByPath(centsPath(workDir))
  }

  /** Driver-gate row for STREAMING-index drift (`q_ingest_embed_drift`)
    * — the round-10 verdict ask: [[applyEmbedBatch]] freezes
    * first-batch centroids, the batch index has `q_ann_ivfpq_drift`,
    * but nothing measured the streaming path's recall after drifted
    * batches or defined the repair. This gate does both, with the
    * [[graft.ops.Quantize.ivfPqDriftRecall]] thresholded-aggregate
    * trick (hash-exact vs a constant oracle).
    *
    * Construction: the embeddings table splits into `batches`+1
    * DISTINCT slices (vec_id mod batches+1) — batch b is slice b
    * pulled by shift b·alpha ([[graft.ops.Quantize.driftedBatch]]),
    * modeling NEW content arriving from a drifting distribution.
    * (Drifting copies of the SAME vectors would be content near-dups
    * of history — the ingest's own dedup would correctly collapse
    * them and the drift measurement would dissolve; tau=0.9 keeps
    * ordinary cross-slice similarities untouched either way.)
    * Centroids freeze on the UN-drifted slice 0; queries are fresh
    * drift-level-`batches`+1 vectors; ground truth is exact brute
    * force over the kept corpus. Asserts: the stale frozen-centroid
    * index holds the floor band; [[rebuildEmbedIndex]] restores the
    * target band; the rebuild never regresses more than 0.1 (the
    * no-regression form that is stable across SFs — the strict
    * `fresh > stale` lesson of the batch gate). */
  def ingestEmbedDriftGate(spark: SparkSession, dir: String,
      batches: Int = 4, alpha: Double = 0.15, numQueries: Int = 10,
      k: Int = 10, tau: Double = 0.9): DataFrame = {
    import graft.ops.{Quantize, Scratch}
    val m = batches + 1
    // spread (§2.5): the one-file embeddings scan plans a single task,
    // and every slice pays interpreted vector HOFs (normalize +
    // driftedBatch zip_with) per row on one core — measured 1.2-2.3 s
    // single-task stages per batch in the stale-store build
    def slice(b: Int): DataFrame =
      graft.core.Tables.spread(
          graft.core.Tables.embeddings(spark, dir), "vec_id")
        .where(pmod(col("vec_id"), lit(m)) === b)
        .select("vec_id", "embedding")
    def driftedSlice(b: Int): DataFrame =
      Quantize.driftedBatch(normalizedFor(slice(b)), b, alpha)
        .select(col("vec_id"), col("vec")
          .cast("array<float>").as("embedding"))
    val stale = Scratch.dir("graft-ingest-drift")
    applyEmbedBatch(spark, slice(0), 0L, stale, tau = tau)
    (1 to batches).foreach(b =>
      applyEmbedBatch(spark, driftedSlice(b), b.toLong, stale, tau = tau))
    // the probe below reads both the stale store and its rebuild, so
    // the rebuild runs on a copy
    val rebuilt = Scratch.dir("graft-ingest-rebuilt")
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(stale)
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new Path(rebuilt),
      false, conf)
    rebuildEmbedIndex(spark, rebuilt)
    val (queries, truth) =
      graft.core.Par.labeled(spark, "drift-gate: queries+truth") {
        val q = Quantize.driftedBatch(
            normalizedFor(slice(0).where(col("vec_id") < numQueries * m)),
            batches + 1, alpha)
          .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
          .localCheckpoint()
        val keptNorm = normalizedFor(
          keptEmbeddings(spark, stale).select("vec_id", "embedding"))
          .localCheckpoint()
        (q, Similarity.bruteForceTopKFor(keptNorm, q, k)
          .select("query_id", "neighbor_id").localCheckpoint())
      }
    def hitsOf(work: String): Long =
      graft.core.Par.labeled(spark, s"drift-gate: probe $work") {
        embedIndexTopK(spark, work, queries, k)
          .select("query_id", "neighbor_id")
          .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .count()
      }
    // independent probes over built indexes + checkpointed truth —
    // overlap them (guide §2.6)
    val (staleHits, freshHits) = graft.core.Par.both(
      hitsOf(stale), hitsOf(rebuilt))
    val nTrue = truth.count()
    spark.range(1).select(
      lit(numQueries.toLong).as("n_queries"),
      lit(if (staleHits * 10L >= nTrue * 5L) 1 else 0)
        .as("stale_recall_ge_50"),
      lit(if (freshHits * 10L >= nTrue * 8L) 1 else 0)
        .as("rebuilt_recall_ge_80"),
      lit(if (freshHits * 10L >= staleHits * 10L - nTrue) 1 else 0)
        .as("rebuild_no_regression"))
  }

  val ingestEmbedDriftGateSql: String =
    """SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
      |       1 AS stale_recall_ge_50, 1 AS rebuilt_recall_ge_80,
      |       1 AS rebuild_no_regression
      |FROM embeddings WHERE vec_id < 10""".stripMargin
}
