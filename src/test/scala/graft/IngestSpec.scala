package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Schemas, Tables}
import graft.ops.TextStats
import graft.streaming.Ingest

/** Continuous ingest: stream of document batches → per-batch dedup
  * against the persisted fingerprint store → corpus append. */
class IngestSpec extends AnyFunSuite with SharedSpark {

  /** Bucketed-scan plan assertions only mean anything when the join
    * can't go broadcast (a broadcast anti-join needs no distribution,
    * so the planner rightly skips the bucket layout). */
  private def noBroadcast[T](f: => T): T = {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("streamed ingest == batch first-arrival dedup over the union; " +
    "re-delivery and re-runs are no-ops") {
    val base = tempDir("graft-ingest")
    val (src, corpus, store, ckpt) =
      (s"$base/src", s"$base/corpus", s"$base/store", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(src))

    val docs = Tables.documents(spark, sf).cache()

    // batch 1: doc_id < 170. batch 2: 170..339 PLUS re-delivered copies
    // of batch-1 content under new ids (5000+). batch 3: the rest plus
    // copies of batch-2 content (6000+). Arrival order == id order, so
    // first-arrival == min doc_id per fingerprint.
    val b1 = docs.where(col("doc_id") < 170)
    val b2 = docs.where(col("doc_id") >= 170 && col("doc_id") < 340)
      .unionByName(b1.limit(20).withColumn("doc_id", col("doc_id") + 5000))
    val b3 = docs.where(col("doc_id") >= 340)
      .unionByName(docs.where(col("doc_id") >= 170 && col("doc_id") < 190)
        .withColumn("doc_id", col("doc_id") + 6000))

    // one parquet FILE per batch (the stream triggers per file)
    b1.coalesce(1).write.parquet(s"$src/b1")
    b2.coalesce(1).write.parquet(s"$src/b2")
    b3.coalesce(1).write.parquet(s"$src/b3")
    for (f <- Seq("b1", "b2", "b3")) {
      val dir = new java.io.File(s"$src/$f")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$f.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }

    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt)

    val union = b1.unionByName(b2).unionByName(b3)
      .withColumn("fp", TextStats.fingerprint(col("text")))
    val expected = union
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val got = spark.read.schema(Schemas.documents).parquet(corpus)

    // corpus == min-id survivor per unique content, exactly once
    assert(got.count() === expected.count())
    assert(got.select("doc_id").exceptAll(expected).count() === 0)
    // none of the re-delivered copies survived
    assert(got.where(col("doc_id") >= 5000).count() === 0)
    // store holds exactly the distinct fingerprints
    val fps = spark.read.parquet(store)
    assert(fps.count() === union.select("fp").distinct().count())
    assert(fps.distinct().count() === fps.count())

    // re-run with no new files: checkpoint makes it a no-op
    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt)
    assert(spark.read.schema(Schemas.documents).parquet(corpus).count()
      === expected.count())

    // NEW file re-delivering OLD content: fp store makes it a no-op
    b1.limit(30).withColumn("doc_id", col("doc_id") + 7000)
      .coalesce(1).write.parquet(s"$src/b4")
    val dir4 = new java.io.File(s"$src/b4")
    val part4 = dir4.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part4.toPath, java.nio.file.Paths.get(s"$src/b4.parquet"))
    dir4.listFiles().foreach(_.delete()); dir4.delete()
    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt)
    assert(spark.read.schema(Schemas.documents).parquet(corpus).count()
      === expected.count())

    docs.unpersist()
  }

  test("quality-screened ingest: only positively-scored docs admitted, " +
    "rejects never fingerprint, stream == screened sequential batches") {
    val base = tempDir("graft-ingest-screen")
    val (src, corpus, store, ckpt) =
      (s"$base/src", s"$base/corpus", s"$base/store", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).cache()

    val b1 = docs.where(col("doc_id") < 250)
    // batch 2: the rest + re-delivered batch-1 content under new ids
    val b2 = docs.where(col("doc_id") >= 250)
      .unionByName(b1.limit(25).withColumn("doc_id", col("doc_id") + 5000))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    drop(b1, "b1"); drop(b2, "b2")

    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt,
      admit = Ingest.qualityScreen)

    // oracle: screen each batch, then first-arrival dedup the union
    val union = b1.unionByName(b2)
    val keepIds = graft.ops.Classify.scoreDocs(union)
      .where(col("score_milli") > 0).select("doc_id")
    val screened = union.join(keepIds, Seq("doc_id"), "left_semi")
      .withColumn("fp", TextStats.fingerprint(col("text")))
    val expected = screened.groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val got = spark.read.schema(Schemas.documents).parquet(corpus)
    assert(got.count() === expected.count())
    assert(got.select("doc_id").exceptAll(expected).count() === 0)
    // the screen actually rejected something, and no reject slipped in
    assert(got.count() < union.count())
    val admittedScores = graft.ops.Classify.scoreDocs(
      got.select("doc_id", "text"))
    assert(admittedScores.where(col("score_milli") <= 0).count() === 0)
    // rejects never fingerprinted: store holds exactly the screened fps
    val fps = spark.read.parquet(store)
    assert(fps.count() === screened.select("fp").distinct().count())

    // re-run with no new files: still a no-op under the screen
    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt,
      admit = Ingest.qualityScreen)
    assert(spark.read.schema(Schemas.documents).parquet(corpus).count()
      === expected.count())
    docs.unpersist()
  }

  test("runIngest with an in-stream compaction cadence: results are " +
    "identical to the uncompacted run and the store ends compact") {
    val base = tempDir("graft-ingest-compact")
    val (src, ckpt) = (s"$base/src", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).cache()
    val chunks = Seq(
      docs.where(col("doc_id") < 170),
      docs.where(col("doc_id") >= 170 && col("doc_id") < 340),
      docs.where(col("doc_id") >= 340))
    chunks.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$src/b$i")
      val dir = new java.io.File(s"$src/b$i")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/b$i.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    // compacted mid-stream (fold after batch 1) vs never compacted
    Ingest.runIngest(spark, src, Schemas.documents, s"$base/corpusC",
      s"$base/storeC", ckpt, storeBuckets = 4, compactEvery = 2)
    Ingest.runIngest(spark, src, Schemas.documents, s"$base/corpusP",
      s"$base/storeP", s"$base/ckpt2", storeBuckets = 4)
    val cc = spark.read.schema(Schemas.documents).parquet(s"$base/corpusC")
      .select("doc_id")
    val cp = spark.read.schema(Schemas.documents).parquet(s"$base/corpusP")
      .select("doc_id")
    assert(cc.exceptAll(cp).count() === 0)
    assert(cp.exceptAll(cc).count() === 0)
    val fc = Ingest.readStore(spark, s"$base/storeC").collect()
      .map(_.getString(0)).toSet
    val fp2 = Ingest.readStore(spark, s"$base/storeP").collect()
      .map(_.getString(0)).toSet
    assert(fc === fp2, "compaction changed the fingerprint set")
    docs.unpersist()
  }

  test("applyIngestBatch is exactly-once: re-delivery no-ops, and a " +
    "crash between fp append and commit neither loses nor duplicates " +
    "the batch") {
    val base = tempDir("graft-ingest-once")
    val (corpus, store) = (s"$base/corpus", s"$base/store")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").cache()
    val b0 = docs.where(col("doc_id") < 200)
    val b1 = docs.where(col("doc_id") >= 200 && col("doc_id") < 400)
    Ingest.applyIngestBatch(spark, b0, 0L, corpus, store)
    val after0 = spark.read.schema(b0.schema).parquet(corpus).count()
    assert(after0 === b0.withColumn("fp", TextStats.fingerprint(col("text")))
      .select("fp").distinct().count())

    // plain re-delivery of a COMMITTED batch: full no-op
    Ingest.applyIngestBatch(spark, b0, 0L, corpus, store)
    assert(spark.read.schema(b0.schema).parquet(corpus).count() === after0)

    // the old bug's window, simulated: batch 1 is staged and its fps
    // reach the store, but the commit rename never happens (crash).
    // On re-delivery the survivors must still land in the corpus —
    // once — even though the anti-join against the store would now
    // discard every one of them.
    val survivors1 = Ingest.ingestBatch(b1, Ingest.readStore(spark, store))
      .localCheckpoint()
    val stage = new org.apache.hadoop.fs.Path(s"$base/corpus.staging/1")
    survivors1.drop("fp")
      .write.mode("overwrite").parquet(stage.toString)
    Ingest.appendToStore(spark, store, survivors1.select("fp"))
    // re-delivery after the simulated crash
    Ingest.applyIngestBatch(spark, b1, 1L, corpus, store)
    val got = spark.read.schema(b1.schema).parquet(corpus)
    val expected = after0 + survivors1.count()
    assert(got.count() === expected,
      "batch lost or duplicated across the fp-append/commit window")
    // survivors appear exactly once (no doc_id twice)
    assert(got.select("doc_id").distinct().count() === got.count())
    // and a further re-delivery is a no-op
    Ingest.applyIngestBatch(spark, b1, 1L, corpus, store)
    assert(spark.read.schema(b1.schema).parquet(corpus).count() === expected)
    // the store may hold duplicate fps from the retried append — a
    // set, compacted clean
    Ingest.compactStore(spark, store)
    val fps = spark.read.parquet(store)
    assert(fps.count() === fps.distinct().count())
    docs.unpersist()
  }

  test("bucketed fp store: anti-join shuffles only the batch side; " +
    "compaction keeps content and bucketing") {
    val base = tempDir("graft-store")
    val store = s"$base/store"
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextStats.fingerprint(col("text")))

    // two appends -> up to 2 * StoreBuckets bucket files
    Ingest.appendToStore(spark, store, docs.where(col("doc_id") < 200))
    Ingest.appendToStore(spark, store,
      docs.where(col("doc_id") >= 200).select("fp")
        .exceptAll(docs.where(col("doc_id") < 200).select("fp")))
    val expected = docs.select("fp").distinct().count()
    assert(spark.read.parquet(store).count() === expected)

    def antiJoinPlan(): String = {
      val probe = docs.select("doc_id", "fp")
      probe.join(Ingest.readStore(spark, store), Seq("fp"), "left_anti")
        .queryExecution.executedPlan.toString
    }
    noBroadcast {
      val plan = antiJoinPlan()
      // store side reads its bucket layout directly — the ONLY
      // exchange in the plan is the probe side shuffling into it
      assert(plan.contains("Bucketed: true"),
        s"store scan is not bucketed:\n$plan")
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      assert(exchanges === 1,
        s"expected exactly one exchange (probe side only):\n$plan")

      // compaction: one file per bucket, same content, still bucketed
      Ingest.compactStore(spark, store)
      val files = new java.io.File(store).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length <= Ingest.DefaultStoreBuckets,
        s"compaction left ${files.length} files:\n" +
          files.map(_.getName).sorted.mkString("\n"))
      assert(spark.read.parquet(store).count() === expected)
      assert(spark.read.parquet(store).distinct().count() === expected)
      val planAfter = antiJoinPlan()
      assert(planAfter.contains("Bucketed: true") &&
        "Exchange hashpartitioning".r.findAllIn(planAfter).length === 1,
        s"compaction lost the bucket layout:\n$planAfter")
    }
  }

  test("dedupAgainstIngestStore: result == unscreened dedup; confirm " +
    "join reads the store with NO exchange and NO sort per batch") {
    val base = tempDir("graft-fullstore")
    val docs = Tables.documents(spark, sf)
    // spike the batch with re-crawled copies of history docs: without
    // guaranteed bloom-positives the confirm anti-join is EMPTY at
    // runtime and AQE's empty-relation propagation deletes the very
    // branch this test plan-asserts (observed at sf0.001)
    val spike = docs.where(!col("source").isin("src0", "src1"))
      .orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("source", lit("src0"))
    val batch = docs.where(col("source").isin("src0", "src1"))
      .unionByName(spike).localCheckpoint()
    val history = docs.where(!col("source").isin("src0", "src1"))
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    // one aligned append = one file per bucket: the sort-free scan
    // precondition holds without a compaction pass
    Ingest.appendToStore(spark, s"$base/fps", history)
    graft.ops.Dedup.buildBloomStore(history, s"$base/bloom", shards = 4,
      itemsPerShard = math.max(1L, history.count() / 4),
      coversEpoch = Ingest.storeEpoch(spark, s"$base/fps"))

    // end-to-end result parity (the confirm executes eagerly inside —
    // `fresh` is checkpointed — so plan shapes are asserted on the
    // confirm frame itself below)
    val want = graft.ops.Dedup.dedupAgainstHistory(batch, history)
      .collect().map(_.getLong(0)).toSet
    assert(graft.ops.Dedup.dedupAgainstIngestStore(spark, batch,
        s"$base/fps", s"$base/bloom", shards = 4)
      .collect().map(_.getLong(0)).toSet === want)
    assert(want.nonEmpty)

    // the confirm frame, probed directly: screen the batch, take the
    // positive slice, confirm against the bucketed store. Both confirm
    // regimes keep the same rows, so the end-to-end result above holds
    // under either.
    val maybes = graft.ops.Dedup.screenAgainstBloomStore(spark, batch,
      s"$base/bloom", shards = 4).where(col("__maybe")).localCheckpoint()
    val store = Ingest.readStore(spark, s"$base/fps")
    def confirmed(cap: Int): Set[(Long, String)] =
      graft.ops.Dedup.confirmAgainstHistory(maybes, store, cap)
        .select("doc_id", "fp").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(confirmed(10000) === confirmed(0))
    def expand(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case other => other.children
      }
      p +: kids.flatMap(expand)
    }

    // regime 1 (small positive slice, the default cap): the probe
    // scan the confirm materializes internally, re-built here under
    // the same pinned conf (autoBucketedScan off — the planner would
    // otherwise un-bucket the scan and bucket pruning does not apply
    // on the plain read path): SelectedBucketsCount must be < total
    // and the scan must deliver fewer rows than the store holds
    val posFps = maybes.select("fp").where(col("fp").isNotNull)
      .distinct().collect().map(_.getString(0)).toIndexedSeq
    assert(posFps.nonEmpty)
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = graft.ops.Dedup.storeFpsIn(store, posFps)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findAllMatchIn(plan)
        .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
      assert(sel.nonEmpty && sel.forall(p => p._1 < p._2),
        s"small-slice probe did not bucket-prune the store scan:\n$plan")
      val rowsRead = expand(probe.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
      assert(rowsRead < history.count(),
        s"pruned probe still delivered all $rowsRead store rows")
    } finally spark.conf.unset(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled")

    // regime 2 (cap disabled → the at-scale merge-join shape): the
    // store side of the anti-join crosses NO exchange and NO sort;
    // only the batch side moves. The confirm frame is planned here, so
    // the sorted-scan conf the screened paths scope around their own
    // confirm is set for this block too.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try noBroadcast {
      val df = graft.ops.Dedup.confirmAgainstHistory(maybes, store, cap = 0)
      df.collect()
      val nodes = expand(df.queryExecution.executedPlan)
      val storeScans = nodes.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.bucketedScan => f
      }
      assert(storeScans.nonEmpty,
        s"no bucketed scan of the fp store in the plan:\n${nodes.head}")
      def fpOnly(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.output.map(_.name) == Seq("fp")
      val historyExchanges = nodes.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if fpOnly(e) => e
      }
      assert(historyExchanges.isEmpty,
        s"history fps re-shuffled ${historyExchanges.size}x:\n${nodes.head}")
      val historySorts = nodes.collect {
        case s: org.apache.spark.sql.execution.SortExec if fpOnly(s) => s
      }
      assert(historySorts.isEmpty,
        s"history side re-sorted ${historySorts.size}x (written bucket " +
          s"order should carry):\n${nodes.head}")
    } finally
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
  }

  test("dedupAgainstIngestStore and ingestBatchScreened leave the " +
    "caller's session conf unchanged") {
    val s = spark.newSession()
    val base = tempDir("graft-store-conf")
    val docs = Tables.documents(s, sf)
    val batch = docs.where(col("source").isin("src0", "src1"))
    val history = docs.where(!col("source").isin("src0", "src1"))
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
    Ingest.appendToStore(s, s"$base/fps", history)
    graft.ops.Dedup.buildBloomStore(history, s"$base/bloom", shards = 4,
      itemsPerShard = 64, coversEpoch = Ingest.storeEpoch(s, s"$base/fps"))
    val before = s.conf.getAll
    graft.ops.Dedup.dedupAgainstIngestStore(s, batch, s"$base/fps",
      s"$base/bloom", shards = 4).collect()
    assert(s.conf.getAll === before)
    Ingest.ingestBatchScreened(s, batch, s"$base/fps", s"$base/bloom")
      .collect()
    assert(s.conf.getAll === before)
  }

  test("IN-probe bucket pruning holds at the production-wide layout " +
    "(4096 buckets): selected buckets track the positive fps, not the " +
    "store width") {
    val base = tempDir("graft-wide-probe")
    val docs = Tables.documents(spark, sf)
    val history = docs.where(col("doc_id") >= 100)
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    Ingest.appendToStore(spark, s"$base/fps", history, buckets = 4096)
    val posFps = history.limit(5).collect().map(_.getString(0)).toIndexedSeq
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = graft.ops.Dedup.storeFpsIn(
        Ingest.readStore(spark, s"$base/fps"), posFps)
      // the probe is CORRECT at the wide layout ...
      assert(probe.collect().map(_.getString(0)).toSet === posFps.toSet)
      // ... and PRUNED: ≤ one bucket per probe fp out of 4096, the
      // regime claimed at Dedup.ConfirmInFilterCap's doc
      val plan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findAllMatchIn(plan)
        .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
      assert(sel.nonEmpty, s"no bucket pruning in the probe plan:\n$plan")
      assert(sel.forall(_._2 === 4096), s"store not read at 4096 buckets: $sel")
      assert(sel.map(_._1).sum <= posFps.length,
        s"selected more buckets than probe fps: $sel")
    } finally spark.conf.unset(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("store survives catalog loss (fresh-JVM reopen): appends keep " +
    "working via DDL re-registration, never CTAS over the data") {
    val base = tempDir("graft-reopen")
    val store = s"$base/store"
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextStats.fingerprint(col("text")))

    Ingest.appendToStore(spark, store, docs.where(col("doc_id") < 100))
    val before = spark.read.parquet(store).count()
    assert(before > 0)

    // Simulate a fresh JVM: the in-memory catalog forgets the table,
    // the directory (non-empty) and the sidecar survive. The old CTAS
    // registration crashed here (non-empty-location); DDL must not.
    spark.sql(s"DROP TABLE IF EXISTS ${Ingest.storeTableName(spark, store)}")
    Ingest.appendToStore(spark, store,
      docs.where(col("doc_id") >= 100 && col("doc_id") < 150).select("fp")
        .exceptAll(docs.where(col("doc_id") < 100).select("fp")))
    assert(spark.read.parquet(store).count() > before)
    // and readStore still comes back as the bucketed catalog table
    noBroadcast {
      val plan = docs.select("doc_id", "fp")
        .join(Ingest.readStore(spark, store), Seq("fp"), "left_anti")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"reopened store not bucketed:\n$plan")
    }
  }

  test("bucket count is fixed at creation: persisted in the sidecar, " +
    "validated on reopen, mismatched appends fail loudly") {
    val base = tempDir("graft-buckets")
    val store = s"$base/store"
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextStats.fingerprint(col("text")))

    Ingest.appendToStore(spark, store, docs.where(col("doc_id") < 50),
      buckets = 4)
    assert(Ingest.persistedBuckets(spark, store) === Some(4))
    // unspecified count on reopen uses the persisted layout
    Ingest.appendToStore(spark, store,
      docs.where(col("doc_id") >= 50 && col("doc_id") < 60).select("fp")
        .exceptAll(docs.where(col("doc_id") < 50).select("fp")))
    // a DIFFERENT count must fail loudly, not corrupt the layout
    val e = intercept[IllegalArgumentException] {
      Ingest.appendToStore(spark, store, docs.limit(1), buckets = 16)
    }
    assert(e.getMessage.contains("4 buckets"))
    // compaction preserves the creation-time count
    Ingest.compactStore(spark, store)
    assert(Ingest.persistedBuckets(spark, store) === Some(4))
    val files = new java.io.File(store).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length <= 4, s"expected ≤4 bucket files, got ${files.length}")
  }

  test("compactStore honors an explicit bucket count over the sidecar: " +
    "the documented re-bucketing path actually re-buckets") {
    val base = tempDir("graft-rebucket")
    val store = s"$base/store"
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextStats.fingerprint(col("text")))
    Ingest.appendToStore(spark, store, docs.where(col("doc_id") < 100),
      buckets = 4)
    val expected = spark.read.parquet(store).count()
    // ensureStore's mismatch error tells callers to re-bucket via
    // compactStore — so an explicit count here must WIN over the
    // persisted 4, not silently no-op
    Ingest.compactStore(spark, store, buckets = 8)
    assert(Ingest.persistedBuckets(spark, store) === Some(8))
    assert(spark.read.parquet(store).count() === expected)
    // appends at the new layout work; the old count now fails loudly
    Ingest.appendToStore(spark, store,
      docs.where(col("doc_id") >= 100 && col("doc_id") < 110).select("fp")
        .exceptAll(docs.where(col("doc_id") < 100).select("fp")))
    val e = intercept[IllegalArgumentException] {
      Ingest.appendToStore(spark, store, docs.limit(1), buckets = 4)
    }
    assert(e.getMessage.contains("8 buckets"))
  }

  test("corrupt (zero-byte) sidecar fails with a descriptive error, " +
    "and explicit-bucket compactStore recovers the store") {
    val base = tempDir("graft-corrupt")
    val store = s"$base/store"
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextStats.fingerprint(col("text")))
    Ingest.appendToStore(spark, store, docs.where(col("doc_id") < 100),
      buckets = 4)
    val expected = spark.read.parquet(store).count()
    // crash between fs.create and write leaves a zero-byte sidecar;
    // simulate a fresh JVM so nothing is cached in the catalog
    spark.sql(s"DROP TABLE IF EXISTS ${Ingest.storeTableName(spark, store)}")
    Files.write(java.nio.file.Paths.get(store, "_graft_buckets"),
      Array.empty[Byte])
    val e = intercept[IllegalArgumentException] {
      Ingest.persistedBuckets(spark, store)
    }
    assert(e.getMessage.contains("corrupt"))
    // reads/appends surface the same descriptive failure, not a silent
    // re-registration at the default count
    intercept[IllegalArgumentException] { Ingest.readStore(spark, store) }
    // recovery: rewrite at an explicit count (never consults the
    // corrupt sidecar), data intact
    Ingest.compactStore(spark, store, buckets = 4)
    assert(Ingest.persistedBuckets(spark, store) === Some(4))
    assert(spark.read.parquet(store).count() === expected)
  }

  test("interrupted compaction swap is detected: leftover dirs with a " +
    "missing store fail loudly instead of returning an empty store") {
    val base = tempDir("graft-swapcrash")
    val store = s"$base/store"
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextStats.fingerprint(col("text")))
    Ingest.appendToStore(spark, store, docs.where(col("doc_id") < 100),
      buckets = 4)
    // simulate a crash between compactStore's two renames: history
    // lives only in <store>.old, the store path itself is gone
    spark.sql(s"DROP TABLE IF EXISTS ${Ingest.storeTableName(spark, store)}")
    Files.move(java.nio.file.Paths.get(store),
      java.nio.file.Paths.get(s"$store.old"))
    val e = intercept[IllegalStateException] { Ingest.readStore(spark, store) }
    assert(e.getMessage.contains("interrupted"))
    intercept[IllegalStateException] {
      Ingest.appendToStore(spark, store, docs.limit(1))
    }
    intercept[IllegalStateException] { Ingest.compactStore(spark, store) }
    // operator completes the swap by hand; everything works again
    Files.move(java.nio.file.Paths.get(s"$store.old"),
      java.nio.file.Paths.get(store))
    assert(spark.read.parquet(store).count() ===
      Ingest.readStore(spark, store).count())
  }

  test("a leftover .old beside a healthy fp store is refused, not " +
    "deleted: readStore and compactStore fail loudly until it is removed") {
    val store = s"${tempDir("graft-oldleft")}/store"
    val fps = Tables.documents(spark, sf).where(col("doc_id") < 100)
      .select(TextStats.fingerprint(col("text")).as("fp"))
    Ingest.appendToStore(spark, store, fps, buckets = 4)
    val old = java.nio.file.Paths.get(s"$store.old")
    Files.createDirectory(old)
    val e = intercept[IllegalStateException] { Ingest.readStore(spark, store) }
    assert(e.getMessage.contains("interrupted"))
    val c = intercept[IllegalStateException] { Ingest.compactStore(spark, store) }
    assert(c.getMessage.contains("interrupted"))
    assert(Files.exists(old), "the leftover .old was deleted")
    Files.delete(old)
    Ingest.compactStore(spark, store)
    assert(Ingest.readStore(spark, store).count() === fps.distinct().count())
  }

  test("pre-bucketing legacy layout: bucketed append refuses; " +
    "compactStore migrates it in place") {
    val base = tempDir("graft-legacy")
    val store = s"$base/store"
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextStats.fingerprint(col("text")))
    // a plain (non-bucketed, no sidecar) fp dump — the old layout
    docs.where(col("doc_id") < 80).select("fp").distinct()
      .write.parquet(store)
    val expected = spark.read.parquet(store).count()

    val e = intercept[IllegalArgumentException] {
      Ingest.appendToStore(spark, store, docs.limit(1))
    }
    assert(e.getMessage.contains("compactStore"))

    Ingest.compactStore(spark, store, buckets = 4)
    assert(Ingest.persistedBuckets(spark, store) === Some(4))
    assert(spark.read.parquet(store).count() === expected)
    noBroadcast {
      val plan = docs.select("doc_id", "fp")
        .join(Ingest.readStore(spark, store), Seq("fp"), "left_anti")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"migrated store not bucketed:\n$plan")
    }
    // post-migration appends work bucketed
    Ingest.appendToStore(spark, store,
      docs.where(col("doc_id") >= 80 && col("doc_id") < 90).select("fp")
        .exceptAll(docs.where(col("doc_id") < 80).select("fp")))
    assert(spark.read.parquet(store).count() > expected)
  }

  test("bloom/fp store coherence: fps appended after the filter build " +
    "fail LOUDLY at screen time; appendToBloomStore restores the " +
    "guarantee (duplicates caught, never silently readmitted)") {
    val base = tempDir("graft-coherence")
    val docs = Tables.documents(spark, sf)
    val h1 = docs.where(!col("source").isin("src0", "src1"))
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    // epoch 1: history fps + covering filters
    Ingest.appendToStore(spark, s"$base/fps", h1)
    graft.ops.Dedup.buildBloomStore(h1, s"$base/bloom", shards = 4,
      itemsPerShard = math.max(1L, h1.count() / 4),
      coversEpoch = Ingest.storeEpoch(spark, s"$base/fps"))
    // epoch 2: src1 docs' fps reach the FP STORE ONLY — the exact
    // cadence (fps append every batch, filters rebuilt rarely) that
    // used to readmit every since-appended duplicate silently
    val h2docs = docs.where(col("source") === "src1")
    val h2 = h2docs.select(TextStats.fingerprint(col("text")).as("fp"))
      .distinct().exceptAll(h1).localCheckpoint()
    Ingest.appendToStore(spark, s"$base/fps", h2)
    // batch: src0 docs + re-crawled copies of epoch-2 docs — the rows
    // a stale filter routes around the confirm as "definitely new"
    val recrawl = h2docs.orderBy("doc_id").limit(5)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("source", lit("src0"))
    val batch = docs.where(col("source") === "src0")
      .unionByName(recrawl).localCheckpoint()
    // 1. staleness is a CRASH, not a wrong answer
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.dedupAgainstIngestStore(spark, batch,
        s"$base/fps", s"$base/bloom", shards = 4).collect()
    }
    assert(e.getMessage.contains("STALE"))
    // 2. appending epoch 2's filters restores coherence AND the
    //    answer: identical to a from-scratch dedup against the full
    //    history — every re-crawled copy caught
    graft.ops.Dedup.appendToBloomStore(spark, h2, s"$base/bloom",
      coversEpoch = Ingest.storeEpoch(spark, s"$base/fps"))
    val got = graft.ops.Dedup.dedupAgainstIngestStore(spark, batch,
      s"$base/fps", s"$base/bloom", shards = 4)
      .collect().map(_.getLong(0)).toSet
    val want = graft.ops.Dedup.dedupAgainstHistory(batch,
      h1.unionByName(h2)).collect().map(_.getLong(0)).toSet
    assert(got === want && got.nonEmpty)
    assert(!got.exists(_ >= 1000000L), "re-crawled duplicates readmitted")
  }

  test("ingestBatchScreened == ingestBatch row-for-row; compaction " +
    "preserves the append epoch so filter coverage survives it") {
    val base = tempDir("graft-screened-batch")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val hist = docs.where(col("doc_id") >= 300).localCheckpoint()
    val histFps = hist
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    Ingest.appendToStore(spark, s"$base/fps", histFps)
    graft.ops.Dedup.buildBloomStore(histFps, s"$base/bloom", shards = 4,
      itemsPerShard = math.max(1L, histFps.count() / 4),
      coversEpoch = Ingest.storeEpoch(spark, s"$base/fps"))
    // in-batch dups (copies under higher ids) + history re-crawls
    // + NULL-text rows: fp = md5(null) = null, which must ride the
    // exact-confirm path and survive the final (doc_id, fp) semi-join
    // — that join needs null-SAFE fp equality or the rows vanish from
    // the screened path only (the plain path keeps min-doc_id 8000)
    val batch = docs.where(col("doc_id") < 300)
      .unionByName(docs.where(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 5000))
      .unionByName(hist.limit(10)
        .withColumn("doc_id", col("doc_id") + 9000))
      .unionByName(docs.where(col("doc_id") < 2)
        .withColumn("doc_id", col("doc_id") + 8000)
        .withColumn("text", lit(null).cast("string")))
      .localCheckpoint()
    val plain = Ingest.ingestBatch(batch,
      Ingest.readStore(spark, s"$base/fps"))
    val screened = Ingest.ingestBatchScreened(spark, batch,
      s"$base/fps", s"$base/bloom")
    val cols = plain.columns.sorted.toSeq
    assert(screened.select(cols.map(col): _*).collect().toSet ===
      plain.select(cols.map(col): _*).collect().toSet)
    assert(screened.where(col("text").isNull)
      .collect().map(_.getAs[Long]("doc_id")).toSeq === Seq(8000L),
      "null-text document dropped or duplicated by the screened path")
    // count captured BEFORE compaction: the plan holds the pre-swap
    // file listing and would read renamed-away part files after it
    val plainCount = plain.count()
    assert(plainCount > 0)
    // epoch survives compaction (content-invariant rewrite) — the
    // filter store's coverage claim must not reset with it
    val before = Ingest.storeEpoch(spark, s"$base/fps")
    assert(before > 0)
    Ingest.compactStore(spark, s"$base/fps")
    assert(Ingest.storeEpoch(spark, s"$base/fps") === before)
    assert(Ingest.ingestBatchScreened(spark, batch, s"$base/fps",
      s"$base/bloom").count() === plainCount)
  }

  test("screened runIngest (bloomShards > 0): corpus == first-arrival " +
    "dedup across batches; filter store appends per batch, rebuilds " +
    "on the compaction cadence, and ends coherent") {
    val base = tempDir("graft-ingest-bloom")
    val (src, corpus, store, ckpt) =
      (s"$base/src", s"$base/corpus", s"$base/store", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).cache()
    val b1 = docs.where(col("doc_id") < 170)
    val b2 = docs.where(col("doc_id") >= 170 && col("doc_id") < 340)
      .unionByName(b1.limit(20).withColumn("doc_id", col("doc_id") + 5000))
    val b3 = docs.where(col("doc_id") >= 340)
      .unionByName(docs.where(col("doc_id") >= 170 && col("doc_id") < 190)
        .withColumn("doc_id", col("doc_id") + 6000))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
      ()
    }
    drop(b1, "b1"); drop(b2, "b2"); drop(b3, "b3")

    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt,
      compactEvery = 2, bloomShards = 4)

    val union = b1.unionByName(b2).unionByName(b3)
      .withColumn("fp", TextStats.fingerprint(col("text")))
    val expected = union
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val got = spark.read.schema(Schemas.documents).parquet(corpus)
    assert(got.count() === expected.count())
    assert(got.select("doc_id").exceptAll(expected).count() === 0)
    assert(got.where(col("doc_id") >= 5000).count() === 0)

    // the filter store sits beside the fp store and covers its epoch
    val bloom = s"$store.bloom"
    val meta = graft.ops.Dedup.bloomStoreMeta(spark, bloom)
    assert(meta.isDefined && meta.get.shards === 4)
    assert(meta.get.coversEpoch === Ingest.storeEpoch(spark, store))

    // re-delivering OLD content through a NEW file stays a no-op on
    // the screened path (the filters + confirm catch all of it)
    drop(b1.limit(30).withColumn("doc_id", col("doc_id") + 7000), "b4")
    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt,
      compactEvery = 2, bloomShards = 4)
    assert(spark.read.schema(Schemas.documents).parquet(corpus).count()
      === expected.count())
    docs.unpersist()
  }

  test("crash between the fp append and the bloom append: the stale " +
    "guard trips for any new screen; restart heals (startup rebuild + " +
    "staged re-delivery) with no lost doc and no readmitted duplicate") {
    val base = tempDir("graft-ingest-crashwin")
    val (src, corpus, store, ckpt) =
      (s"$base/src", s"$base/corpus", s"$base/store", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = Tables.documents(spark, sf).cache()
    val b1 = docs.where(col("doc_id") < 200)
    // b2: new docs + re-crawls of b1 + in-batch self-dups
    val b2 = docs.where(col("doc_id") >= 200 && col("doc_id") < 400)
      .unionByName(b1.limit(15).withColumn("doc_id", col("doc_id") + 5000))
      .unionByName(docs.where(col("doc_id") >= 200 && col("doc_id") < 210)
        .withColumn("doc_id", col("doc_id") + 6000))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
      dir.listFiles().foreach(_.delete()); dir.delete()
      ()
    }
    drop(b1, "b1")
    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt,
      bloomShards = 4)
    val bloom = s"$store.bloom"

    // Simulate applyIngestBatch(batch 1) KILLED in the real crash
    // window: stage complete (_SUCCESS), fp store took its append
    // (epoch bumps), bloom store did NOT — computed with the same
    // calls the loop makes, stopped between the two appends.
    drop(b2, "b2")
    val batch2 = spark.read.schema(Schemas.documents)
      .parquet(s"$src/b2.parquet")
    val survivors = Ingest.ingestBatchScreened(spark, batch2, store, bloom)
    val stageDir = s"$corpus.staging/1"
    survivors.drop("fp").write.mode("overwrite").parquet(stageDir)
    val fps = spark.read.schema(Schemas.documents).parquet(stageDir)
      .select(TextStats.fingerprint(col("text")).as("fp")).localCheckpoint()
    Ingest.appendToStore(spark, store, fps)
    // -- crash here: no bloom append, no commit rename --
    assert(graft.ops.Dedup.bloomStoreMeta(spark, bloom).get.coversEpoch
      < Ingest.storeEpoch(spark, store))

    // 1. the window is LOUD: any screen against the skewed stores
    //    fails, never silently readmits
    val e = intercept[IllegalStateException] {
      Ingest.ingestBatchScreened(spark, batch2, store, bloom).collect()
    }
    assert(e.getMessage.contains("STALE"))

    // 2. restart: the startup rebuild re-covers the filter store, the
    //    stream re-delivers b2 as batch 1, finds the authoritative
    //    stage, re-appends BOTH stores and commits
    Ingest.runIngest(spark, src, Schemas.documents, corpus, store, ckpt,
      bloomShards = 4)
    val expected = b1.unionByName(b2)
      .withColumn("fp", TextStats.fingerprint(col("text")))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val got = spark.read.schema(Schemas.documents).parquet(corpus)
    assert(got.count() === expected.count(), "lost or duplicated docs")
    assert(got.select("doc_id").exceptAll(expected).count() === 0)
    assert(got.where(col("doc_id") >= 5000).count() === 0,
      "readmitted duplicate after the heal")
    assert(graft.ops.Dedup.bloomStoreMeta(spark, bloom).get.coversEpoch
      === Ingest.storeEpoch(spark, store), "stores end incoherent")
    docs.unpersist()
  }
}
