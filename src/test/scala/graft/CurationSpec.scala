package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Classify, Mix, Snapshot}

/** Round-11 curation layer: CCNet perplexity buckets (distributed
  * NTILE), corpus snapshot diff, temperature-scaled mixing. */
class CurationSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // ----- CCNet perplexity buckets -----

  test("pplBuckets: distributed closed-form tercile ≡ Spark's own " +
    "ntile(3) window on the same ordering") {
    val got = Classify.pplBuckets(spark, sf)
      .select("doc_id", "source", "mean_nano", "bucket")
    // the textbook form the scale path refuses to run: one window
    // task per source — fine at spec scale, the differential truth
    val w = Window.partitionBy("source")
      .orderBy(col("mean_nano").desc, col("doc_id"))
    val naive = got.select("doc_id", "source", "mean_nano")
      .withColumn("bucket",
        when(ntile(3).over(w) === 1, "head")
          .when(ntile(3).over(w) === 2, "middle")
          .otherwise("tail"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(3))).toMap ===
      naive.collect().map(r => (r.getLong(0), r.getString(3))).toMap)
  }

  test("q_near_dup_components and q_curriculum see a documents table " +
    "rewritten between two runs in one session") {
    val dir = tempDir("graft-rewritten-docs")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(sf), new java.io.File(dir))
    def runOn(d: String, q: String): Array[org.apache.spark.sql.Row] =
      graft.SparkEntry.queries(q)(spark, d).collect()
    def run(q: String): Array[org.apache.spark.sql.Row] = runOn(dir, q)
    val allIds = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(run("q_near_dup_components").map(_.getLong(0)).toSet === allIds)
    assert(run("q_curriculum").nonEmpty)
    // an index build (BM25) and a centroid build (IVF k-means) over
    // the old tables: neither may serve a later run
    val indexed = Seq("q_bm25_indexed", "q_cluster_mix")
    indexed.foreach(q => assert(run(q).nonEmpty))
    // different documents and embeddings under the same path: the
    // even ids only
    spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val fresh = tempDir("graft-rewritten-fresh")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir), new java.io.File(fresh))
    for (q <- indexed)
      assert(run(q).map(_.toString).sorted.toSeq ===
        runOn(fresh, q).map(_.toString).sorted.toSeq, q)
    val newIds = allIds.filter(_ % 2 == 0)
    assert(run("q_near_dup_components").map(_.getLong(0)).toSet === newIds)
    // curriculum: only graded new documents, steps 1..n with no gap
    val sched = run("q_curriculum")
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("step")))
    assert(sched.nonEmpty && sched.forall(d => newIds(d._1)))
    assert(sched.map(_._2).sorted.toSeq === (1L to sched.length.toLong))
  }

  test("pplBuckets: per-source tercile sizes differ by at most one and " +
    "bucket fluency ranges are ordered head ≥ middle ≥ tail") {
    val rows = Classify.pplBucketReport(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val sources = rows.keys.map(_._1).toSet
    assert(sources.nonEmpty)
    for (s <- sources) {
      val sizes = Seq("head", "middle", "tail").flatMap(b =>
        rows.get((s, b)).map(_._1))
      assert(sizes.max - sizes.min <= 1, s"uneven terciles for $s: $sizes")
      for (Seq(hi, lo) <- Seq("head", "middle", "tail").sliding(2)) {
        (rows.get((s, hi)), rows.get((s, lo))) match {
          case (Some((_, hiMin, _)), Some((_, _, loMax))) =>
            assert(hiMin >= loMax,
              s"$s: $hi min $hiMin < $lo max $loMax — buckets overlap")
          case _ => // a bucket can be absent only when n < 3
        }
      }
    }
  }

  // ----- snapshot diff -----

  test("snapshotDiff: statuses and rename detection on a crafted pair, " +
    "duplicate old content does not fan out") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "a"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "a"), (2L, "bX"), (5L, "c"), (6L, "zzz"))
      .toDF("doc_id", "text")
    val got = Snapshot.snapshotDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got === Map(
      1L -> ("unchanged", 0), 2L -> ("changed", 0),
      3L -> ("removed", 0), 4L -> ("removed", 0),
      5L -> ("added", 1), // content "c" existed in v1 → a move
      6L -> ("added", 0)))
    // exactly one row per id even though v1 holds "a" twice
    assert(Snapshot.snapshotDiff(v1, v2).count() === 6L)
  }

  test("snapshotDiffReport totals reconcile with the doc-level diff") {
    val diff = Snapshot.snapshotDiffDocs(spark, sf).cache()
    val rep = Snapshot.snapshotDiffReport(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep.values.map(_._1).sum === diff.count())
    // only 'added' rows may carry content_in_old
    for ((st, (_, moved)) <- rep if st != "added") assert(moved === 0L)
    assert(rep("added")._2 ===
      diff.where(col("status") === "added" && col("content_in_old") === 1)
        .count())
    diff.unpersist()
  }

  // ----- temperature mixing -----

  test("isqrt is exact at and around perfect squares, including the " +
    "2⁵²-scale regime where the double sqrt alone would misround") {
    val ks = (0L to 2000L) ++ Seq(1L << 20, (1L << 26) - 1, 1L << 26,
      2097151L, 3037000498L) // isqrt(2⁶²-ish) boundary
    val xs = ks.flatMap(k => Seq(k * k - 1, k * k, k * k + 1))
      .filter(_ >= 0).distinct
    val got = xs.toDF("x").select(col("x"), Mix.isqrt(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (x <- xs) {
      val truth = java.math.BigInteger.valueOf(x).sqrt().longValue()
      assert(got(x) === truth, s"isqrt($x): ${got(x)} != $truth")
    }
  }

  test("temperatureMix matches an independent in-JVM recompute: " +
    "wp = isqrt(10⁴·max/n_s), repeats from the content bucket") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        Mix.contentBucket(col("text")).as("bucket"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val srcTok = docs.groupBy(_._2).map { case (s, rs) =>
      s -> rs.map(_._3).sum
    }
    val maxTok = srcTok.values.max
    val wp = srcTok.map { case (s, t) =>
      s -> math.min(java.math.BigInteger.valueOf(10000L * maxTok / t).sqrt().longValue(), 1000L)
    }
    val expected = docs.flatMap { case (id, s, _, b) =>
      val reps = wp(s) / 100 + (if (b < wp(s) % 100) 1L else 0L)
      (0L until reps).map(e => (id, e))
    }.toSet
    val got = Mix.temperatureMix(spark, sf)
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    // the largest source runs exactly 1.0 epochs: wp(max) = 100
    val biggest = srcTok.maxBy(_._2)._1
    assert(wp(biggest) === 100L)
  }
}
