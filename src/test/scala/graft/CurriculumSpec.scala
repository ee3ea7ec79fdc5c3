package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Classify, Curriculum}

class CurriculumSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private lazy val sched =
    Curriculum.curriculumSchedule(spark, sf).cache()

  test("schedule is a dense 1..n permutation with contiguous phases") {
    val n = sched.count()
    assert(n > 0)
    // dense: steps are exactly 1..n
    assert(sched.agg(min("step"), max("step"), countDistinct("step"))
      .as[(Long, Long, Long)].head() === ((1L, n, n)))
    // each doc appears once
    assert(sched.select("doc_id").distinct().count() === n)
    // contiguous phases in ascending order: every phase's step range
    // [min,max] has max-min+1 = count, and ranges are disjoint ascending
    val audit = Curriculum.curriculumAudit(spark, sf)
      .orderBy("phase")
      .as[(Int, Long, Long, Long)].collect()
    audit.foreach { case (_, nd, lo, hi) => assert(hi - lo + 1 === nd) }
    audit.sliding(2).foreach {
      case Array((p1, _, _, hi1), (p2, _, lo2, _)) =>
        assert(p1 < p2 && hi1 < lo2)
      case _ =>
    }
  }

  test("phases agree with pplBuckets terciles (easy first)") {
    val joined = sched.join(
      Classify.pplBuckets(spark, sf).select("doc_id", "bucket"), "doc_id")
    val mismatch = joined.where(
      (col("bucket") === "head" && col("phase") =!= 1) ||
      (col("bucket") === "middle" && col("phase") =!= 2) ||
      (col("bucket") === "tail" && col("phase") =!= 3)).count()
    assert(mismatch === 0L)
  }

  test("schedule equals the window-function reference form") {
    // differential: the distributed prefix-sum order must equal the
    // textbook ROW_NUMBER() OVER (ORDER BY phase, md5, doc_id)
    val ref = Classify.pplBuckets(spark, sf).select(
        col("doc_id"),
        when(col("bucket") === "head", 1)
          .when(col("bucket") === "middle", 2).otherwise(3).as("phase"),
        md5(concat(lit("graft:curr:0:"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("step", row_number().over(
        Window.orderBy(col("phase"), col("h"), col("doc_id")))
        .cast("long"))
      .select("doc_id", "phase", "step")
    assert(sched.except(ref).count() === 0L &&
      ref.except(sched).count() === 0L)
  }

  test("in-phase order is decorrelated from doc_id") {
    // Spearman-ish check: within a phase, step rank vs doc_id rank
    // should show no monotone trend (|rho| well under 0.5 for the
    // ~hundreds of docs per phase at sf0.001)
    val perPhase = sched.where(col("phase") === 1)
      .select(col("doc_id").cast("double"), col("step").cast("double"))
      .as[(Double, Double)].collect()
    assert(perPhase.length > 10)
    val n = perPhase.length.toDouble
    val rankById = perPhase.sortBy(_._1).zipWithIndex
      .map { case ((_, s), i) => (s, i.toDouble) }
    val rankByStep = rankById.sortBy(_._1).zipWithIndex
      .map { case ((_, ri), j) => (ri, j.toDouble) }
    val d2 = rankByStep.map { case (ri, rj) =>
      (ri - rj) * (ri - rj) }.sum
    val rho = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    assert(math.abs(rho) < 0.5, s"in-phase order correlates with doc_id: $rho")
  }

  test("13+-digit doc_ids round-trip through the composite sort keys " +
    "(ppl buckets and curriculum schedule)") {
    val tmp = tempDir("graft-bigid-curr")
    import spark.implicits._
    // ids ≥ 10^12 sharing a 12-char prefix: a too-narrow pad truncates
    // both to the same key — corrupted output ids, colliding order
    val ids = Seq(1234567890123L, 1234567890124L, 7L, 11L)
    ids.map(i => (i, "one two three four five two one three two four",
        "en", s"src${i % 2}", 46L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val viaPpl = graft.ops.Classify.pplBuckets(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaPpl === ids.toSet,
      s"pplBuckets corrupted doc_ids through the sort key: $viaPpl")
    val viaCurr = graft.ops.Curriculum.curriculumSchedule(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaCurr === ids.toSet,
      s"curriculumSchedule corrupted doc_ids: $viaCurr")
  }
}
