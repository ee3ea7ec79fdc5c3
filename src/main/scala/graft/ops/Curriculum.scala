package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curriculum scheduling — the "in what order does the model see the
  * data" step of a pre-training pipeline (curriculum learning, Bengio
  * et al. ICML 2009; easy→hard perplexity-ordered recipes built on
  * CCNet buckets, Wenzek et al. LREC 2020).
  *
  * The schedule is a TOTAL order over the corpus: three contiguous
  * phases by fluency (head = most fluent under the corpus bigram LM,
  * then middle, then tail), with a deterministic pseudo-random
  * shuffle WITHIN each phase (ordering inside a phase must stay
  * decorrelated from every document attribute — the whole point of
  * the phase split is that difficulty is the ONLY global trend in
  * the stream a trainer consumes).
  *
  * Scale shape: one sort key `phase:md5(seed,doc_id):doc_id` rides
  * the same range-partitioned distributed prefix-sum machinery as
  * [[Pack.assignStableIds]] / [[Pack.corpusShuffle]] — phases are
  * contiguous in the one global order, so the prefix-sum position IS
  * the global training step, with no second pass, no per-phase
  * window (a phase is a third of the corpus — NTILE/ROW_NUMBER over
  * it would funnel into one task), and nothing wider than the key in
  * the shuffle. md5, not xxhash64, keeps the within-phase
  * permutation engine-portable, hence hash-oracled (the
  * [[Pack.corpusShuffle]] discipline).
  *
  * Documents with < 2 tokens carry no bigram fluency signal
  * ([[Classify.pplBuckets]] precondition, same as CCNet) and are
  * absent from the schedule — a loader trains on graded text only.
  */
object Curriculum {

  /** (doc_id, phase, step): phase 1 = head … 3 = tail, step = 1-based
    * global position; steps of phase p all precede those of p+1 and
    * are contiguous by construction. */
  def curriculumSchedule(spark: SparkSession, dir: String,
      seed: Int = 0): DataFrame = {
    val phased = Classify.pplBuckets(spark, dir).select(
      col("doc_id"),
      when(col("bucket") === "head", 1)
        .when(col("bucket") === "middle", 2)
        .otherwise(3).as("phase"))
    // phase is one digit and doc_id is fixed-width — the string order
    // of the composite key equals (phase, hash, doc_id) numeric order
    val keyed = phased.select(concat(
      col("phase").cast("string"), lit(":"),
      md5(concat(lit(s"graft:curr:$seed:"), col("doc_id").cast("string"))),
      lit(":"),
      // 20 chars fits every Long — Spark's lpad truncates longer
      // inputs (the Pack.lengthBucketBatches defect class), which
      // would corrupt the parsed-back doc_id and collide sort keys
      lpad(col("doc_id").cast("string"), 20, "0")).as("ck"))
    Pack.assignStableIds(keyed, "ck")
      .select(split(col("ck"), ":").as("parts"), col("row_idx"))
      .select(col("parts").getItem(2).cast("long").as("doc_id"),
        col("parts").getItem(0).cast("int").as("phase"),
        col("row_idx").as("step"))
  }

  val curriculumScheduleSql: String =
    s"""WITH pb AS (${Classify.pplBucketsSql}),
       |ph AS (
       |  SELECT doc_id,
       |         CASE bucket WHEN 'head' THEN 1 WHEN 'middle' THEN 2
       |                     ELSE 3 END AS phase,
       |         md5('graft:curr:0:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM pb)
       |SELECT doc_id, phase,
       |       ROW_NUMBER() OVER (ORDER BY phase, h, doc_id) AS step
       |FROM ph""".stripMargin

  /** Phase-grain audit a training owner reads before launching: per
    * phase, size and the [min_step, max_step] range — contiguity
    * (max − min + 1 = n_docs) and phase ordering (phase p's max <
    * phase p+1's min) are visible in the three rows themselves, and
    * the hash compare pins both. */
  def curriculumAudit(spark: SparkSession, dir: String): DataFrame =
    curriculumSchedule(spark, dir)
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        min("step").as("min_step"),
        max("step").as("max_step"))

  val curriculumAuditSql: String =
    s"""WITH cs AS ($curriculumScheduleSql)
       |SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       MIN(step) AS min_step, MAX(step) AS max_step
       |FROM cs GROUP BY phase""".stripMargin
}
