package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Model-scored data SELECTION — the two classifier-shaped filters a
  * pretraining pipeline runs after the heuristic gates:
  *
  *  - a hashed LINEAR text classifier (the fastText shape used for
  *    quality filtering in the GPT-3 / CCNet data recipes: score =
  *    Σ_token w[h(token)], keep if positive). Here the weight table is
  *    derived deterministically from md5 so the oracle can recompute
  *    it — swapping in a REAL trained model is a broadcast join of a
  *    (term, weight) table in place of the inline hash, same plan.
  *  - DSIR-style IMPORTANCE weighting (Xie et al., NeurIPS 2023):
  *    score each doc by how target-domain-like its term distribution
  *    is, via per-term target/source frequency ratios, then keep the
  *    top-N. DSIR proper multiplies probability ratios in log space;
  *    the shipped scorer uses quantized rational ratios (integer
  *    micro-units) so every engine computes bit-identical scores —
  *    the log swap is one line but transcendental, so not oracle-able.
  *
  * Scale shape (both): ONE corpus-scale pass — [[Terms.termFrequencies]]
  * (explode absorbed map-side, shuffle carries distinct (doc, term))
  * — then arithmetic per row and ONE doc_id partial-agg shuffle.
  * Weights are computed INLINE from the term (no join) for the hashed
  * model; the DSIR ratio table is vocabulary-sized and joins on term,
  * the tf table's natural key (broadcast at test scale, AQE shuffle
  * join at a 10⁷-term production vocabulary). All integer arithmetic
  * until one final IEEE division per output row — hash-exact vs the
  * DuckDB oracle by construction.
  *
  * Determinism note: the md5-derived pseudo-weights reuse the
  * portable-twin discipline (Dedup.scala): Spark
  * `conv(substring(md5(x), 25, 8), 16, 10)` ≡ DuckDB
  * `CAST(('0x' || substr(md5(x), 25, 8)) AS BIGINT)` — the low 32
  * hash bits as an integer both engines agree on. */
object Classify {

  /** Pseudo-weight in milli-units: md5-low-bits(term) → [-1000, 1000].
    * Stands in for a trained model's per-feature weight. */
  private def wMilli(term: org.apache.spark.sql.Column) =
    pmod(conv(substring(md5(concat(lit("graft:w:"), term)), 25, 8),
      16, 10).cast("long"), lit(2001L)) - 1000L

  /** Per-document linear-model scores: integer score in milli-units,
    * the real-valued score (ONE IEEE division), and the keep/drop
    * decision.
    *
    * ONE shuffle: the weight is evaluated per TOKEN (in a projection
    * BELOW the explode's Generate — the hoist rule) and the doc_id
    * partial aggregation absorbs the token stream map-side, so the
    * exchange carries one row per document. The (doc, term)-grain
    * alternative (aggregate tf first, hash per distinct pair) trades
    * ~3× fewer md5 calls for an extra corpus-type-sized exchange —
    * measured a wash on local[32] at ×100 (24.1 vs 23.8 s, shuffle is
    * memory-speed there); on a real cluster the network exchange is
    * the scarce resource, so the one-shuffle form ships. */
  def qualityModelScores(spark: SparkSession, dir: String): DataFrame =
    scoreDocs(Tables.documentsSpread(spark, dir))
      .select(col("doc_id"), col("score_milli"),
        (col("score_milli") / lit(1000.0)).as("score"),
        when(col("score_milli") > 0, lit("keep")).otherwise(lit("drop"))
          .as("label"))

  /** (doc_id, score_milli) for ANY (doc_id, text) frame — the reusable
    * inference core: streaming ingest screens each micro-batch through
    * this ([[graft.streaming.Ingest.qualityScreen]]). */
  def scoreDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"), wMilli(col("term")).as("w"))
      .groupBy("doc_id")
      .agg(sum("w").cast("long").as("score_milli"))

  val qualityModelScoresSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.term, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT doc_id,
      |         CAST(SUM(tf * (CAST(('0x' || substr(md5('graft:w:' || term), 25, 8))
      |                             AS BIGINT) % 2001 - 1000)) AS BIGINT)
      |           AS score_milli
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, score_milli,
      |       CAST(score_milli AS DOUBLE) / 1000.0 AS score,
      |       CASE WHEN score_milli > 0 THEN 'keep' ELSE 'drop' END AS label
      |FROM s""".stripMargin

  /** Admission report per source: docs, keeps, and the exact average
    * score — the per-domain acceptance-rate table a curation review
    * reads. */
  def qualityModelReport(spark: SparkSession, dir: String): DataFrame =
    qualityModelScores(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("label") === "keep").cast("long")).as("n_keep"),
        sum("score_milli").cast("long").as("sum_milli"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        (col("sum_milli") / (lit(1000.0) * col("n_docs"))).as("avg_score"))

  val qualityModelReportSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.term, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT doc_id,
      |         CAST(SUM(tf * (CAST(('0x' || substr(md5('graft:w:' || term), 25, 8))
      |                             AS BIGINT) % 2001 - 1000)) AS BIGINT)
      |           AS score_milli
      |  FROM tf GROUP BY doc_id)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(CASE WHEN s.score_milli > 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_keep,
      |       CAST(SUM(s.score_milli) AS DOUBLE)
      |         / (1000.0 * COUNT(*)) AS avg_score
      |FROM s JOIN documents d ON d.doc_id = s.doc_id
      |GROUP BY d.source""".stripMargin

  /** Per-term DSIR ratio table in micro-units:
    * ((target_tf + 1) · 10⁶) div (source_tf + 1) — add-one smoothed,
    * floor-divided (positive operands, so Spark `div` ≡ DuckDB `//`).
    * Vocabulary-sized. */
  private def dsirRatios(docs: DataFrame, targetSource: String): DataFrame =
    Terms.termFrequencies(docs)
      .join(docs.select(col("doc_id"),
        (col("source") === targetSource).cast("long").as("is_t")), "doc_id")
      .groupBy("term")
      .agg(sum(col("tf") * col("is_t")).as("t_cnt"),
        sum(col("tf") * (lit(1L) - col("is_t"))).as("s_cnt"))
      .select(col("term"),
        expr("((t_cnt + 1) * 1000000L) div (s_cnt + 1)").as("ratio_micro"))

  /** Per-document DSIR importance: Σ tf · ratio_micro(term), plus the
    * real-valued importance (one division). `targetSource` plays the
    * target-domain corpus; everything else is the source pool. */
  def dsirWeights(spark: SparkSession, dir: String,
      targetSource: String = "src0"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // no broadcast hint: the ratio table is vocabulary-sized (10⁷
    // rows in production) — AQE broadcasts while small, shuffle-joins
    // on the tf table's natural key when not.
    Terms.termFrequencies(docs)
      .join(dsirRatios(docs, targetSource), "term")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("ratio_micro")).cast("long")
        .as("importance_micro"))
      .select(col("doc_id"), col("importance_micro"),
        (col("importance_micro") / lit(1e6)).as("importance"))
  }

  private val dsirMicroSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.term, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT tf.term,
      |         ((SUM(CASE WHEN d.source = 'src0' THEN tf.tf ELSE 0 END) + 1)
      |          * 1000000)
      |         // (SUM(CASE WHEN d.source = 'src0' THEN 0 ELSE tf.tf END) + 1)
      |           AS ratio_micro
      |  FROM tf JOIN documents d ON d.doc_id = tf.doc_id
      |  GROUP BY tf.term),
      |imp AS (
      |  SELECT tf.doc_id,
      |         CAST(SUM(tf.tf * r.ratio_micro) AS BIGINT) AS importance_micro
      |  FROM tf JOIN r ON r.term = tf.term
      |  GROUP BY tf.doc_id)""".stripMargin

  val dsirWeightsSql: String = dsirMicroSql +
    """
      |SELECT doc_id, importance_micro,
      |       CAST(importance_micro AS DOUBLE) / 1000000.0 AS importance
      |FROM imp""".stripMargin

  /** Positional adjacent word pairs (doc_id, l, r) — token grain, one
    * row per bigram. The token array materializes ONCE per row in a
    * projection BELOW the explode's Generate (the q_split_leakage /
    * ops/Spans hoist lesson), and this frame is deliberately NOT
    * cached: it is corpus-sized, so the LM build and the scoring pass
    * each re-scan parquet rather than pinning a copy of the corpus. */
  private def bigramPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - 1)).as("i"),
        col("toks"))
      .select(col("doc_id"),
        element_at(col("toks"), col("i")).as("l"),
        element_at(col("toks"), col("i") + 1).as("r"))

  /** Observed-bigram conditional probabilities in micro-units:
    * (c(l,r) · 10⁶) div c(l·) — the corpus bigram LM table. Sized by
    * OBSERVED bigrams (≤ corpus tokens, vastly fewer in practice).
    * ONE corpus scan: the left-context totals c(l·) ROLL UP from the
    * bigram counts (every pair instance is counted exactly once), so
    * they aggregate the vocabulary²-sized c12 table — checkpointed,
    * the bounded-intermediate discipline — instead of re-scanning the
    * corpus. */
  private def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val c12 = bigramPairs(Tables.documents(spark, dir))
      .groupBy("l", "r")
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = c12.groupBy("l").agg(sum("c12").as("c1"))
    // the LM is read twice — the size count below, then the caller's
    // join — so it is materialized once; the bigram-count checkpoint
    // is dead as soon as it is
    val lm = c12.join(c1, "l")
      .select(col("l"), col("r"),
        expr("(c12 * 1000000L) div c1").as("p_micro"))
      .localCheckpoint()
    org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(c12)
    // Size-GATED broadcast, re-applied on the checkpointed frame (the
    // checkpoint is a stats-less leaf — the Pack.autoParts MaxValue
    // pathology — so without the hint the planner assumes it is huge
    // and sort-merge-joins, shuffling the corpus-sized pair stream;
    // measured 2.4× the whole query at sf1). The LM is sized by
    // OBSERVED bigrams — not vocabulary-bounded — so an unconditional
    // broadcast() would OOM the driver at corpus scale; counting the
    // materialized blocks is a cheap bounded action.
    if (lm.count() < 5000000L) broadcast(lm) else lm
  }

  /** Per-document fluency under the corpus bigram LM — the
    * perplexity-filter shape (CCNet / Wenzek et al. 2020) with an
    * ARITHMETIC-mean likelihood in integer micro-units so the score
    * is cross-engine exact: fluency = (Σ p_micro) / (10⁶ · n_pairs),
    * one IEEE division of two exactly-represented integers. The
    * geometric-mean (true perplexity) twin is [[bigramLmPerplexity]].
    * Two corpus scans by design (LM build + scoring) — caching the
    * token-grain pair frame would pin a corpus-sized intermediate. */
  def bigramLmScores(spark: SparkSession, dir: String): DataFrame =
    bigramPairs(Tables.documents(spark, dir))
      .join(bigramLm(spark, dir), Seq("l", "r"))
      .groupBy("doc_id")
      .agg(sum("p_micro").cast("long").as("sum_micro"),
        count(lit(1)).as("n_pairs"))
      .select(col("doc_id"), col("sum_micro"), col("n_pairs"),
        (col("sum_micro") /
          (col("n_pairs").cast("double") * lit(1e6))).as("fluency"))

  private val bigramSql: String =
    """WITH p AS (
      |  SELECT doc_id, toks[CAST(i AS INT)] AS l,
      |         toks[CAST(i AS INT) + 1] AS r
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents) d,
      |       UNNEST(range(1, len(toks))) AS g(i)
      |  WHERE len(toks) >= 2),
      |lm AS (
      |  SELECT l, r, (COUNT(*) * 1000000)
      |           // (SUM(COUNT(*)) OVER (PARTITION BY l)) AS p_micro
      |  FROM p GROUP BY l, r)""".stripMargin

  val bigramLmScoresSql: String = bigramSql +
    """,
      |s AS (
      |  SELECT p.doc_id, CAST(SUM(lm.p_micro) AS BIGINT) AS sum_micro,
      |         CAST(COUNT(*) AS BIGINT) AS n_pairs
      |  FROM p JOIN lm ON lm.l = p.l AND lm.r = p.r
      |  GROUP BY p.doc_id)
      |SELECT doc_id, sum_micro, n_pairs,
      |       CAST(sum_micro AS DOUBLE)
      |         / (CAST(n_pairs AS DOUBLE) * 1000000.0) AS fluency
      |FROM s""".stripMargin

  /** TRUE perplexity under the corpus bigram LM: exp(−avg ln P) —
    * what a production CCNet-style filter thresholds. P is the same
    * quantized p_micro/10⁶ the rational scorer uses, so the two
    * queries grade the same model. Transcendental + float-sum
    * ordering, so no hash oracle; the spec checks a naive in-JVM
    * computation to 1e-12 relative and [[bigramLmPerplexityGate]]
    * differentials the row count. ppl ≥ 1 always (P ≤ 1 ⇒
    * −avg ln P ≥ 0). */
  def bigramLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // floor the quantized probability at one micro-unit: a bigram
    // whose true ratio underflows the quantization (c12/c1 < 1e-6)
    // would otherwise hit log(0) = NULL, which avg() silently SKIPS —
    // dropping exactly the most surprising bigrams a perplexity
    // filter exists to punish. The clamp keeps their surprisal finite
    // and maximal; the spec's naive twin applies the same floor.
    bigramPairs(docs)
      .join(bigramLm(spark, dir)
        .select(col("l"), col("r"),
          (greatest(col("p_micro"), lit(1L)) / lit(1e6)).as("p")),
        Seq("l", "r"))
      .groupBy("doc_id")
      .agg(exp(-avg(log(col("p")))).as("ppl"))
  }

  /** Gate: n_docs is a true differential column (DuckDB recounts the
    * scoreable docs); all_ge_1 pins the analytic lower bound. */
  def bigramLmPerplexityGate(spark: SparkSession, dir: String): DataFrame =
    bigramLmPerplexity(spark, dir)
      .agg(count(lit(1)).as("n_docs"),
        min((col("ppl") >= 1.0).cast("int")).as("all_ge_1"))

  val bigramLmPerplexityGateSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, 1 AS all_ge_1
      |FROM documents
      |WHERE len(string_split(text, ' ')) >= 2""".stripMargin

  /** Top-N most target-like documents — the DSIR selection step.
    * Sort+limit fuses to TakeOrderedAndProject (distributed partial
    * top-N, no global sort). */
  def dsirSelected(spark: SparkSession, dir: String,
      targetSource: String = "src0", n: Int = 100): DataFrame =
    dsirWeights(spark, dir, targetSource)
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        "doc_id")
      .orderBy(col("importance_micro").desc, col("doc_id"))
      .limit(n)
      .select("doc_id", "source", "importance_micro")

  val dsirSelectedSql: String = dsirMicroSql +
    """
      |SELECT i.doc_id, d.source, i.importance_micro
      |FROM imp i JOIN documents d ON d.doc_id = i.doc_id
      |ORDER BY i.importance_micro DESC, i.doc_id LIMIT 100""".stripMargin

  // --------------------------------------------------------------
  // CCNet perplexity buckets (Wenzek et al., LREC 2020 §4.3): rank
  // every document by its LM fluency WITHIN its source and cut the
  // ranking into head / middle / tail terciles — the bucket is the
  // unit CCNet publishes and downstream recipes sample from (train
  // on head+middle, drop tail). The score is the bigram LM's exact
  // integer mean (nano-units of the quantized per-pair probability),
  // so both engines agree on every comparison bit-for-bit.
  //
  // Scale shape — the reason this is NOT one `NTILE(3) OVER
  // (PARTITION BY source ...)`: that window puts an entire source in
  // ONE task (a source is 10-60% of a 100 TB corpus). Instead the
  // per-source rank rides the distributed prefix-sum machinery
  // (Pack.assignStableIds): a string sort key `source:inv_mean:id`
  // keeps each source contiguous in ONE range-partitioned global
  // order, weight-1 prefix sums are global positions, and
  // rank-within-source = position − the source's first position
  // (one source-grain broadcast join). The tercile then comes from
  // the NTILE closed form over (rank, n): tiles 1..r get q+1 rows,
  // the rest get q, where q = n div 3, r = n mod 3. The DuckDB
  // oracle uses the textbook window NTILE(3) — the hash match is a
  // differential proof that the distributed form ≡ the window
  // function, not just a recomputation.
  //
  // Carried columns (source, mean_nano, doc_id) are parsed BACK out
  // of the sort key after the prefix sum (the corpusShuffle
  // discipline) so the rank machinery never shuffles anything wider
  // than the key itself. Precondition: source names contain no ':'
  // (the testdata's `srcN`; a production run would hex-escape).
  // Documents with < 2 tokens have no bigram and no fluency — CCNet
  // cannot grade them either; they are absent, as in the oracle.

  /** Per-document CCNet bucket: (doc_id, source, mean_nano, bucket)
    * with bucket ∈ head | middle | tail by per-source fluency
    * tercile (head = most fluent under the corpus bigram LM). */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = bigramLmScores(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        "doc_id")
      .select(col("source"), col("doc_id"),
        expr("sum_micro * 1000 div n_pairs").as("mean_nano"))
    // fluency DESC ⇒ invert on a fixed width (mean_nano ≤ 10⁹:
    // p_micro ≤ 10⁶ per pair ⇒ mean ≤ 10⁹ nano-units)
    val keyed = scored.select(concat(
      col("source"), lit(":"),
      lpad((lit(9999999999L) - col("mean_nano")).cast("string"), 10, "0"),
      lit(":"),
      // 20 chars fits every Long — Spark's lpad truncates longer
      // inputs, corrupting the parsed-back doc_id and the tie-break
      // order (the Pack.lengthBucketBatches defect class)
      lpad(col("doc_id").cast("string"), 20, "0")).as("skey"))
    val pos = Pack.assignStableIds(keyed, "skey")
      .select(col("row_idx"), split(col("skey"), ":").as("parts"))
      .select(col("parts").getItem(0).as("source"),
        (lit(9999999999L) - col("parts").getItem(1).cast("long"))
          .as("mean_nano"),
        col("parts").getItem(2).cast("long").as("doc_id"),
        col("row_idx"))
    // source-grain frame (bounded by the source vocabulary): first
    // global position + row count per source
    val bounds = pos.groupBy("source")
      .agg(min("row_idx").as("s_off"), count(lit(1)).as("n"))
    pos.join(broadcast(bounds), "source")
      .withColumn("rnk", col("row_idx") - col("s_off") + 1)
      .withColumn("tr", expr(
        """CASE WHEN rnk <= (n % 3) * (n div 3 + 1)
          |     THEN (rnk + n div 3) div (n div 3 + 1)
          |     ELSE n % 3 + (rnk - (n % 3) * (n div 3 + 1)
          |                   + n div 3 - 1) div (n div 3)
          |END""".stripMargin))
      .select(col("doc_id"), col("source"), col("mean_nano"),
        when(col("tr") === 1, "head")
          .when(col("tr") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  val pplBucketsSql: String = bigramSql +
    """,
      |s AS (
      |  SELECT p.doc_id, CAST(SUM(lm.p_micro) AS BIGINT) AS sum_micro,
      |         CAST(COUNT(*) AS BIGINT) AS n_pairs
      |  FROM p JOIN lm ON lm.l = p.l AND lm.r = p.r
      |  GROUP BY p.doc_id),
      |b AS (
      |  SELECT s.doc_id, d.source,
      |         (s.sum_micro * 1000) // s.n_pairs AS mean_nano
      |  FROM s JOIN documents d ON d.doc_id = s.doc_id)
      |SELECT doc_id, source, mean_nano,
      |       CASE NTILE(3) OVER (PARTITION BY source
      |                           ORDER BY mean_nano DESC, doc_id)
      |         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
      |       END AS bucket
      |FROM b""".stripMargin

  /** Governance rollup of [[pplBuckets]]: per (source, bucket) doc
    * counts and the fluency range the bucket spans — min ≥ next
    * bucket's max by construction, the monotonicity a reader checks
    * first. One partial-agg shuffle on a 3·sources-row grain. */
  def pplBucketReport(spark: SparkSession, dir: String): DataFrame =
    pplBuckets(spark, dir)
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("mean_nano").as("min_mean_nano"),
        max("mean_nano").as("max_mean_nano"))

  val pplBucketReportSql: String =
    s"""WITH pb AS ($pplBucketsSql)
       |SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       MIN(mean_nano) AS min_mean_nano,
       |       MAX(mean_nano) AS max_mean_nano
       |FROM pb GROUP BY source, bucket""".stripMargin
}
