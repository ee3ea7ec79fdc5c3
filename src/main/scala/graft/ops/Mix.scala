package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Data-mixing operators: deterministic sampling, content-hash
  * train/test splits, and cross-split contamination checks — the
  * governance layer of a training-data pipeline.
  *
  * Everything keys off a CONTENT hash (md5 of normalized text), not
  * row ids or `rand()`:
  *  - reproducible across runs, engines, and cluster sizes (no seed
  *    state, no partition-order dependence — `rand()` changes with
  *    partitioning);
  *  - exact duplicates land on the same side of every split by
  *    construction, closing the most common leakage hole;
  *  - per-row codegen'd expressions: sampling and splitting run at
  *    scan speed with zero shuffle.
  * The hash bucket is the md5's low 8 hex digits as an integer
  * (portable: Spark `conv(_,16,10)` ≡ DuckDB `CAST('0x'||_ AS
  * BIGINT)`), modulo 100.
  */
object Mix {

  /** 0-99 deterministic content bucket. */
  def contentBucket(text: Column): Column =
    conv(substring(TextStats.fingerprint(text), 25, 8), 16, 10)
      .cast("long") % 100

  val bucketSqlExpr: String =
    "CAST(concat('0x', substr(md5(trim(regexp_replace(lower(text), " +
      "'[^a-z0-9]+', ' ', 'g'))), 25, 8)) AS BIGINT) % 100"

  /** Stratified deterministic sample: per-language keep rates (pct of
    * the 0-99 content bucket). Unlisted strata are dropped. */
  def stratifiedSample(spark: SparkSession, dir: String,
      ratesPct: Map[String, Int] = Map("en" -> 50, "de" -> 25, "fr" -> 10))
      : DataFrame = {
    val rate = ratesPct.foldLeft(lit(0)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .where(contentBucket(col("text")) < rate)
      .select("doc_id", "lang", "source", "n_chars")
  }

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE $bucketSqlExpr <
       |  CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 25
       |       WHEN lang = 'fr' THEN 10 ELSE 0 END""".stripMargin

  /** Weighted corpus mixing with deterministic upsampling — the
    * source-reweighting step of a training run (give wiki 2.5 epochs,
    * downsample web crawl to 0.4, drop a poisoned source outright).
    * Weights are integer PERCENT (250 = 2.5 epochs) so the semantics
    * stay exact: a doc with weight w repeats `w div 100` times, plus
    * one more iff its 0-99 content bucket < `w mod 100` — so the
    * fractional part holds in expectation over content, is
    * reproducible across runs/engines/partitionings (no `rand()`),
    * and keeps exact duplicates at identical multiplicity. Output is
    * one row per (doc_id, epoch): the epoch index is what a
    * downstream shard shuffle keys on so repeats of a doc land in
    * different shards.
    *
    * Scale shape: per-row codegen fan-out (`explode(sequence)`), zero
    * shuffle — the same survives-any-scale shape as chunking. Sources
    * absent from the map get `defaultPct`. */
  def corpusMix(spark: SparkSession, dir: String,
      weightsPct: Map[String, Int] =
        Map("src0" -> 250, "src1" -> 40, "src2" -> 0),
      defaultPct: Int = 100): DataFrame =
    corpusMixFor(Tables.documents(spark, dir), weightsPct, defaultPct)

  /** [[corpusMix]] over any (doc_id, text, source) frame — the form
    * composed pipelines use (mix AFTER dedup/decontamination, so
    * upsampling never multiplies rows a later stage would drop).
    * `carry` names input columns to keep on the exploded rows: a
    * composed pipeline that already scanned the text (the survivors
    * frame) carries it through the zero-shuffle explode instead of
    * re-joining the documents table afterwards to get it back. */
  def corpusMixFor(input: DataFrame,
      weightsPct: Map[String, Int] =
        Map("src0" -> 250, "src1" -> 40, "src2" -> 0),
      defaultPct: Int = 100, carry: Seq[String] = Nil): DataFrame = {
    val wp = weightsPct.foldLeft(lit(defaultPct)) {
      case (acc, (src, pct)) =>
        when(col("source") === src, lit(pct)).otherwise(acc)
    }
    input
      .withColumn("repeats",
        (wp / 100).cast("long") +
          when(contentBucket(col("text")) < wp % 100, 1L).otherwise(0L))
      .where(col("repeats") > 0)
      .select(Seq(col("doc_id"), col("source")) ++ carry.map(col) :+
        explode(sequence(lit(0L), col("repeats") - 1)).as("epoch"): _*)
  }

  val corpusMixSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, source,
       |         CASE WHEN source = 'src0' THEN 250
       |              WHEN source = 'src1' THEN 40
       |              WHEN source = 'src2' THEN 0
       |              ELSE 100 END AS wp,
       |         $bucketSqlExpr AS b
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source,
       |         wp // 100 + CASE WHEN b < wp % 100 THEN 1 ELSE 0 END
       |           AS repeats
       |  FROM w)
       |SELECT doc_id, source, CAST(unnest(range(repeats)) AS BIGINT) AS epoch
       |FROM r WHERE repeats > 0""".stripMargin

  /** Per-source audit of [[corpusMix]]: docs in, rows out, effective
    * epoch multiplier — the number a data-mixing run reports next to
    * its target weights. */
  def corpusMixSummary(spark: SparkSession, dir: String): DataFrame =
    corpusMix(spark, dir)
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_rows"))
      .join(Tables.documents(spark, dir)
        .groupBy("source").agg(count(lit(1)).as("n_source_docs")),
        Seq("source"), "right")
      .na.fill(0L, Seq("n_docs", "n_rows"))
      .select(col("source"), col("n_source_docs"), col("n_docs"),
        col("n_rows"),
        round(col("n_rows").cast("double") / col("n_source_docs"), 4)
          .as("effective_epochs"))

  val corpusMixSummarySql: String =
    s"""WITH m AS ($corpusMixSql),
       |agg AS (
       |  SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
       |         CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM m GROUP BY source),
       |src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source_docs
       |  FROM documents GROUP BY source)
       |SELECT src.source, src.n_source_docs,
       |       COALESCE(agg.n_docs, 0) AS n_docs,
       |       COALESCE(agg.n_rows, 0) AS n_rows,
       |       ROUND(CAST(COALESCE(agg.n_rows, 0) AS DOUBLE)
       |             / src.n_source_docs, 4) AS effective_epochs
       |FROM src LEFT JOIN agg ON src.source = agg.source""".stripMargin

  /** Token-budget corpus mixing — the form a training run actually
    * specifies: a TARGET TOKEN COUNT per source ("4000 tokens of src0,
    * 600 of src1, none of src2, 1500 of everything else"), not an
    * epoch multiplier. The per-source weight is derived FROM THE DATA
    * in one aggregate pass — wp = budget·100 div source_token_total,
    * all BIGINT arithmetic so both engines agree bit-exactly — capped
    * at `maxEpochsPct` (a tiny source cannot explode into unbounded
    * repeats), then documents expand through the same deterministic
    * content-bucket repeat rule as [[corpusMix]]. Output carries
    * `n_tokens` so the result feeds straight into token-budget shard
    * packing.
    *
    * Scale shape: one map-side-combined aggregate over (source) — 20
    * rows — broadcast back onto the scan, then the zero-shuffle
    * explode. Two passes over the corpus, no wide shuffle anywhere. */
  def tokenBudgetMix(spark: SparkSession, dir: String,
      budgets: Map[String, Long] =
        Map("src0" -> 4000L, "src1" -> 600L, "src2" -> 0L),
      defaultBudget: Long = 1500L, maxEpochsPct: Long = 1000L)
      : DataFrame = {
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (src, b)) =>
        when(col("source") === src, lit(b)).otherwise(acc)
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(TextStats.wsTokens(col("text"))).cast("long").as("n_tokens"))
    val weights = docs.groupBy("source")
      .agg(sum("n_tokens").as("src_tokens"))
      .withColumn("budget", budget.cast("long"))
      .select(col("source"),
        // coalesce BEFORE least: Spark's least() skips NULLs, so a
        // NULL ratio (src_tokens 0/NULL — impossible today since the
        // whitespace split yields >=1 token/doc, but a latent trap)
        // would silently become maxEpochsPct (max repeats) instead of
        // dropping the source, diverging from the DuckDB twin
        least(coalesce(expr("budget * 100 DIV src_tokens"), lit(0L)),
          lit(maxEpochsPct)).as("wp"))
    docs.join(broadcast(weights), "source")
      .withColumn("repeats",
        expr("wp DIV 100") +
          when(contentBucket(col("text")) < col("wp") % 100, 1L)
            .otherwise(0L))
      .where(col("repeats") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        explode(sequence(lit(0L), col("repeats") - 1)).as("epoch"))
  }

  private val tokenBudgetCase =
    """CASE WHEN source = 'src0' THEN 4000
      |     WHEN source = 'src1' THEN 600
      |     WHEN source = 'src2' THEN 0
      |     ELSE 1500 END""".stripMargin

  val tokenBudgetMixSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, text,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |w AS (
       |  SELECT source,
       |         LEAST(($tokenBudgetCase) * 100
       |                 // CAST(SUM(n_tokens) AS BIGINT), 1000) AS wp
       |  FROM d GROUP BY source),
       |r AS (
       |  SELECT d.doc_id, d.source, d.n_tokens,
       |         CAST(w.wp // 100 + CASE WHEN $bucketSqlExpr < w.wp % 100
       |                                 THEN 1 ELSE 0 END AS BIGINT)
       |           AS repeats
       |  FROM d JOIN w ON d.source = w.source)
       |SELECT doc_id, source, n_tokens,
       |       CAST(unnest(range(repeats)) AS BIGINT) AS epoch
       |FROM r WHERE repeats > 0""".stripMargin

  /** Per-source audit of [[tokenBudgetMix]]: target vs achieved token
    * counts. Achieved lands within one document's tokens of the target
    * in expectation (the fractional remainder is content-bucketed);
    * all-integer so the row set is hash-exact. */
  def tokenBudgetMixAudit(spark: SparkSession, dir: String): DataFrame = {
    val budget = Map("src0" -> 4000L, "src1" -> 600L, "src2" -> 0L)
      .foldLeft(lit(1500L)) { case (acc, (src, b)) =>
        when(col("source") === src, lit(b)).otherwise(acc)
      }
    tokenBudgetMix(spark, dir)
      .groupBy("source")
      .agg(sum("n_tokens").as("achieved_tokens"),
        count(lit(1)).as("n_rows"))
      .join(Tables.documents(spark, dir).groupBy("source")
        .agg(budget.as("budget_tokens")).select("source", "budget_tokens"),
        Seq("source"), "right")
      .na.fill(0L, Seq("achieved_tokens", "n_rows"))
      .select("source", "budget_tokens", "achieved_tokens", "n_rows")
  }

  val tokenBudgetMixAuditSql: String =
    s"""WITH m AS ($tokenBudgetMixSql),
       |agg AS (
       |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS achieved_tokens,
       |         CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM m GROUP BY source),
       |src AS (
       |  SELECT DISTINCT source,
       |         CAST($tokenBudgetCase AS BIGINT) AS budget_tokens
       |  FROM documents)
       |SELECT src.source, src.budget_tokens,
       |       COALESCE(agg.achieved_tokens, 0) AS achieved_tokens,
       |       COALESCE(agg.n_rows, 0) AS n_rows
       |FROM src LEFT JOIN agg ON src.source = agg.source""".stripMargin

  /** Temperature-scaled source mixing (the multilingual-pretraining
    * recipe of XLM-R / mBERT, Conneau et al. 2020 §5: sample source s
    * with p_s ∝ n_s^α, α = 1/2) — the principled middle ground
    * between proportional sampling (big sources drown small ones)
    * and uniform (tiny sources overfit). Per-DOCUMENT effective
    * epochs are e_s = √(n_max / n_s), normalized so the LARGEST
    * source runs exactly 1.0 epochs and every smaller source is
    * upsampled by the square-root of its deficit, capped at
    * `maxEpochsPct` so a trace source cannot explode.
    *
    * The weight is derived FROM THE DATA and kept integer-exact so
    * both engines agree bit-for-bit: wp = isqrt(10⁴·n_max div n_s)
    * in percent units, where isqrt is an EXACT integer square root —
    * floor(√x) from the hardware double sqrt, then a ±1 integer
    * correction that repairs any rounding at the boundary (x ≤
    * 10⁴·n_max < 2⁵² keeps the double exact; the correction makes
    * the result provably exact regardless). n_s is the source's
    * TOKEN total, the unit temperature sampling is defined over.
    *
    * Scale shape: one map-side-combined aggregate to source grain
    * (~20 rows), a 1-row max broadcast, weights broadcast back onto
    * the scan, then the same zero-shuffle deterministic
    * `explode(sequence)` fan-out as [[corpusMix]]. */
  /** EXACT integer square root (⌊√x⌋ for 0 ≤ x < 2⁶²): the hardware
    * double sqrt is within 1 ulp, so its floor is within ±1 of the
    * true root; the two integer comparisons repair the boundary.
    * Exactness is engine-independent — the same expression in DuckDB
    * lands on the same integer even if its double sqrt rounds
    * differently. Property-tested around perfect squares in
    * CurationSpec. */
  def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    s0 + when((s0 + 1) * (s0 + 1) <= x, 1L).otherwise(0L) -
      when(s0 * s0 > x, 1L).otherwise(0L)
  }

  def temperatureMix(spark: SparkSession, dir: String,
      maxEpochsPct: Long = 1000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(TextStats.wsTokens(col("text"))).cast("long").as("n_tokens"))
    val srcTok = docs.groupBy("source")
      .agg(sum("n_tokens").as("src_tokens"))
    val weights = srcTok
      .crossJoin(broadcast(srcTok.agg(max("src_tokens").as("max_tokens"))))
      .withColumn("x", expr("10000 * max_tokens DIV src_tokens"))
      .select(col("source"),
        least(isqrt(col("x")), lit(maxEpochsPct)).as("wp"))
    docs.join(broadcast(weights), "source")
      .withColumn("repeats",
        expr("wp DIV 100") +
          when(contentBucket(col("text")) < col("wp") % 100, 1L)
            .otherwise(0L))
      // wp ≥ 100 by construction (n_s ≤ n_max ⇒ x ≥ 10⁴ ⇒ isqrt ≥
      // 100): temperature only UPsamples, so no source ever drops out
      .where(col("repeats") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        explode(sequence(lit(0L), col("repeats") - 1)).as("epoch"))
  }

  private val temperatureWeightsSql: String =
    s"""d AS (
       |  SELECT doc_id, source, text,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |st AS (
       |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
       |  FROM d GROUP BY source),
       |w1 AS (
       |  SELECT source, src_tokens,
       |         (10000 * (SELECT MAX(src_tokens) FROM st)) // src_tokens
       |           AS x
       |  FROM st),
       |w2 AS (
       |  SELECT source, src_tokens, x,
       |         CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT) AS s0
       |  FROM w1),
       |w AS (
       |  SELECT source, src_tokens,
       |         LEAST(s0 + CASE WHEN (s0+1)*(s0+1) <= x THEN 1 ELSE 0 END
       |                  - CASE WHEN s0*s0 > x THEN 1 ELSE 0 END,
       |               1000) AS wp
       |  FROM w2),
       |r AS (
       |  SELECT d.doc_id, d.source, d.n_tokens,
       |         CAST(w.wp // 100 + CASE WHEN $bucketSqlExpr < w.wp % 100
       |                                 THEN 1 ELSE 0 END AS BIGINT)
       |           AS repeats
       |  FROM d JOIN w ON d.source = w.source)""".stripMargin

  val temperatureMixSql: String =
    s"""WITH $temperatureWeightsSql
       |SELECT doc_id, source, n_tokens,
       |       CAST(unnest(range(repeats)) AS BIGINT) AS epoch
       |FROM r WHERE repeats > 0""".stripMargin

  /** Per-source audit of [[temperatureMix]]: raw vs achieved token
    * share. achieved/src ≈ √(n_max/n_s) — the flattening a reader
    * verifies against the α = 1/2 contract. */
  def temperatureMixAudit(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        sum("n_tokens").as("achieved_tokens"))
      .join(Tables.documents(spark, dir)
          .groupBy("source")
          .agg(sum(size(TextStats.wsTokens(col("text"))).cast("long"))
            .as("src_tokens")),
        Seq("source"))
      .select("source", "src_tokens", "achieved_tokens", "n_rows")

  val temperatureMixAuditSql: String =
    s"""WITH $temperatureWeightsSql,
       |m AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(unnest(range(repeats)) AS BIGINT) AS epoch
       |  FROM r WHERE repeats > 0)
       |SELECT m.source, st.src_tokens,
       |       CAST(SUM(m.n_tokens) AS BIGINT) AS achieved_tokens,
       |       CAST(COUNT(*) AS BIGINT) AS n_rows
       |FROM m JOIN st ON m.source = st.source
       |GROUP BY m.source, st.src_tokens""".stripMargin

  /** Content-hash train/test split: bucket < trainPct → train. */
  def trainTestSplit(spark: SparkSession, dir: String,
      trainPct: Int = 90): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(contentBucket(col("text")) < trainPct, lit("train"))
          .otherwise(lit("test")).as("split"))

  val trainTestSplitSql: String =
    s"""SELECT doc_id,
       |       CASE WHEN $bucketSqlExpr < 90 THEN 'train' ELSE 'test' END
       |         AS split
       |FROM documents""".stripMargin

  /** Cross-split contamination: near-duplicate pairs (exact n-gram
    * Jaccard, the oracle-able pair source) that straddle the
    * train/test boundary — each one is test-set leakage. At scale the
    * pair source swaps to [[Dedup.minhashLshPairs]] unchanged.
    *
    * The split lives in the pair SOURCE, not in a post-filter over
    * all near-dup pairs: the old shape computed every near-dup pair
    * via the full shingle self-join, then attached splits through two
    * id joins and discarded the ~82% same-split majority. Here the
    * label is a pure function of the text, so it rides each shingle
    * row map-side, and the join runs TRAIN × TEST over the two
    * disjoint sides — per shingle-frequency-c bucket that emits
    * c·p(1−p)·c matches (~0.09c² at a 90/10 split) instead of the
    * self-join's c²/2, a 5.5× cut of exactly the term that grows
    * quadratically with near-dup clique size (the round-10 decade
    * bench's workload shift), and the build side is the small test
    * split. Output rows are identical — same-split pairs never
    * contributed, and jaccard/sizes are split-independent. */
  def crossSplitLeakage(spark: SparkSession, dir: String, n: Int = 3,
      tau: Double = 0.5, trainPct: Int = 90): DataFrame = {
    // the split label is evaluated in a projection BELOW the
    // explode's Generate — inlining it next to the generator hoists
    // it into the post-Generate projection and re-runs the full-text
    // md5 once per SHINGLE row instead of once per doc (measured 2×
    // the whole query at the decade SF). The token array likewise
    // materializes ONCE per row (the ops/Spans lesson: split inside
    // the transform lambda re-tokenizes the doc per window).
    val sh = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        when(contentBucket(col("text")) < trainPct, lit("train"))
          .otherwise(lit("test")).as("split"),
        array_distinct(transform(
          sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))).as("shs"))
      .select(col("doc_id"), col("split"),
        explode(col("shs")).as("shingle"))
      .cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val common = sh.where(col("split") === "train").as("t")
      .join(sh.where(col("split") === "test").as("e"),
        col("t.shingle") === col("e.shingle"))
      .select(
        least(col("t.doc_id"), col("e.doc_id")).as("doc_a"),
        greatest(col("t.doc_id"), col("e.doc_id")).as("doc_b"),
        when(col("t.doc_id") < col("e.doc_id"), lit("train"))
          .otherwise(lit("test")).as("split_a"),
        when(col("t.doc_id") < col("e.doc_id"), lit("test"))
          .otherwise(lit("train")).as("split_b"))
      .groupBy("doc_a", "doc_b", "split_a", "split_b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .where(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")) >= tau)
      .select("doc_a", "doc_b", "split_a", "split_b")
  }

  // COMPOSED from the shared pair-CTE body (ends in `jp`), per the
  // r12 derive-by-composition rule — the last `.replace`-derived
  // oracle is gone; SqlSurfaceSpec still pins differ-from-base +
  // output marker.
  val crossSplitLeakageSql: String =
    s"""WITH s AS ($trainTestSplitSql),
       |${Dedup.ngramPairsCteBody}
       |SELECT jp.doc_a, jp.doc_b, sa.split AS split_a, sb.split AS split_b
       |FROM jp JOIN s sa ON jp.doc_a = sa.doc_id
       |        JOIN s sb ON jp.doc_b = sb.doc_id
       |WHERE sa.split <> sb.split""".stripMargin

  // ----- Cluster-grain split (leakage-free by construction) -----

  /** 0-99 bucket of a COMPONENT id — the [[contentBucket]] trick over
    * the id's decimal string (`CAST(component AS VARCHAR)` on both
    * engines), so the split decision is reproducible and engine-
    * portable without touching text. */
  private def componentBucket(component: Column): Column =
    conv(substring(md5(component.cast("string")), 25, 8), 16, 10)
      .cast("long") % 100

  /** Cluster-grain train/test split: the WHOLE near-dup component
    * lands on one side, so cross-split near-dup leakage is zero BY
    * CONSTRUCTION — any pair with Jaccard ≥ tau is an edge of the
    * component graph, hence same component, hence same split.
    * [[trainTestSplit]]'s per-doc content bucket closes only the
    * exact-dup hole (identical text → identical bucket); near-dups
    * hash independently and straddle the boundary — that measured
    * residue is exactly what [[crossSplitLeakage]] reports. Splitting
    * at the component grain closes it.
    *
    * Scale shape: the component labels are a checkpointed two-long
    * frame ([[Components.nearDupComponents]] — ~16 GB at 10⁹ docs);
    * the split itself is one codegen projection over that frame (md5
    * of a decimal string, no shuffle, no text). Fractions drift from
    * trainPct by cluster-size skew — the audit reports the achieved
    * sizes; the leakage column is the invariant. */
  def clusterSplit(spark: SparkSession, dir: String,
      trainPct: Int = 90): DataFrame =
    Components.nearDupComponents(spark, dir)
      .select(col("doc_id"),
        when(componentBucket(col("component")) < trainPct, lit("train"))
          .otherwise(lit("test")).as("split"))

  private val componentBucketSqlExpr: String =
    "CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 25, 8)) " +
      "AS BIGINT) % 100"

  val clusterSplitSql: String =
    s"""WITH RECURSIVE ${Components.nearDupComponentsCte}
       |SELECT doc_id,
       |       CASE WHEN $componentBucketSqlExpr < 90
       |            THEN 'train' ELSE 'test' END AS split
       |FROM comp""".stripMargin

  /** Audit of [[clusterSplit]]: per-split doc and component counts
    * plus the cross-split near-dup pair count — provably ZERO (the
    * oracle recomputes it from scratch, so the hash match is the
    * leakage-free proof, where [[crossSplitLeakage]] documents the
    * per-doc split's nonzero residue on the same corpus and the same
    * pair set). The pair source here is the exact n-gram Jaccard
    * table (oracle-able); at scale the same audit runs over
    * [[Dedup.minhashLshPairsFor]] unchanged — candidate pairs join
    * two slim (doc_id, split) label lookups, never text. */
  def clusterSplitAudit(spark: SparkSession, dir: String,
      trainPct: Int = 90): DataFrame = {
    val s = Components.nearDupComponents(spark, dir)
      .select(col("doc_id"), col("component"),
        when(componentBucket(col("component")) < trainPct, lit("train"))
          .otherwise(lit("test")).as("split"))
    val leaks = Dedup.ngramJaccardPairs(spark, dir)
      .select("doc_a", "doc_b")
      .join(s.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(s.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
      .where(col("split_a") =!= col("split_b"))
      .agg(count(lit(1)).as("leak_pairs"))
    s.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("component").as("n_components"))
      .crossJoin(leaks)
  }

  val clusterSplitAuditSql: String =
    s"""WITH RECURSIVE ${Components.nearDupComponentsCte},
       |s AS (SELECT doc_id, component,
       |             CASE WHEN $componentBucketSqlExpr < 90
       |                  THEN 'train' ELSE 'test' END AS split
       |      FROM comp),
       |leak AS (SELECT COUNT(*) AS leak_pairs
       |         FROM p JOIN s sa ON p.doc_a = sa.doc_id
       |                JOIN s sb ON p.doc_b = sb.doc_id
       |         WHERE sa.split <> sb.split)
       |SELECT s.split, COUNT(*) AS n_docs,
       |       COUNT(DISTINCT s.component) AS n_components,
       |       leak.leak_pairs
       |FROM s CROSS JOIN leak
       |GROUP BY s.split, leak.leak_pairs""".stripMargin
}
