package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Benchmark decontamination — remove training documents that overlap
  * an evaluation set, the standard n-gram inverted-index check (flag a
  * training doc if it shares any length-n token window with any eval
  * doc). Extension beyond the reference surface (SURVEY §7 step 7):
  * the governance step that runs right after dedup in a training-data
  * pipeline.
  *
  * Scale design:
  *  - Shingles are hashed to a 16-byte md5 fingerprint BEFORE the
  *    join, so the shuffle carries (doc_id, fp) — never text. (md5,
  *    not xxhash64, keeps the whole pipeline engine-portable and hence
  *    hash-oracled; at 100 TB you'd swap in xxhash64 for an 8-byte key
  *    with this op unchanged.)
  *  - The eval side is distinct fingerprints only. Benchmark suites
  *    are orders of magnitude smaller than the corpus, so AQE
  *    broadcasts that side at runtime; no unconditional broadcast hint
  *    (a giant eval set degrades to a plain shuffle join instead of
  *    failing).
  *  - Match counting is a partial-aggregable count per doc: map-side
  *    combine collapses each task's hits before the shuffle.
  *
  * Reference scope: the reference pipeline has no decontamination
  * stage; semantics follow the published n-gram overlap procedure
  * used by large-model training-data reports.
  */
object Decontaminate {

  /** Distinct hashed token n-grams per document: (doc_id, fp) with fp
    * = md5 of the space-joined window. Docs shorter than n tokens
    * produce none (they cannot contain a full window). */
  def shingleFps(docs: DataFrame, n: Int): DataFrame =
    docs
      // tokenize ONCE per row: split(text) referenced inside the
      // transform lambda re-tokenizes the document per window (the
      // ops/Spans lesson; multi-ref non-cheap alias, so CollapseProject
      // keeps the projection)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("toks")) - n),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))))
          .as("fp"))

  /** Per-document contamination report: for every training doc that
    * shares at least one n-gram with the eval set, the number of
    * distinct shared n-grams. Docs with zero hits are absent (the
    * common case — keep the result proportional to the contamination,
    * not the corpus). */
  def contaminationReport(trainDocs: DataFrame, evalDocs: DataFrame,
      n: Int): DataFrame =
    shingleFps(trainDocs, n)
      .join(shingleFps(evalDocs, n).select("fp").distinct(), "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))

  /** Oracle query: `src19` plays the held-out benchmark; every other
    * source is training data. n=4 token windows. */
  def contaminated(spark: SparkSession, dir: String,
      evalSource: String = "src19", n: Int = 4): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    contaminationReport(
      docs.where(col("source") =!= evalSource),
      docs.where(col("source") === evalSource), n)
  }

  val contaminatedSql: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id, source,
      |              md5(array_to_string(toks[i:i+3], ' ')) AS fp
      |       FROM t, UNNEST(range(1, len(toks)-2)) AS u(i)
      |       WHERE len(toks) >= 4),
      |ev AS (SELECT DISTINCT fp FROM sh WHERE source = 'src19')
      |SELECT s.doc_id, COUNT(*) AS n_hits
      |FROM sh s JOIN ev USING (fp)
      |WHERE s.source <> 'src19'
      |GROUP BY s.doc_id""".stripMargin

  /** The decontaminated corpus: training docs minus everything the
    * report flagged. One anti-join on doc_id — the flagged set is
    * tiny, AQE broadcasts it. */
  def decontaminatedCorpus(spark: SparkSession, dir: String,
      evalSource: String = "src19", n: Int = 4): DataFrame =
    Tables.documents(spark, dir)
      .where(col("source") =!= evalSource)
      .join(contaminated(spark, dir, evalSource, n).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")

  val decontaminatedCorpusSql: String =
    s"""WITH hits AS ($contaminatedSql)
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE source <> 'src19'
       |  AND doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin

  /** The full governance pipeline in one artifact: near-dup dedup
    * survivors ([[Components.cleanCorpus]]) minus the eval source and
    * minus every contaminated doc — the corpus a training mix would
    * actually consume. Two anti-join-style filters over the cleaned
    * corpus; both right sides are tiny (flagged ids), so AQE
    * broadcasts them. */
  def governedCorpus(spark: SparkSession, dir: String,
      evalSource: String = "src19", n: Int = 4): DataFrame =
    Components.cleanCorpus(spark, dir)
      .where(col("source") =!= evalSource)
      .join(contaminated(spark, dir, evalSource, n).select("doc_id"),
        Seq("doc_id"), "left_anti")

  val governedCorpusSql: String =
    s"""WITH hits AS ($contaminatedSql)
       |SELECT doc_id, lang, source, n_chars
       |FROM (${Components.cleanCorpusSql}) clean
       |WHERE source <> 'src19'
       |  AND doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin

  // ----- Fuzzy (MinHash-LSH) decontamination -----
  //
  // Exact n-gram overlap misses a paraphrased or lightly-edited eval
  // document; published training-data reports pair the exact check
  // with a document-level FUZZY check (near-duplicate similarity to
  // any eval doc above a threshold). Semantics: flag a training doc
  // whose estimated Jaccard to ANY eval doc is ≥ tau, candidates from
  // the same MinHash-LSH banding as the dedup family — but the band
  // join is CROSS-CORPUS (train bands × eval bands), so its cost is
  // train_bands × eval-bucket occupancy, never train². The eval side
  // is held-out-sized; AQE broadcasts its band table at runtime.
  // [[fuzzyContaminationFor]] takes any two corpora; the registered
  // queries run it across the content-hash train/test split.

  /** Fuzzy contamination report between two (doc_id, text) corpora:
    * one row per flagged TRAIN doc — (doc_id, n_eval_matches,
    * max_est_jaccard) over eval docs with estimated Jaccard ≥ tau.
    * Production hash (xxhash64, 64 hashes / 16 bands); the md5
    * [[fuzzyContaminationPortable]] twin is the DuckDB-oracled proof
    * of the same machinery. */
  def fuzzyContaminationFor(trainDocs: DataFrame, evalDocs: DataFrame,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.5): DataFrame = {
    // loud, not silently degraded (the minhashLshPairsFor guard):
    // bands ∤ numHashes would leave trailing signature components
    // never banded — candidate recall quietly below the parameters
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — " +
        s"${numHashes % bands} trailing components would never band")
    // both signature tables are consumed twice (banding + verify);
    // the dedup-family cache discipline
    val tSigs = Dedup.minhashSignatures(trainDocs, n, numHashes).cache()
    val eSigs = Dedup.minhashSignatures(evalDocs, n, numHashes).cache()
    val cand = Dedup.bandRows(tSigs, numHashes, bands)
      .select(col("doc_id").as("train_id"), col("band"), col("band_hash"))
      .join(Dedup.bandRows(eSigs, numHashes, bands)
          .select(col("doc_id").as("eval_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("train_id", "eval_id").distinct()
    cand
      .join(tSigs.select(col("doc_id").as("train_id"),
        col("minhash").as("mh_t")), "train_id")
      .join(eSigs.select(col("doc_id").as("eval_id"),
        col("minhash").as("mh_e")), "eval_id")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("mh_t"), col("mh_e"),
          (x, y) => x === y), b => b)).cast("double") / numHashes)
      .where(col("est_jaccard") >= tau)
      .groupBy(col("train_id").as("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        max("est_jaccard").as("max_est_jaccard"))
  }

  /** The two sides of the content-hash 90/10 split ([[Mix.trainTestSplit]]
    * semantics). The registered fuzzy queries screen TRAIN against
    * TEST — the LSH fuzzy twin of [[Mix.crossSplitLeakage]] — rather
    * than against `src19`: planted near-dup cliques are uniform over
    * content hashes, so the split sides reliably share near-dups at
    * every SF and data vintage, where per-source contamination is
    * vintage luck (measured: zero src19 near-dups at the sf0.01
    * vintage that had 24 cross-source pairs elsewhere). */
  private def splitSides(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documentsSpread(spark, dir)
      .withColumn("__bucket", Mix.contentBucket(col("text")))
    (docs.where(col("__bucket") < 90).drop("__bucket"),
      docs.where(col("__bucket") >= 90).drop("__bucket"))
  }

  /** Registered production form: fuzzy leakage screen of the train
    * split against the test split. Rows-only (seeded xxhash64); the
    * portable twin is the hash-exact gate. */
  def fuzzyContamination(spark: SparkSession, dir: String): DataFrame = {
    val (train, test) = splitSides(spark, dir)
    fuzzyContaminationFor(train, test)
  }

  /** Oracle twin: the full cross-corpus LSH pipeline on the portable
    * md5 16-hash / 4-band signatures ([[Dedup.portableMinhashSigs]]) —
    * every intermediate is integer or exactly-representable (k/16)
    * arithmetic, so the report hash-matches DuckDB computing the same
    * banding from scratch. */
  def fuzzyContaminationPortable(spark: SparkSession, dir: String,
      n: Int = 3, tau: Double = 0.5): DataFrame = {
    val (train, test) = splitSides(spark, dir)
    val tSigs = Dedup.portableMinhashSigs(train, n).cache()
    val eSigs = Dedup.portableMinhashSigs(test, n).cache()
    val cand = Dedup.portableBandRows(tSigs)
      .select(col("doc_id").as("train_id"), col("band"), col("band_hash"))
      .join(Dedup.portableBandRows(eSigs)
          .select(col("doc_id").as("eval_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("train_id", "eval_id").distinct()
    val matches = (0 until 16).map(s =>
      when(col(s"t.mh_$s") === col(s"e.mh_$s"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(tSigs.as("t"), col("train_id") === col("t.doc_id"))
      .join(eSigs.as("e"), col("eval_id") === col("e.doc_id"))
      .select(col("train_id"), col("eval_id"),
        (matches.cast("double") / 16).as("est_jaccard"))
      .where(col("est_jaccard") >= tau)
      .groupBy(col("train_id").as("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        max("est_jaccard").as("max_est_jaccard"))
  }

  val fuzzyContaminationPortableSql: String = {
    val minExprs = (0 until 16).map(s =>
      s"min(CAST(('0x' || substr(md5('$s:' || s), 25, 8)) AS BIGINT)) AS mh_$s")
      .mkString(",\n       ")
    val bandSelects = (0 until 4).map { b =>
      val slice = (0 until 4).map(r => s"CAST(mh_${b * 4 + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, split, $b AS band, md5($slice) AS band_hash FROM mh"
    }.mkString("\nUNION ALL\n")
    val matchSum = (0 until 16)
      .map(s => s"CASE WHEN t.mh_$s = e.mh_$s THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id,
       |                  CASE WHEN ${Mix.bucketSqlExpr} < 90
       |                       THEN 'train' ELSE 'test' END AS split,
       |                  string_split(text, ' ') AS toks
       |           FROM documents),
       |sh AS (SELECT DISTINCT doc_id, split,
       |              array_to_string(toks[i:i+2], ' ') AS s
       |       FROM d, UNNEST(range(1, len(toks)-1)) AS u(i)
       |       WHERE len(toks) >= 3),
       |mh AS (SELECT doc_id, any_value(split) AS split,
       |       $minExprs
       |       FROM sh GROUP BY doc_id),
       |banded AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_hash = b.band_hash
       |   AND a.split = 'train' AND b.split = 'test'),
       |scored AS (
       |  SELECT train_id, CAST($matchSum AS DOUBLE) / 16 AS est_jaccard
       |  FROM cand
       |  JOIN mh t ON cand.train_id = t.doc_id
       |  JOIN mh e ON cand.eval_id = e.doc_id
       |  WHERE CAST($matchSum AS DOUBLE) / 16 >= 0.5)
       |SELECT train_id AS doc_id, COUNT(*) AS n_eval_matches,
       |       MAX(est_jaccard) AS max_est_jaccard
       |FROM scored GROUP BY 1""".stripMargin
  }

  /** The leakage-free train corpus: the train split minus every
    * fuzzy-flagged doc (portable form, so the whole artifact stays
    * hash-oracled) — what a pipeline ships to training after the
    * split screen. One anti-join over the tiny flagged set; AQE
    * broadcasts it. */
  def fuzzyDecontaminatedCorpus(spark: SparkSession, dir: String): DataFrame =
    splitSides(spark, dir)._1
      .join(fuzzyContaminationPortable(spark, dir)
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")

  val fuzzyDecontaminatedCorpusSql: String =
    s"""WITH fuzzy AS ($fuzzyContaminationPortableSql)
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE ${Mix.bucketSqlExpr} < 90
       |  AND doc_id NOT IN (SELECT doc_id FROM fuzzy)""".stripMargin
}
