package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Dirs, Tables}

/** Corpus term statistics and per-document distinctive terms (TF-IDF
  * family) — the vocabulary/feature layer of a text pipeline.
  *
  * Scale design: term frequencies are one explode + one groupBy on
  * (doc_id, term) — partial aggregation absorbs the token explosion
  * map-side, so the shuffle carries one row per distinct (doc, term).
  * Document frequencies reuse the tf output (groupBy term). The
  * distinctive-term ranking windows by doc_id — a high-cardinality
  * partition key, so WindowExec parallelizes; no global sort anywhere.
  *
  * Determinism note: scoring uses the rational idf tf/df — ONE IEEE
  * division of two integers, which is bit-exact on every engine — so
  * ranks hash-match the SQL oracle. A log-idf (`tf·ln(N/df)`) swap-in
  * is a one-line change but transcendental functions are not bit-exact
  * across engines, so the portable score is the shipped default. */
object Terms {

  /** (doc_id, term, tf) for whitespace tokens. */
  def termFrequencies(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** Corpus vocabulary head: the 100 most document-frequent terms. */
  def termStats(spark: SparkSession, dir: String): DataFrame =
    termFrequencies(Tables.documents(spark, dir))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
      .orderBy(col("df").desc, col("term"))
      .limit(100)

  val termStatsSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.term, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  GROUP BY 1, 2)
      |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
      |FROM tf GROUP BY term
      |ORDER BY df DESC, term LIMIT 100""".stripMargin

  /** Top-5 distinctive terms per document: rank by tf/df descending
    * (frequent in the doc, rare in the corpus), term ascending
    * tie-break. */
  def topTermsPerDoc(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val tf = termFrequencies(Tables.documents(spark, dir))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    tf.join(df_, "term")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "rank")
  }

  val topTermsPerDocSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.term, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  GROUP BY 1, 2),
      |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
      |SELECT doc_id, term, tf, df, rank FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, d.df,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY tf.doc_id
      |           ORDER BY CAST(tf.tf AS DOUBLE) / d.df DESC, tf.term) AS rank
      |  FROM tf JOIN d ON tf.term = d.term)
      |WHERE rank <= 5""".stripMargin

  /** BM25 top-k retrieval — ranked keyword search over the corpus, the
    * data-SELECTION primitive of a training pipeline (pull the
    * documents most relevant to a probe set; rank candidates for
    * human review; build retrieval-scored quality signals).
    *
    * The score is Okapi BM25 (Robertson et al., TREC-3) at the
    * textbook k1 = 1.2, b = 0.75, with the same portability move as
    * [[topTermsPerDoc]]'s rational idf: both the idf and the length
    * normalization are cleared to ONE ratio of exact integers per
    * (query, term, doc) —
    *   idf       = (N − df + ½)/(df + ½)       (log-free Robertson form)
    *   tf-norm   = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * multiplied out over avgdl = S/N (S = total tokens) and scaled by
    * 2·10·N to clear every fraction:
    *   score = [(2N − 2df + 1) · 22 · S · tf]
    *         / [(2df + 1) · (10·S·tf + 3·S + 9·N·dl)]
    * Numerator and denominator are exact DECIMAL(38,0) products (no
    * rounding at any width the gate reaches), so the ONE double
    * division is bit-identical on every IEEE engine — no
    * transcendentals, hash-exact vs DuckDB. Queries are derived from
    * the corpus itself (document-frequency ranks 11-20, paired into
    * five 2-term queries) so the gate needs no side fixture; TWO
    * terms per query means the per-doc score sum is a single
    * commutative IEEE addition — aggregation order cannot move the
    * hash.
    *
    * Scale shape: tf/df/dl are the [[termFrequencies]] explode +
    * partial-agg pattern (the shuffle carries distinct (doc, term)
    * rows, never tokens); the 10-row query set and the 1-row (N, S)
    * statistics broadcast onto the tf stream; ranking windows by
    * query_id over candidate docs only. Nothing funnels a
    * corpus-sized stream through one task. */
  /** The integer-cleared score of the doc above, over columns
    * (n, s, df, tf, dl) — exact DECIMAL(38,0) products, one IEEE
    * double division. */
  private[graft] val bm25ScoreExpr =
    """CAST((2 * CAST(n AS DECIMAL(38,0)) - 2 * df + 1) * 22
            * CAST(s AS DECIMAL(38,0)) * tf AS DOUBLE)
       / CAST((2 * CAST(df AS DECIMAL(38,0)) + 1)
            * (10 * CAST(s AS DECIMAL(38,0)) * tf
               + 3 * CAST(s AS DECIMAL(38,0))
               + 9 * CAST(n AS DECIMAL(38,0)) * dl) AS DOUBLE)"""

  /** Log-idf Okapi score over the same columns: Lucene's
    * `ln(1 + (N − df + ½)/(df + ½))` idf × the k1=1.2, b=0.75 tf-norm
    * (avgdl = s/n, so dl/avgdl = dl·n/s). The +1 keeps the idf
    * positive for df > N/2 — the raw Robertson log goes NEGATIVE for
    * majority terms and actively reverses their rankings, which is
    * why every production BM25 ships the guarded form. One ln per
    * (query, term, doc) — not cross-engine bit-exact, hence the
    * non-oracled variant. */
  private[graft] val bm25LogIdfScoreExpr =
    """ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
       * (tf * 2.2)
       / (tf + 1.2 * (0.25 + 0.75 * dl * CAST(n AS DOUBLE) / s))"""

  /** The gate's corpus-derived query set: document-frequency ranks
    * 11-20 of `dfreq`, paired into five 2-term queries. Top-20 terms
    * arrive via TakeOrderedAndProject (distributed); the row_number
    * window then ranks only those 20 rows. */
  private[graft] def dfRankQueries(dfreq: DataFrame): DataFrame = {
    val w20 = Window.orderBy(col("df").desc, col("term"))
    dfreq.orderBy(col("df").desc, col("term")).limit(20)
      .withColumn("r", row_number().over(w20))
      .where(col("r") > 10)
      .select(expr("CAST((r - 11) DIV 2 AS INT)").as("query_id"),
        col("term"))
  }

  /** Per-(query, doc) score sum + per-query dense top-k ranking over a
    * (query_id, doc_id, sc) stream. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored.groupBy("query_id", "doc_id").agg(sum("sc").as("score"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  /** The shared flat-retrieval pipeline: corpus-derived query set
    * joined onto the tf stream with df/dl/stats attached, scored by
    * `scoreExpr` over (n, s, df, tf, dl), ranked per query. Both idf
    * variants are this plan with a different one-line score;
    * `Retrieval.lexRanks` is this plan with seed-doc queries,
    * `excludeSelf` and a shared tf pass (`tfIn`). */
  private[graft] def bm25TopKWith(spark: SparkSession, dir: String, k: Int,
      scoreExpr: String, queriesIn: Option[DataFrame] = None,
      tfIn: Option[DataFrame] = None,
      excludeSelf: Boolean = false): DataFrame = {
    // callers passing tfIn have already checkpointed their shared
    // pass. Deliberately NOT spread (re-measured r18: spreading the
    // tokenize scan ships the text rows through an exchange and runs
    // the slim BM25 chain 32-wide — q_bm25_topk 1.83 spread vs 1.15
    // unspread, logidf 1.38 vs 0.76; the r17 "Terms unspread" call
    // stands)
    val tf = tfIn.getOrElse(termFrequencies(Tables.documents(spark, dir))
      .localCheckpoint()) // reused 3× (dl, df, scoring scan): one pass
    val dl = tf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("long").as("n"),
      sum("dl").cast("long").as("s"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val queries = queriesIn.getOrElse(dfRankQueries(dfreq))
    // df attaches per DISTINCT term: two queries sharing a term (or a
    // query repeating one) must not multiply that term's tf rows —
    // duplicate (term, df) rows here would double-count sc per pair
    val scored0 = broadcast(queries)
      .join(tf, "term")
      .join(broadcast(dfreq.join(
        broadcast(queries.select("term").distinct()), "term")
        .select("term", "df")), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
    val scored = (if (excludeSelf)
        scored0.where(col("doc_id") =!= col("query_id"))
      else scored0)
      .select(col("query_id"), col("doc_id"), expr(scoreExpr).as("sc"))
    rankTopK(scored, k)
  }

  def bm25TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    bm25TopKWith(spark, dir, k, bm25ScoreExpr)

  /** Textbook log-idf Okapi BM25 — the same pipeline as [[bm25TopK]]
    * with the Lucene-guarded Robertson idf
    * `ln(1 + (N − df + ½)/(df + ½))` instead of the shipped log-free
    * rational form. PER TERM the two are rank-equivalent (x ↦ ln(1+x)
    * is a positive monotone map of the rational idf), so single-term
    * queries return IDENTICAL rankings unconditionally; over a
    * multi-term SUM they can diverge when the terms' df magnitudes
    * differ sharply, because ln compresses the idf spread. Users who
    * expect textbook Okapi ranks should use this form; it is not
    * hash-oracled (transcendentals are not bit-exact across engines —
    * the reason the rational form is the default), but OpsSpec
    * asserts exact rank agreement with [[bm25TopK]] on single-term
    * queries and bounds the divergence on the multi-term gate set. */
  def bm25TopKLogIdf(spark: SparkSession, dir: String, k: Int = 10)
      : DataFrame =
    bm25TopKWith(spark, dir, k, bm25LogIdfScoreExpr)

  /** Persist a term-partitioned BM25 index — the search-engine analog
    * of the IVF-PQ layout (`graft.ops.Quantize`): posting lists live
    * in the DIRECTORY of their term's hash bucket, so a probe reads
    * only the query terms' buckets (partition pruning skips the rest
    * of the vocabulary entirely) instead of re-scanning the corpus
    * per query batch. At 10⁹ documents the postings table is the
    * corpus-sized artifact; a 10-term query touches ≤ 10 of
    * `nBuckets` directories — megabytes, not the corpus.
    *
    * Layout under `indexPath`: `postings/bucket=N/batch=M/` (term,
    * doc_id, tf), `doclen/batch=M/` (doc_id, dl) and per-batch
    * `stats/batch=M/` DELTA rows (n, s, n_buckets) — everything a
    * fresh session needs to score; corpus totals are the SUM of the
    * stats deltas (exact integers, order-free), read through
    * [[readBm25Stats]]. Per-term df needs NO sidecar: every posting
    * of a term lives in its bucket, so the pruned scan still counts
    * the exact global df.
    *
    * The `batch` sub-partition is what makes maintenance EXACTLY-ONCE
    * rather than at-least-once: every append targets its own batch
    * partition with dynamic partition overwrite, so re-running a
    * batch (a crashed stream re-delivering, an operator retrying)
    * REPLACES that batch's contribution instead of double-counting it
    * — no read-modify-write anywhere (the old 1-row additive stats
    * update was exactly such a window). The stats table stays one
    * tiny row per batch; pruning is unaffected (bucket remains the
    * leading partition key); file-count growth is what
    * [[compactBm25Index]] is for. The cell-aligning repartition keeps
    * each append at ≤ one file per bucket (the appendToStore
    * discipline). */
  def buildBm25Index(spark: SparkSession, dir: String, indexPath: String,
      nBuckets: Int = 64): Unit =
    buildBm25IndexFor(Tables.documents(spark, dir), indexPath, nBuckets)

  /** [[buildBm25Index]] over any (doc_id, text) frame — the form the
    * incremental path uses (build on the history,
    * [[appendToBm25Index]] the arrivals). The build writes batch 0;
    * overwrite is static (a rebuild replaces every batch). */
  def buildBm25IndexFor(docs: DataFrame, indexPath: String,
      nBuckets: Int = 64): Unit = {
    // a rebuild replaces EVERY batch, tombstones included: a deletes/
    // dir surviving from the previous generation would silently drop
    // live documents from the rebuilt index (probes anti-join it)
    // while the rebuilt stats still count them. Cleared up front — the
    // three static overwrites below make a mid-build crash a torn
    // index regardless of ordering, so first is the simple choice.
    Dirs.delete(docs.sparkSession, s"$indexPath/deletes")
    // empty-safe writes: a first stream batch can legally carry zero
    // adds (a delete-only CDC batch), and a zero-row PARTITIONED build
    // would create schema-less postings/doclen dirs that crash every
    // later read — wedging the stream on each redelivery
    val tf = termFrequencies(docs).localCheckpoint()
    writePartitionedSafe(
      tf.withColumn("bucket",
          pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
        .withColumn("batch", lit(0L)),
      s"$indexPath/postings", Seq("bucket", "batch"),
      align = Some("bucket"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
    writePartitionedSafe(dl.withColumn("batch", lit(0L)),
      s"$indexPath/doclen", Seq("batch"), align = None)
    dl.agg(count(lit(1)).cast("long").as("n"),
        // sum over zero rows is NULL, not 0 — a null total would
        // poison every later delta sum in readBm25Stats
        coalesce(sum("dl").cast("long"), lit(0L)).as("s"),
        lit(nBuckets).as("n_buckets"))
      .withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$indexPath/stats")
  }

  /** Overwrite-write `df` under `out` partitioned by `parts` —
    * EMPTY-SAFE: a partitioned write of ZERO rows creates a
    * schema-less directory (no data file carries the schema) that
    * fails parquet schema inference on every later read, so an empty
    * frame flat-writes one schema-bearing empty file instead, with
    * the partition columns riding as ordinary columns. Later
    * partitioned appends coexist with the flat schema file (partition
    * discovery merges them; probed on this Spark: values and
    * partition filters stay correct). `align` repartitions by that
    * column first so each partition dir gets ≤ one file. */
  private def writePartitionedSafe(df: DataFrame, out: String,
      parts: Seq[String], align: Option[String]): Unit =
    if (df.isEmpty) df.write.mode("overwrite").parquet(out)
    else align.map(c => df.repartition(col(c))).getOrElse(df)
      .write.mode("overwrite").partitionBy(parts: _*).parquet(out)

  /** Corpus totals + layout constants of a persisted index: ONE row
    * (n, s, n_buckets, max_batch) summed over the per-batch stats
    * deltas — exact integer addition, so totals are identical however
    * many batches contributed. Delete batches contribute NEGATIVE
    * deltas ([[deleteFromBm25Index]]), so the totals are always the
    * LIVE corpus — no reader ever reconciles tombstones against
    * stats. */
  def readBm25Stats(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(s"$indexPath/stats")
      .agg(sum("n").cast("long").as("n"), sum("s").cast("long").as("s"),
        max("n_buckets").as("n_buckets"),
        max("batch").cast("long").as("max_batch"))

  /** The tombstone table of a persisted index — (doc_id, batch) rows
    * under `deletes/batch=M/` — or None when nothing was ever deleted
    * (probes skip the anti-join entirely, so a delete-free index pays
    * zero for the feature). */
  private def bm25Deletes(spark: SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = s"$indexPath/deletes"
    Option.when(Dirs.holdsData(spark, p))(spark.read.parquet(p))
  }

  /** Live postings of a persisted index: the postings scan minus
    * tombstoned documents. Callers that derive corpus-wide term stats
    * from the index (df-rank query sets, vocabulary heads) read
    * through this so deleted documents stop contributing. */
  def liveBm25Postings(spark: SparkSession, indexPath: String): DataFrame = {
    val posts = spark.read.parquet(s"$indexPath/postings")
    bm25Deletes(spark, indexPath) match {
      case Some(t) =>
        posts.join(t.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      case None => posts
    }
  }

  /** Delete documents from a persisted BM25 index WITHOUT rewriting
    * history — the takedown/decontamination path that completes the
    * index lifecycle (build → append → compact → DELETE). Nothing in
    * the corpus-sized postings table is touched: the batch writes a
    * tombstone partition `deletes/batch=M/` (doc_id) plus a NEGATIVE
    * 1-row stats delta (−n docs, −Σdl tokens), and every probe
    * anti-joins its pruned candidates against the tombstone set —
    * cost proportional to PROBED rows, never the corpus. Per-term df
    * stays exact for free: df is derived from the pruned scan AFTER
    * the anti-join, so a deleted document stops counting the moment
    * its tombstone lands. [[compactBm25Index]] later folds tombstones
    * into the physical layout and clears them.
    *
    * Exactly-once, same discipline as [[appendToBm25Index]]: the
    * delete's effect is confined to its OWN batch partitions (dynamic
    * overwrite), so re-applying a batch id replaces rather than
    * compounds. The stats delta counts only ids that are PRESENT in
    * the index and not already tombstoned by an EARLIER batch —
    * double-deletes and unknown ids are no-ops, and a crash between
    * the tombstone write and the stats write heals on retry (the
    * recompute excludes the torn batch's own tombstones, so it
    * re-derives the identical delta). Batch ids share the appends'
    * sequence: both paths write a stats row, so default allocation
    * (max_batch + 1) never collides. */
  def deleteFromBm25Index(spark: SparkSession, indexPath: String,
      docIds: DataFrame, batchId: Long = -1L): Unit = {
    val head = readBm25Stats(spark, indexPath).head()
    val nBuckets = head.getAs[Int]("n_buckets")
    val id = if (batchId >= 0L) batchId else head.getAs[Long]("max_batch") + 1L
    val dl = spark.read.parquet(s"$indexPath/doclen").select("doc_id", "dl")
    val requested = docIds.select("doc_id").distinct()
    val present = requested.join(dl, Seq("doc_id"))
    val newly = bm25Deletes(spark, indexPath) match {
      case Some(t) => present.join(
        t.where(col("batch") =!= id).select("doc_id"),
        Seq("doc_id"), "left_anti")
      case None => present
    }
    val nl = newly.localCheckpoint()
    // an all-no-op batch (every id unknown or already tombstoned)
    // writes NOTHING: a zero-row partitioned write would create a
    // schema-less deletes/ dir that breaks schema inference on every
    // later probe, and a 0-delta stats row buys nothing. Skipping
    // both writes consumes no batch id and changes no results.
    if (!nl.isEmpty) {
      nl.select("doc_id").withColumn("batch", lit(id))
        .coalesce(1)
        .write.mode("overwrite").partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$indexPath/deletes")
      nl.agg((-count(lit(1))).cast("long").as("n"),
          coalesce(-sum("dl"), lit(0L)).cast("long").as("s"),
          lit(nBuckets).as("n_buckets"))
        .withColumn("batch", lit(id))
        .write.mode("overwrite").partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$indexPath/stats")
    }
  }

  /** Append new documents to a persisted BM25 index WITHOUT touching
    * history: the batch's postings land in their terms' bucket
    * directories under the batch's OWN partition (cell-aligned, ≤ one
    * file per bucket per batch), its doc lengths and its 1-row stats
    * DELTA land in the same batch partition. Because per-term df is
    * DERIVED from the pruned postings scan and totals are the sum of
    * deltas, an appended index answers probes with exactly the scores
    * a from-scratch rebuild would produce — bit-for-bit, not
    * approximately (spec-asserted).
    *
    * `batchId` < 0 (the default) allocates max_batch + 1 — a plain
    * batch append. A NON-NEGATIVE `batchId` is the exactly-once
    * handle for streaming callers (`streaming.StreamIndex`): all
    * three writes use dynamic partition overwrite on `batch`, so
    * re-applying an id REPLACES that batch's earlier (possibly torn)
    * contribution instead of double-counting it — re-delivery and
    * crash-retry are idempotent by layout, with no marker needed for
    * correctness. Caller contract unchanged: batch doc_ids are new
    * relative to OTHER batches. Unlike IVF-PQ there is no trained
    * structure to go stale: term→bucket is a pure hash, so there is
    * NO periodic rebuild concern at all. */
  def appendToBm25Index(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, batchId: Long = -1L): Unit = {
    val head = readBm25Stats(spark, indexPath).head()
    val nBuckets = head.getAs[Int]("n_buckets")
    val id = if (batchId >= 0L) batchId else head.getAs[Long]("max_batch") + 1L
    val tf = termFrequencies(newDocs).localCheckpoint()
    tf.withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .withColumn("batch", lit(id))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "batch")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$indexPath/postings")
    val dl = tf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
      .localCheckpoint()
    dl.withColumn("batch", lit(id))
      .write.mode("overwrite").partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$indexPath/doclen")
    dl.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum("dl").cast("long"), lit(0L)).as("s"),
        lit(nBuckets).as("n_buckets"))
      .withColumn("batch", lit(id))
      .write.mode("overwrite").partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$indexPath/stats")
  }

  /** Compact the postings of a persisted BM25 index back to ≤ one
    * file per bucket. Streamed appends ([[appendToBm25Index]],
    * `streaming.StreamIndex`) add one file per bucket per batch;
    * pruning is unaffected but probe cost grows with file COUNT
    * (task, open and footer overhead), so a long-running index
    * compacts on a cadence. Each rewritten sub-table is replaced by
    * [[graft.core.Dirs.swap]], and the rewrite is content-invariant
    * (postings are just re-filed, so probes are bit-identical before
    * and after — spec-asserted). Sidecars are untouched. */
  def compactBm25Index(spark: SparkSession, indexPath: String): Unit = {
    // fold every batch into the CURRENT max batch id: keeping the max
    // (never a fresh id) means a later append still allocates above
    // it, and a stream's re-delivery of an already-folded batch is
    // prevented by the caller's applied-marker skip, which is written
    // before any compaction runs (streaming.StreamIndex ordering)
    val maxBatch = readBm25Stats(spark, indexPath)
      .head().getAs[Long]("max_batch")
    // tombstones fold INTO the rewrite: deleted docs' postings and
    // doclen rows are dropped physically, then the tombstone table is
    // cleared. Crash ordering is safe at every boundary — if the
    // process dies after either fold but before the tombstone clear,
    // probes still anti-join the (now redundant) tombstones against
    // rows that no longer exist: a no-op, bit-identical results.
    // Stats are untouched throughout: delete batches already wrote
    // negative deltas, so totals were net-of-deletes from the start.
    val tomb = bm25Deletes(spark, indexPath)
      .map(_.select("doc_id").distinct().localCheckpoint())
    def rewrite(name: String, parts: Seq[String], align: Option[String]): Unit = {
      val dir = s"$indexPath/$name"
      Dirs.swap(spark, dir) { tmp =>
        val df = spark.read.parquet(dir)
        writePartitionedSafe(
          tomb.fold(df)(t => df.join(t, Seq("doc_id"), "left_anti"))
            .drop("batch").withColumn("batch", lit(maxBatch)),
          tmp, parts, align)
      }
    }
    rewrite("postings", Seq("bucket", "batch"), align = Some("bucket"))
    if (tomb.isDefined) {
      rewrite("doclen", Seq("batch"), align = None)
      Dirs.delete(spark, s"$indexPath/deletes")
    }
  }

  /** Probe a persisted BM25 index with a (query_id, term) query set:
    * the query terms' buckets are pure hashes computed on the bounded
    * query frame (the probe-cells pattern of `Quantize.ivfPqTopK`),
    * and the postings scan prunes to those directories via an INSET
    * partition filter (plan-asserted in OpsSpec). Exact df comes from
    * the pruned buckets alone; scores are identical to [[bm25TopK]]
    * by construction, so the indexed gate query shares the flat
    * path's DuckDB oracle. The doclen join is AQE-broadcast at gate
    * scale and a doc_id-keyed shuffle join of candidates at corpus
    * scale. */
  def bm25IndexedTopK(spark: SparkSession, indexPath: String,
      queriesIn: DataFrame, k: Int = 10): DataFrame = {
    val stats = readBm25Stats(spark, indexPath).localCheckpoint()
    val nBuckets = stats.select("n_buckets").head().getInt(0)
    val q = queriesIn.localCheckpoint() // bounded: a query set is small
    val buckets = q.select(
        pmod(xxhash64(col("term")), lit(nBuckets.toLong))
          .cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val posts = spark.read.parquet(s"$indexPath/postings")
      .where(col("bucket").isin(buckets: _*))
    val raw = posts.join(broadcast(q.select("term").distinct()), "term")
    // tombstoned docs drop out BEFORE df: the anti-join touches only
    // the pruned buckets' candidate rows (never the corpus), and df
    // derived downstream is then the exact LIVE document frequency —
    // scores equal a rebuild-without-the-deleted bit for bit
    val hits = bm25Deletes(spark, indexPath) match {
      case Some(t) =>
        raw.join(t.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      case None => raw
    }
    val dfreq = hits.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = broadcast(q)
      .join(hits, "term")
      .join(broadcast(dfreq), "term")
      .join(spark.read.parquet(s"$indexPath/doclen"), "doc_id")
      .crossJoin(broadcast(stats.select("n", "s")))
      .select(col("query_id"), col("doc_id"), expr(bm25ScoreExpr).as("sc"))
    rankTopK(scored, k)
  }

  /** Build-and-probe form for the driver gate (`q_bm25_indexed`):
    * builds the bucketed index under a scratch directory, derives the
    * same df-rank query set from the index's own postings, and
    * answers through the pruned probe — the scratch build is the
    * honest cost, as with `Quantize.ivfPqTopKQuery`. Results equal
    * [[bm25TopK]] row for row, so the driver hashes this path against
    * the identical DuckDB oracle. */
  def bm25IndexedTopKQuery(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val idx = Scratch.dir("graft-bm25-gate")
    buildBm25Index(spark, dir, idx)
    val dfreq = spark.read.parquet(s"$idx/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
    bm25IndexedTopK(spark, idx, dfRankQueries(dfreq), k)
  }

  /** Build-append-probe form for the driver gate (`q_bm25_appended`):
    * builds the index on HALF the corpus (even doc_ids), appends the
    * other half through [[appendToBm25Index]], and probes — the
    * maintenance path (frozen layout, per-batch delta stats, derived
    * df) exercised end to end against the SAME DuckDB oracle as the
    * flat [[bm25TopK]]: the probe is bit-identical to a full build by
    * construction, so a hash mismatch here means the append path
    * diverged. */
  def bm25AppendedTopKQuery(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val idx = Scratch.dir("graft-bm25-incr")
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    buildBm25IndexFor(docs.where(col("doc_id") % 2 === 0), idx)
    appendToBm25Index(spark, idx, docs.where(col("doc_id") % 2 === 1))
    val dfreq = spark.read.parquet(s"$idx/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
    bm25IndexedTopK(spark, idx, dfRankQueries(dfreq), k)
  }

  /** Build-delete-probe form for the driver gate (`q_bm25_deleted`):
    * builds the index on the FULL corpus, tombstones every third
    * document through [[deleteFromBm25Index]], and probes with the
    * df-rank query set derived from the LIVE postings — the takedown
    * path exercised end to end. The probe is bit-identical to a
    * rebuild on the surviving corpus by construction (anti-joined df,
    * net stats), so the oracle is [[bm25TopKSql]] with the same
    * restriction applied to the DuckDB corpus scan — a hash mismatch
    * here means some score still carries a deleted document's
    * contribution. */
  def bm25DeletedTopKQuery(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val idx = Scratch.dir("graft-bm25-del")
    buildBm25Index(spark, dir, idx)
    deleteFromBm25Index(spark, idx,
      Tables.documents(spark, dir).select("doc_id")
        .where(col("doc_id") % 3 === 0))
    val dfreq = liveBm25Postings(spark, idx)
      .groupBy("term").agg(count(lit(1)).as("df"))
    bm25IndexedTopK(spark, idx, dfRankQueries(dfreq), k)
  }

  /** The flat-BM25 oracle with the corpus scan restricted by
    * `tfFilter` — everything downstream (dl, stats, df, queries,
    * scores) derives from the tf CTE, so one WHERE clause restricts
    * the entire pipeline. */
  private def bm25SqlFor(tfFilter: String): String =
    s"""WITH tf AS (
      |  SELECT doc_id, t.term, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  WHERE $tfFilter
      |  GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |                 CAST(SUM(dl) AS BIGINT) AS s FROM dl),
      |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |ranked AS (SELECT term,
      |             ROW_NUMBER() OVER (ORDER BY df DESC, term) AS r
      |           FROM d),
      |queries AS (SELECT CAST((r - 11) // 2 AS INT) AS query_id, term
      |            FROM ranked WHERE r BETWEEN 11 AND 20),
      |scored AS (
      |  SELECT q.query_id, tf.doc_id,
      |         CAST((2 * CAST(s.n AS DECIMAL(38,0)) - 2 * d.df + 1) * 22
      |              * CAST(s.s AS DECIMAL(38,0)) * tf.tf AS DOUBLE)
      |       / CAST((2 * CAST(d.df AS DECIMAL(38,0)) + 1)
      |              * (10 * CAST(s.s AS DECIMAL(38,0)) * tf.tf
      |                 + 3 * CAST(s.s AS DECIMAL(38,0))
      |                 + 9 * CAST(s.n AS DECIMAL(38,0)) * dl.dl)
      |              AS DOUBLE) AS sc
      |  FROM queries q
      |  JOIN tf ON tf.term = q.term
      |  JOIN d ON d.term = q.term
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats s)
      |SELECT query_id, doc_id, score, rank FROM (
      |  SELECT query_id, doc_id, SUM(sc) AS score,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |           ORDER BY SUM(sc) DESC, doc_id) AS rank
      |  FROM scored GROUP BY query_id, doc_id)
      |WHERE rank <= 10""".stripMargin

  val bm25TopKSql: String = bm25SqlFor("TRUE")

  /** Oracle for the delete gate: the same pipeline over only the
    * surviving documents. */
  val bm25DeletedTopKSql: String = bm25SqlFor("doc_id % 3 <> 0")

  /** Vocabulary coverage — the tokenizer-prep audit every pipeline
    * runs before committing a vocab: build the top-`vocabSize`
    * vocabulary by corpus frequency (total tf descending, term
    * ascending tie-break), then report each document's token count,
    * out-of-vocabulary token count, and OOV ratio. High-OOV documents
    * are the ones a frozen tokenizer will shred into bytes.
    *
    * Scale shape: TWO corpus scans, deliberately — the vocabulary
    * side aggregates the token stream straight to term grain (one
    * term-keyed exchange, partials absorbed map-side) and the
    * coverage side runs its own tf pass; checkpointing one shared tf
    * frame to feed both was measured ~1.5× SLOWER at ×100
    * (27.9 → 17-20 s at /tmp/sf10) because it pins a
    * corpus-type-sized intermediate to executor storage. The
    * vocabulary head arrives via TakeOrderedAndProject (distributed
    * partial top-V, no global sort) and broadcasts back onto the tf
    * stream; the per-doc rollup is one partial-agg shuffle on doc_id
    * carrying three longs. Integer counts + one IEEE division →
    * hash-exact.
    * `vocabSize` defaults to 20 because the synthetic corpus has a
    * 31-term vocabulary (production: 10⁴-10⁵ — still a broadcast). */
  def vocabCoverage(spark: SparkSession, dir: String,
      vocabSize: Int = 20): DataFrame = {
    val tf = termFrequencies(Tables.documents(spark, dir))
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("total_tf"))
      .orderBy(col("total_tf").desc, col("term"))
      .limit(vocabSize)
      .select("term")
    tf.join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf"))
          .otherwise(lit(0))).cast("long").as("n_oov"))
      .withColumn("oov_ratio",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  val vocabCoverageSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.term, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  GROUP BY 1, 2),
      |v AS (SELECT term FROM (
      |        SELECT term, SUM(tf) AS total_tf FROM tf GROUP BY term)
      |      ORDER BY total_tf DESC, term LIMIT 20)
      |SELECT doc_id,
      |       CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |       CAST(SUM(CASE WHEN v.term IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(SUM(CASE WHEN v.term IS NULL THEN tf ELSE 0 END) AS DOUBLE)
      |         / SUM(tf) AS oov_ratio
      |FROM tf LEFT JOIN v ON tf.term = v.term
      |GROUP BY doc_id""".stripMargin
}
