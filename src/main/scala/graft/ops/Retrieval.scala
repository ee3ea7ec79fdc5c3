package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Hybrid lexical+dense retrieval — the query-by-example form every
  * training-data curation loop runs ("find me more documents like
  * these N seeds"): a BM25 ranking from the seed's most distinctive
  * terms, a cosine ranking from the seed's embedding, fused with
  * reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09:
  * `score(d) = Σ_lists 1/(k₀ + rank_list(d))`, k₀ = 60).
  *
  * RRF is the standard fusion precisely because it consumes RANKS,
  * not scores — BM25 and cosine live on incomparable scales, and
  * ranks are also what keeps this whole query hash-exact against the
  * oracle: integer ranks in, two IEEE divisions and one addition out,
  * computed in the same literal order on both engines.
  *
  * Scale shape: the lexical side is the [[Terms]] BM25 plan (tf/df/dl
  * explode + partial-agg shuffles; the ≤ 2·N-term query set and the
  * 1-row corpus stats broadcast onto the tf stream). The dense side
  * broadcasts N query vectors over one corpus scan (swap in the IVF
  * probe of [[Similarity]] / [[Quantize]] at 10⁹ vectors — the fusion
  * below is agnostic to how either ranking was produced). The fusion
  * itself joins two (N·k)-row frames — driver-free and trivially
  * broadcastable at any corpus size, because ITS input is already
  * top-k-bounded. Seeds ride the `vec_id = doc_id` provisioning
  * contract (see [[Corpus]]).
  *
  * Reference anchor: the reference has no retrieval surface
  * (M13_SparkStreaming upload.py:1-120 is ingest only) — this is
  * SURVEY §7 extension surface for the training-data pipeline. */
object Retrieval {

  /** Top-k hybrid retrieval for the first `numQueries` documents as
    * query-by-example seeds.
    *
    * Lexical: each seed contributes its `qTerms` most distinctive
    * terms (tf/df rational ranking, term tie-break — the
    * [[Terms.topTermsPerDoc]] rule); candidates are scored with the
    * integer-cleared Okapi BM25 of [[Terms.bm25TopK]] (qTerms = 2
    * keeps the per-doc score sum ONE commutative IEEE addition, so
    * aggregation order cannot move the hash). Dense: exact cosine
    * ranks from [[Similarity.bruteForceTopKFor]]. The seed itself is
    * excluded from BOTH lists (it would trivially rank first in
    * each). A document missing from one list contributes 0 from that
    * list — the standard RRF convention.
    *
    * Output: one row per (query_id, fused rank ≤ k) with both
    * source ranks (null where the doc appeared in only one list) and
    * the fused score. */
  def hybridRrfTopK(spark: SparkSession, dir: String,
      numQueries: Int = 5, qTerms: Int = 2, k: Int = 10,
      k0: Int = 60, lexIn: Option[DataFrame] = None): DataFrame = {
    val dense = Similarity.bruteForceTopK(spark, dir, numQueries, k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    fuseRrf(lexIn.getOrElse(lexRanks(spark, dir, numQueries, qTerms, k)),
      dense, k, k0)
  }

  /** The 10⁹-vector form: same lexical side and fusion, dense ranks
    * from the IVF probe ([[Similarity.ivfTopK]], auto-tuned nprobe)
    * instead of the corpus-scan brute force — the swap the scaladoc
    * above promises, shipped. Rows-only (the probe is not
    * DuckDB-runnable); [[hybridRrfOverlapGate]] hash-gates its
    * agreement with the exact hybrid. */
  def hybridRrfTopKIvf(spark: SparkSession, dir: String,
      numQueries: Int = 5, qTerms: Int = 2, k: Int = 10,
      k0: Int = 60, lexIn: Option[DataFrame] = None): DataFrame = {
    val dense = Similarity.ivfTopK(spark, dir, numQueries, k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    fuseRrf(lexIn.getOrElse(lexRanks(spark, dir, numQueries, qTerms, k)),
      dense, k, k0)
  }

  /** Driver-gate row for [[hybridRrfTopKIvf]]: the IVF-fused lists
    * recover ≥ 80% of the exact hybrid's (query, doc) pairs in
    * aggregate (measured 1.0 at the gate SFs — the IVF probe's 0.94+
    * recall feeds through fusion; the band leaves room for honest
    * probe misses at other corpora). Thresholded-aggregate oracle,
    * the [[Similarity.ivfRecall]] pattern: DuckDB can't run the
    * probe, but hash-matching the all-pass row turns the driver
    * compare into a hard assertion. Deterministic (seeded centroids,
    * total rank orders). */
  def hybridRrfOverlapGate(spark: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    // the exact and IVF hybrids share the IDENTICAL lexical side
    // (same seeds, same terms, same scoring plan) — compute it once,
    // materialize the bounded (numQueries x k) rank list, and feed
    // both fusions (r17: the gate re-ran the full tokenize+score pass
    // per side). The registered standalone queries keep their own
    // honest lexical cost (lexIn defaults to None).
    val lex = lexRanks(spark, dir, numQueries, qTerms = 2, k = k)
      .localCheckpoint()
    val exact = hybridRrfTopK(spark, dir, numQueries, k = k,
        lexIn = Some(lex))
      .select("query_id", "doc_id")
    val ivf = hybridRrfTopKIvf(spark, dir, numQueries, k = k,
        lexIn = Some(lex))
      .select("query_id", "doc_id")
    val hits = ivf.join(exact, Seq("query_id", "doc_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact")).crossJoin(
      hits.agg((count(lit(1)) >=
        math.ceil(0.8 * k * numQueries).toLong)
        .cast("int").as("overlap_ge_80")))
  }

  val hybridRrfOverlapGateSql: String =
    """SELECT CAST(50 AS BIGINT) AS n_exact, 1 AS overlap_ge_80""".stripMargin

  /** Hard-negative mining — the training-data op behind every dense
    * retriever (DPR, Contriever): candidates that score HIGH lexically
    * but LOW semantically are the informative negatives (BM25-random
    * negatives are too easy; in-batch negatives too few). Per seed:
    * the BM25 top-`kLex` candidates whose exact cosine to the seed is
    * below `tau` — lexically confusable, semantically unrelated.
    *
    * Scale shape: the lexical side is the audited BM25 plan; the
    * cosine check joins the (numQueries·kLex)-row candidate list to
    * the embedding table BY ID — one semi-join-sized probe, never a
    * scan-vs-scan similarity pass, and the seed vectors broadcast.
    * The `< tau` filter on an exact dot is the [[q_embed_near_dup]]
    * oracle pattern. NOTE the two engines do NOT run an identical
    * float sequence (Spark dots pre-normalized vectors; DuckDB's
    * list_cosine_similarity divides the raw dot by the raw norms), so
    * hash-exactness rests on every candidate's margin |sim − tau|
    * sitting far above ulp scale — OpsSpec's threshold-margin audit
    * asserts that on each data vintage, failing loudly there before
    * the driver's oracle gate could flip. */
  def hardNegatives(spark: SparkSession, dir: String,
      numQueries: Int = 5, qTerms: Int = 2, kLex: Int = 20,
      tau: Double = 0.1): DataFrame = {
    val corpus = Similarity.normalized(spark, dir)
    val queries = corpus.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    lexRanks(spark, dir, numQueries, qTerms, kLex)
      .join(corpus.select(col("vec_id").as("doc_id"), col("vec")),
        "doc_id")
      .join(broadcast(queries), "query_id")
      .where(graft.functions.VectorFunctions
        .dot(col("vec"), col("qvec")) < tau)
      .select("query_id", "doc_id", "lex_rank")
  }

  val hardNegativesSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, t.term, COUNT(*) AS tf
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
       |  GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY doc_id),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |                 CAST(SUM(dl) AS BIGINT) AS s FROM dl),
       |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |qsel AS (
       |  SELECT doc_id AS query_id, term FROM (
       |    SELECT tf.doc_id, tf.term,
       |           ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |             ORDER BY CAST(tf.tf AS DOUBLE) / d.df DESC, tf.term) AS r
       |    FROM tf JOIN d ON tf.term = d.term
       |    WHERE tf.doc_id < 5)
       |  WHERE r <= 2),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |         CAST((2 * CAST(s.n AS DECIMAL(38,0)) - 2 * d.df + 1) * 22
       |              * CAST(s.s AS DECIMAL(38,0)) * tf.tf AS DOUBLE)
       |       / CAST((2 * CAST(d.df AS DECIMAL(38,0)) + 1)
       |              * (10 * CAST(s.s AS DECIMAL(38,0)) * tf.tf
       |                 + 3 * CAST(s.s AS DECIMAL(38,0))
       |                 + 9 * CAST(s.n AS DECIMAL(38,0)) * dl.dl)
       |              AS DOUBLE) AS sc
       |  FROM qsel q
       |  JOIN tf ON tf.term = q.term
       |  JOIN d ON d.term = q.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats s
       |  WHERE tf.doc_id != q.query_id),
       |lex AS (
       |  SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT query_id, doc_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY SUM(sc) DESC, doc_id) AS lex_rank
       |    FROM scored GROUP BY query_id, doc_id)
       |  WHERE lex_rank <= 20),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT l.query_id, l.doc_id, l.lex_rank
       |FROM lex l
       |JOIN c e ON e.vec_id = l.doc_id
       |JOIN c q ON q.vec_id = l.query_id
       |WHERE list_cosine_similarity(q.v, e.v) < 0.1""".stripMargin

  /** Lexical ranks (query_id, doc_id, lex_rank ≤ k) for the first
    * `numQueries` seed documents. */
  private def lexRanks(spark: SparkSession, dir: String,
      numQueries: Int, qTerms: Int, k: Int): DataFrame = {
    // deliberately NOT spread (re-measured r18 on the shared
    // bm25TopKWith chain: the text-bearing spread exchange loses to
    // the single-task tokenize — 1.83 vs 1.15 s on q_bm25_topk)
    val docs = Tables.documents(spark, dir)
    // one tokenization pass feeds seed-term selection AND scoring
    // (the bm25TopKWith discipline: localCheckpoint, reused 4×).
    // No explicit unpersist: consumers evaluate lazily, so the blocks
    // are released by ContextCleaner once the frame is unreachable —
    // eager Bridge.unpersistCheckpoint here would truncate lineage
    // under a still-referenced plan
    val tf = Terms.termFrequencies(docs).localCheckpoint()
    // dfreq recurs inside bm25TopKWith over the SAME checkpointed tf:
    // identical exchange subtrees, so ReuseExchange dedupes the
    // aggregation at execution — no second corpus shuffle
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))

    // seed terms: the window ranks only the seeds' (doc, term) rows —
    // the corpus-sized tf stream is filtered BEFORE the window
    val wSel = Window.partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    val queries = tf.where(col("doc_id") < numQueries)
      .join(dfreq, "term")
      .withColumn("r", row_number().over(wSel))
      .where(col("r") <= qTerms)
      .select(col("doc_id").as("query_id"), col("term"))

    // scoring + ranking IS the flat BM25 pipeline — reused (tf shared
    // via tfIn, self-pairs excluded) rather than re-spelled, so a fix
    // to the shared plan lands once
    Terms.bm25TopKWith(spark, dir, k, Terms.bm25ScoreExpr,
        queriesIn = Some(queries), tfIn = Some(tf), excludeSelf = true)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
  }

  /** RRF fusion of two (query_id, doc_id, *_rank) frames. */
  private def fuseRrf(lex: DataFrame, dense: DataFrame, k: Int,
      k0: Int): DataFrame = {
    // RRF: using-column full outer coalesces the keys; each side's
    // reciprocal term is computed then added in literal order
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        col("lex_rank"), col("dense_rank"),
        (coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("dense_rank")), lit(0.0)))
          .as("rrf"))
    val wF = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wF))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "lex_rank", "dense_rank",
        "rrf", "rank")
  }

  /** DuckDB oracle: the same two rankings (BM25's integer-cleared
    * score, `list_cosine_similarity` ranks) fused with the same
    * literal-order RRF arithmetic. Every fractional value is either
    * a ratio of exact integers or `CAST(1.0 AS DOUBLE)/(60+rank)` —
    * bit-identical across engines. */
  val hybridRrfTopKSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, t.term, COUNT(*) AS tf
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
       |  GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY doc_id),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |                 CAST(SUM(dl) AS BIGINT) AS s FROM dl),
       |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |qsel AS (
       |  SELECT doc_id AS query_id, term FROM (
       |    SELECT tf.doc_id, tf.term,
       |           ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |             ORDER BY CAST(tf.tf AS DOUBLE) / d.df DESC, tf.term) AS r
       |    FROM tf JOIN d ON tf.term = d.term
       |    WHERE tf.doc_id < 5)
       |  WHERE r <= 2),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |         CAST((2 * CAST(s.n AS DECIMAL(38,0)) - 2 * d.df + 1) * 22
       |              * CAST(s.s AS DECIMAL(38,0)) * tf.tf AS DOUBLE)
       |       / CAST((2 * CAST(d.df AS DECIMAL(38,0)) + 1)
       |              * (10 * CAST(s.s AS DECIMAL(38,0)) * tf.tf
       |                 + 3 * CAST(s.s AS DECIMAL(38,0))
       |                 + 9 * CAST(s.n AS DECIMAL(38,0)) * dl.dl)
       |              AS DOUBLE) AS sc
       |  FROM qsel q
       |  JOIN tf ON tf.term = q.term
       |  JOIN d ON d.term = q.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats s
       |  WHERE tf.doc_id != q.query_id),
       |lex AS (
       |  SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT query_id, doc_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY SUM(sc) DESC, doc_id) AS lex_rank
       |    FROM scored GROUP BY query_id, doc_id)
       |  WHERE lex_rank <= 10),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dense AS (
       |  SELECT query_id, doc_id, dense_rank FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.v, e.v) DESC,
       |                      e.vec_id) AS dense_rank
       |    FROM c q JOIN c e ON e.vec_id != q.vec_id
       |    WHERE q.vec_id < 5)
       |  WHERE dense_rank <= 10),
       |fused AS (
       |  SELECT COALESCE(l.query_id, de.query_id) AS query_id,
       |         COALESCE(l.doc_id, de.doc_id) AS doc_id,
       |         l.lex_rank, de.dense_rank,
       |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), CAST(0.0 AS DOUBLE))
       |           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + de.dense_rank), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM lex l
       |  FULL OUTER JOIN dense de
       |    ON l.query_id = de.query_id AND l.doc_id = de.doc_id)
       |SELECT query_id, doc_id, lex_rank, dense_rank, rrf, rank FROM (
       |  SELECT query_id, doc_id, lex_rank, dense_rank, rrf,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= 10""".stripMargin
}
