package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The end-to-end training-corpus pipeline in ONE query — the artifact
  * a training run actually consumes, and the integration tripwire for
  * cross-operator schema drift: every stage below is individually
  * hash-oracled, but only a composed query catches a stage changing
  * its output contract out from under the next one.
  *
  * Stages (each delegating to the operator that owns it):
  *   1. ingest   — the batch read of `documents`; stream ≡ batch for
  *                 this source is proven separately (IngestSpec: the
  *                 streaming dedup store replays to the same corpus).
  *   2. dedup    — near-dup survivors via LSH → connected components
  *                 ([[Components.cleanCorpus]] semantics, subsumes
  *                 exact dedup).
  *   3. decontaminate — drop eval-source rows and every doc sharing an
  *                 n-gram window with the eval set
  *                 ([[Decontaminate.governedCorpus]] = stages 2+3).
  *   4. quality  — per-language percentile filter on stopword ratio
  *                 ([[TextStats.qualityFiltered]]).
  *   5. shuffle  — seeded md5 permutation of the survivors (the
  *                 [[Pack.corpusShuffle]] key), so shard contents are a
  *                 reproducible pseudo-random mix, not source order.
  *   6. pack     — distributed prefix-sum sharding by token budget +
  *                 payload concatenation ([[Pack.packIntoShards]] /
  *                 [[Pack.packedPayloads]] machinery).
  *
  * Scale shape: the doc_id survivor sets from stages 2-4 are tiny
  * relative to the corpus and ride semi-joins (AQE broadcasts them);
  * the shuffle+pack pass moves only (key, weight) through the range
  * shuffle; text is re-attached once, by doc_id, for the final
  * per-shard concat — one key shuffle whose per-group state is budget-
  * bounded by construction. Nothing here funnels through one task.
  */
object Corpus {

  /** The survivor doc_id set shared by every composed pipeline below:
    * governance (near-dup CC + decontamination) ∩ quality filter.
    * Built per call from what `dir` holds now:
    * [[graft.streaming.StreamShards]] recomputes it per micro-batch
    * against a corpus that grows between calls. A query that reads it
    * more than once materializes it itself
    * ([[trainingShardsSemanticGate]]). */
  private def survivorIds(spark: SparkSession, dir: String): DataFrame =
    Decontaminate.governedCorpus(spark, dir).select("doc_id")
      .join(TextStats.qualityFiltered(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_semi")

  /** Packed training shards over the governed + quality-filtered
    * corpus, in seeded-shuffle order: (shard_id, n_docs, shard_tokens,
    * payload). Deterministic end to end (md5 permutation, integer
    * token weights), hence hash-oracled. */
  def trainingShards(spark: SparkSession, dir: String, seed: Int = 0,
      budget: Long = 4096L): DataFrame =
    trainingShardsFor(spark, dir, survivorIds(spark, dir), seed, budget)

  private def trainingShardsFor(spark: SparkSession, dir: String,
      keepIds: DataFrame, seed: Int, budget: Long): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val survivors = docs.select("doc_id", "text")
      .join(keepIds, Seq("doc_id"), "left_semi")
    // the corpusShuffle sort key: md5(seed:doc_id) prefix gives the
    // permutation, the doc_id suffix keeps it unique and parseable
    // back out — the prefix-sum shuffle stays (key, weight)-slim
    val keyed = survivors.select(
      concat(md5(concat(lit(s"graft:$seed:"), col("doc_id").cast("string"))),
        lit(":"), col("doc_id").cast("string")).as("k"),
      col("text"))
    Pack.packIntoShards(keyed, "k", size(split(col("text"), " ")), budget)
      .withColumn("doc_id",
        element_at(split(col("k"), ":"), 2).cast("long"))
      .join(docs.select("doc_id", "text"), "doc_id")
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("w").as("shard_tokens"),
        // order inside the shard = shuffle order (sort on the md5 key),
        // never collect_list arrival order
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("k"), col("text")))),
          s => s.getField("text"))).as("payload"))
  }

  /** [[trainingShards]] with CHUNK-GRAIN boilerplate removal composed
    * in — the stage document-grain dedup provably misses: identical
    * paragraphs (shared headers, license blocks, templated passages)
    * embedded in otherwise-distinct documents. After governance and
    * quality filtering, survivor text is split into NON-overlapping
    * `window`-token chunks (stride = window, so surviving chunks
    * re-concatenate losslessly — an overlapping stride would duplicate
    * boundary tokens in the payload), identical chunk text across the
    * whole surviving corpus keeps only the lexicographic-min
    * (doc, chunk) ([[Chunk.chunkDedup]] semantics), and the SURVIVING
    * CHUNKS are packed directly.
    *
    * Packing at chunk grain (not re-concatenating per doc first) is
    * the scale move: the per-doc rebuild would cost an extra full
    * text shuffle keyed by doc_id before the pack even starts. Here
    * the pipeline pays exactly the shuffles [[trainingShards]] pays —
    * the slim (key, weight) prefix-sum pass and the final shard
    * concat — plus one fingerprint-only exchange for the dedup
    * decision (md5 + ids, chunk text never leaves its scan). A doc's
    * surviving chunks stay adjacent and in chunk order inside the
    * shard: the sort key is md5(seed:doc_id) : zero-padded doc_id :
    * zero-padded chunk_id, so the permutation is per-DOCUMENT and the
    * chunk_id suffix keeps intra-doc order. Text re-attaches once, by
    * (doc_id, chunk_id) parsed back out of the key, against a fresh
    * chunking of the raw table — chunking is pure scan-grain codegen
    * (cheaper than caching the governed lineage), and any (doc, chunk)
    * emitted by the pack is already a survivor so governance need not
    * recompute. Deterministic end to end → hash-oracled. */
  def trainingShardsChunked(spark: SparkSession, dir: String, seed: Int = 0,
      budget: Long = 4096L, window: Int = 64): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val survivors = docs.select("doc_id", "text")
      .join(survivorIds(spark, dir), Seq("doc_id"), "left_semi")
    val chunks = Chunk.chunkTokens(survivors, window, stride = window)
    // chunk-grain dedup decision: the only exchange carries
    // (fp, doc_id, chunk_id) — the text column is dropped before it
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("doc_id"), col("chunk_id"))
    val kept = chunks
      .select(col("doc_id"), col("chunk_id"),
        md5(col("chunk_text")).as("fp"),
        col("n_chunk_tokens").cast("long").as("w0"))
      .withColumn("rn", row_number().over(wspec))
      .filter(col("rn") === 1)
    val keyed = kept.select(
      concat(md5(concat(lit(s"graft:$seed:"), col("doc_id").cast("string"))),
        // 20/10 chars fit every Long/Int: Spark's lpad TRUNCATES longer
        // inputs (the Pack.lengthBucketBatches defect class), which
        // would silently corrupt the parsed-back ids below and
        // collide sort keys at snapshot-prefixed id scales
        lit(":"), lpad(col("doc_id").cast("string"), 20, "0"),
        lit(":"), lpad(col("chunk_id").cast("string"), 10, "0")).as("k"),
      col("w0"))
    Pack.packIntoShards(keyed, "k", col("w0"), budget)
      .withColumn("doc_id",
        element_at(split(col("k"), ":"), 2).cast("long"))
      .withColumn("chunk_id",
        element_at(split(col("k"), ":"), 3).cast("long"))
      .join(Chunk.chunkTokens(docs, window, stride = window)
        .select("doc_id", "chunk_id", "chunk_text"),
        Seq("doc_id", "chunk_id"))
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("w").as("shard_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("k"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("payload"))
  }

  val trainingShardsChunkedSql: String =
    s"""WITH surv AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  WHERE d.doc_id IN
       |        (SELECT doc_id FROM (${Decontaminate.governedCorpusSql}) gov)
       |    AND d.doc_id IN
       |        (SELECT doc_id FROM (${TextStats.qualityFilteredSql}) q)),
       |t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |         len(string_split(text, ' ')) AS n
       |  FROM surv),
       |c AS (
       |  SELECT doc_id, toks, u.i AS chunk_id
       |  FROM t, UNNEST(range(0, 1 + CASE WHEN n > 64
       |                                   THEN (n - 64 + 63) // 64
       |                                   ELSE 0 END)) AS u(i)),
       |ch AS (
       |  SELECT doc_id, chunk_id,
       |         array_to_string(toks[chunk_id * 64 + 1 : chunk_id * 64 + 64],
       |                         ' ') AS chunk_text,
       |         CAST(len(toks[chunk_id * 64 + 1 : chunk_id * 64 + 64])
       |              AS BIGINT) AS w
       |  FROM c),
       |kept AS (
       |  SELECT doc_id, chunk_id, chunk_text, w
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
       |                     ORDER BY doc_id, chunk_id) AS rn
       |        FROM ch)
       |  WHERE rn = 1),
       |h AS (
       |  SELECT chunk_text, w,
       |         md5('graft:0:' || CAST(doc_id AS VARCHAR)) || ':' ||
       |           lpad(CAST(doc_id AS VARCHAR), 20, '0') || ':' ||
       |           lpad(CAST(chunk_id AS VARCHAR), 10, '0') AS k
       |  FROM kept),
       |cum AS (
       |  SELECT k, chunk_text, w,
       |         CAST(SUM(w) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
       |              AS BIGINT) AS cum_tokens
       |  FROM h)
       |SELECT (cum_tokens - w) // 4096 AS shard_id,
       |       COUNT(*) AS n_chunks,
       |       CAST(SUM(w) AS BIGINT) AS shard_tokens,
       |       string_agg(chunk_text, ' ' ORDER BY k) AS payload
       |FROM cum GROUP BY shard_id""".stripMargin

  /** [[trainingShards]] with the WEIGHTED-MIXING stage composed in —
    * the complete pipeline a real run ships: after governance and
    * quality filtering, survivors expand through the deterministic
    * per-source epoch weights ([[Mix.corpusMixFor]]: mix AFTER dedup,
    * so upsampling never multiplies rows a later stage would drop),
    * and the shuffle key salts in the epoch so repeats of a document
    * scatter across different shards instead of clumping. Output rows
    * are (shard_id, n_rows, shard_tokens, payload); still fully
    * deterministic → hash-oracled. */
  def trainingShardsMixed(spark: SparkSession, dir: String, seed: Int = 0,
      budget: Long = 4096L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val survivors = docs.select("doc_id", "text", "source")
      .join(survivorIds(spark, dir), Seq("doc_id"), "left_semi")
    // text is consumed entirely inside the survivors scan — the mix
    // bucket and the token weight are computed in that projection and
    // only (doc_id, w, epoch) rides the explode. The post-pack
    // re-attach below is then the ONE touch of documents text in the
    // whole query (it was two: text used to be carried through the
    // explode for the weight, dropped by the pack, and re-joined).
    // Joining the packed output back to the keyed frame on k instead
    // would avoid the doc_id parse but recompute — or force
    // materializing, at corpus-text size × epochs — the governance
    // lineage; the slim-carry keeps both joins off the table.
    val mixed = Mix.corpusMixFor(
      survivors.withColumn("w",
        size(split(col("text"), " ")).cast("long")),
      carry = Seq("w"))
    val keyed = mixed.select(
      concat(md5(concat(lit(s"graft:$seed:"), col("doc_id").cast("string"),
          lit(":"), col("epoch").cast("string"))),
        lit(":"), col("doc_id").cast("string"),
        lit(":"), col("epoch").cast("string")).as("k"),
      col("w"))
    Pack.packIntoShards(keyed, "k", col("w"), budget)
      .withColumn("doc_id",
        element_at(split(col("k"), ":"), 2).cast("long"))
      .join(docs.select("doc_id", "text"), "doc_id")
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_rows"),
        sum("w").as("shard_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("k"), col("text")))),
          s => s.getField("text"))).as("payload"))
  }

  val trainingShardsMixedSql: String =
    s"""WITH surv AS (
       |  SELECT d.doc_id, d.text, d.source FROM documents d
       |  WHERE d.doc_id IN
       |        (SELECT doc_id FROM (${Decontaminate.governedCorpusSql}) gov)
       |    AND d.doc_id IN
       |        (SELECT doc_id FROM (${TextStats.qualityFilteredSql}) q)),
       |mw AS (
       |  SELECT doc_id, text,
       |         (CASE WHEN source = 'src0' THEN 250
       |               WHEN source = 'src1' THEN 40
       |               WHEN source = 'src2' THEN 0
       |               ELSE 100 END) AS wp,
       |         ${Mix.bucketSqlExpr} AS b
       |  FROM surv),
       |m AS (
       |  SELECT doc_id, text,
       |         CAST(unnest(range(wp // 100 +
       |           CASE WHEN b < wp % 100 THEN 1 ELSE 0 END)) AS BIGINT)
       |           AS epoch
       |  FROM mw
       |  WHERE wp // 100 + CASE WHEN b < wp % 100 THEN 1 ELSE 0 END > 0),
       |h AS (
       |  SELECT text,
       |         md5('graft:0:' || CAST(doc_id AS VARCHAR) || ':' ||
       |             CAST(epoch AS VARCHAR)) || ':' ||
       |           CAST(doc_id AS VARCHAR) || ':' ||
       |           CAST(epoch AS VARCHAR) AS k,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
       |  FROM m),
       |c AS (
       |  SELECT k, text, w,
       |         CAST(SUM(w) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
       |              AS BIGINT) AS cum_tokens
       |  FROM h)
       |SELECT (cum_tokens - w) // 4096 AS shard_id,
       |       COUNT(*) AS n_rows,
       |       CAST(SUM(w) AS BIGINT) AS shard_tokens,
       |       string_agg(text, ' ' ORDER BY k) AS payload
       |FROM c GROUP BY shard_id""".stripMargin

  /** [[trainingShards]] with EMBEDDING-level semantic dedup composed
    * in — the r9 verdict's missing composition: text-grain governance
    * (near-dup CC + decontamination + quality) catches lexical
    * duplication, but paraphrases and re-encodings of the same
    * content survive it; the screened semantic hybrid
    * ([[Similarity.semanticDedupClustersScreened]]: centroid screen
    * collapses the duplicate regime with no pairwise term, tau-level
    * exact-cosine clustering decides the survivors) drops them at the
    * embedding level. Embeddings align to documents by id (one vector
    * per document — `vec_id` = `doc_id` in the provisioned tables; a
    * production run would join on an explicit mapping).
    *
    * Composition discipline: the semantic stage only REMOVES — a doc
    * is dropped iff its vector is a non-surviving member of a
    * semantic cluster (an ANTI-join against the non-survivor ids, so
    * documents WITHOUT an embedding pass through on text-governance
    * alone rather than vanishing on missing evidence). Packing is
    * identical to [[trainingShards]]; the survivor set is just one
    * anti-join smaller. Scale shape: the non-survivor id set rides
    * the same slim semi/anti-join lane as the text survivor ids (AQE
    * broadcasts both), and the semantic stage's own cost is the
    * screened hybrid's (screen = one map pass + one cell exchange;
    * pairwise only over screen survivors).
    *
    * Float-seeded (centroid builds), hence rows-only at the driver;
    * the hash-exact compensating row is
    * [[trainingShardsSemanticGate]]. */
  def trainingShardsSemantic(spark: SparkSession, dir: String,
      seed: Int = 0, budget: Long = 4096L): DataFrame =
    trainingShardsSemanticFor(spark, dir, survivorIds(spark, dir),
      semanticDropIds(spark, dir), seed, budget)

  private def trainingShardsSemanticFor(spark: SparkSession, dir: String,
      keepIds: DataFrame, dropIds: DataFrame, seed: Int,
      budget: Long): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val survivors = docs.select("doc_id", "text")
      .join(keepIds, Seq("doc_id"), "left_semi")
      .join(dropIds, Seq("doc_id"), "left_anti")
    val keyed = survivors.select(
      concat(md5(concat(lit(s"graft:$seed:"), col("doc_id").cast("string"))),
        lit(":"), col("doc_id").cast("string")).as("k"),
      col("text"))
    Pack.packIntoShards(keyed, "k", size(split(col("text"), " ")), budget)
      .withColumn("doc_id",
        element_at(split(col("k"), ":"), 2).cast("long"))
      .join(docs.select("doc_id", "text"), "doc_id")
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("w").as("shard_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("k"), col("text")))),
          s => s.getField("text"))).as("payload"))
  }

  /** Doc ids the semantic stage removes: non-surviving members of the
    * screened-hybrid clusters. */
  private def semanticDropIds(spark: SparkSession, dir: String)
      : DataFrame =
    Similarity.semanticDedupClustersScreened(spark, dir)
      .where(col("vec_id") =!= col("cluster"))
      .select(col("vec_id").as("doc_id"))

  /** Hash-exact driver gate for the semantic composition — the
    * thresholded-aggregate trick ([[Similarity.ivfRecall]]): DuckDB
    * cannot re-run the float-seeded screen, but it can state the
    * invariant, so the hash compare becomes a hard assertion on all
    * four flags.
    *
    * Flags, each computed from the actual frames:
    *  - `exact_copies_clustered` / `near_copies_clustered`: on a
    *    PLANTED corpus (every base vector gets an exact copy at
    *    vec_id+n and a near-copy at vec_id+2n — the
    *    [[Similarity.semanticDedupCentroidGate]] construction), the
    *    screened HYBRID co-clusters 100% of BOTH plant families.
    *    Stronger than the screen-alone gate's ≥90% near band: a
    *    near-copy the screen splits at a cell boundary survives into
    *    the pairwise stage, which catches it as a tau pair (cos ≳
    *    1−10⁻⁶ ≥ tau) — the whole point of the composition.
    *  - `packed_docs_exact`: over the real `dir`, Σ n_docs of the
    *    semantic shards = |text survivors ∖ semantic drops| AND
    *    Σ shard_tokens = the token mass of exactly that set — the
    *    packed corpus is the composed survivor set, nothing added,
    *    nothing lost.
    *  - `subset_of_unscreened`: the semantic stage only removes —
    *    semantic Σ n_docs ≤ plain [[trainingShards]] Σ n_docs. */
  def trainingShardsSemanticGate(spark: SparkSession, dir: String)
      : DataFrame = {
    import Similarity.normalized
    import graft.functions.VectorFunctions.normalize
    // The two halves are independent job chains — the planted-corpus
    // screen (3n synthetic vectors) and the real-dir composition
    // arithmetic — so they overlap (guide §2.6 / Par).
    val ((exactOk, nearOk), (expected, packed, plainDocs)) =
      graft.core.Par.both(
        {
          // planted-structure check (bounded: 3n vectors, n = gate corpus)
          val base = normalized(spark, dir).select("vec_id", "vec")
            .localCheckpoint()
          val n = base.count()
          val copies =
            base.select((col("vec_id") + n).as("vec_id"), col("vec"))
          val nearCopies = base.select((col("vec_id") + 2 * n).as("vec_id"),
            normalize(zip_with(col("vec"), reverse(col("vec")),
              (a, b) => a + lit(0.001) * b)).as("vec"))
          val aug = base.unionByName(copies).unionByName(nearCopies)
          // read by both planted-pair joins: materialize once
          val lab = Similarity.semanticDedupClustersScreenedFor(aug)
            .localCheckpoint()
          def caught(off: Long): Long = lab.as("x")
            .join(lab.as("y"), col("x.vec_id") + off === col("y.vec_id") &&
              col("x.vec_id") < n)
            .where(col("x.cluster") === col("y.cluster"))
            .count()
          val (exactCaught, nearCaught) =
            graft.core.Par.both(caught(n), caught(2 * n))
          (exactCaught == n, nearCaught == n)
        },
        {
          // composition arithmetic over the real dir: the survivor
          // set is read three times below and the drop set twice, so
          // both are materialized once, before the packs overlap
          val survivors = survivorIds(spark, dir).localCheckpoint()
          val drops = semanticDropIds(spark, dir).localCheckpoint()
          val expected = Tables.documents(spark, dir)
            .select("doc_id", "text")
            .join(survivors, Seq("doc_id"), "left_semi")
            .join(drops, Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("n"),
              coalesce(sum(size(split(col("text"), " ")).cast("long")),
                lit(0L)).as("tok"))
            .head()
          val (packed, plainDocs) = graft.core.Par.both(
            trainingShardsSemanticFor(spark, dir, survivors, drops,
                seed = 0, budget = 4096L)
              .agg(coalesce(sum("n_docs"), lit(0L)).as("n"),
                coalesce(sum("shard_tokens"), lit(0L)).as("tok"),
                count(lit(1)).as("n_shards"))
              .head(),
            trainingShardsFor(spark, dir, survivors, seed = 0,
                budget = 4096L)
              .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0))
          (expected, packed, plainDocs)
        })
    spark.range(1).select(
      lit(if (exactOk) 1 else 0).as("exact_copies_clustered"),
      lit(if (nearOk) 1 else 0).as("near_copies_clustered"),
      lit(if (packed.getLong(0) == expected.getLong(0) &&
          packed.getLong(1) == expected.getLong(1) &&
          packed.getLong(2) > 0) 1 else 0).as("packed_docs_exact"),
      lit(if (packed.getLong(0) <= plainDocs) 1 else 0)
        .as("subset_of_unscreened"))
  }

  val trainingShardsSemanticGateSql: String =
    """SELECT 1 AS exact_copies_clustered, 1 AS near_copies_clustered,
      |       1 AS packed_docs_exact, 1 AS subset_of_unscreened
      |FROM documents LIMIT 1""".stripMargin

  val trainingShardsSql: String =
    s"""WITH surv AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  WHERE d.doc_id IN
       |        (SELECT doc_id FROM (${Decontaminate.governedCorpusSql}) gov)
       |    AND d.doc_id IN
       |        (SELECT doc_id FROM (${TextStats.qualityFilteredSql}) q)),
       |h AS (
       |  SELECT text,
       |         md5('graft:0:' || CAST(doc_id AS VARCHAR)) || ':' ||
       |           CAST(doc_id AS VARCHAR) AS k,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
       |  FROM surv),
       |c AS (
       |  SELECT k, text, w,
       |         CAST(SUM(w) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
       |              AS BIGINT) AS cum_tokens
       |  FROM h)
       |SELECT (cum_tokens - w) // 4096 AS shard_id,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(w) AS BIGINT) AS shard_tokens,
       |       string_agg(text, ' ' ORDER BY k) AS payload
       |FROM c GROUP BY shard_id""".stripMargin

  /** Per-source document caps — web-crawl governance: no single
    * domain may contribute more than `cap` documents, and the kept
    * ones are the source's BEST by quality (stopword-ratio fluency
    * proxy, doc_id tie-break), not its first `cap` arrivals.
    *
    * Scale shape: a bare `row_number() OVER (PARTITION BY source)`
    * hashes every source into ONE task. Spark's WindowGroupLimit
    * already bounds what SHUFFLES to that task (map-side top-cap per
    * input task, visible in the plan), but the receiving partition
    * still holds #input-tasks × cap rows — ~10⁶ tasks at 100 TB. The
    * rank therefore runs in TWO stages, both windows, bit-identical
    * to the single window because the global per-source top-`cap` all
    * have bucket-rank ≤ cap in their salt bucket (the ordering is
    * total — doc_id breaks every tie):
    *   1. salted pre-rank: partition (source, pmod(doc_id, buckets)),
    *      keep rank ≤ cap — balanced tasks, output ≤ buckets·cap rows
    *      per source;
    *   2. final rank: partition (source) over those ≤ buckets·cap
    *      survivors — trivially small.
    * The quality scalar is computed in the scan projection; only
    * (doc_id, source, ratio) ever shuffles. */
  def sourceCappedCorpus(spark: SparkSession, dir: String,
      cap: Int = 20, saltBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      TextStats.stopwordRatio(col("text")).as("stopword_ratio"))
    val wPre = Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(saltBuckets)))
      .orderBy(col("stopword_ratio").desc, col("doc_id"))
    val wFin = Window.partitionBy("source")
      .orderBy(col("stopword_ratio").desc, col("doc_id"))
    scored
      .withColumn("r1", row_number().over(wPre))
      .where(col("r1") <= cap).drop("r1")
      .withColumn("src_rank", row_number().over(wFin))
      .where(col("src_rank") <= cap)
      .select("doc_id", "source", "stopword_ratio", "src_rank")
  }

  val sourceCappedCorpusSql: String = {
    val stop = TextStats.enStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |         CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS stopword_ratio
       |  FROM documents)
       |SELECT doc_id, source, stopword_ratio, src_rank FROM (
       |  SELECT doc_id, source, stopword_ratio,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY stopword_ratio DESC, doc_id) AS src_rank
       |  FROM q)
       |WHERE src_rank <= 20""".stripMargin
  }

  /** The governance ledger for [[sourceCappedCorpus]]: per source, how
    * many documents arrived and how many the cap admits. `n_kept` is
    * exactly `LEAST(n_docs, cap)` because the cap ordering is total —
    * one partial-agg shuffle on source, no second pass over the capped
    * output needed. */
  def sourceCapReport(spark: SparkSession, dir: String,
      cap: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        least(col("n_docs"), lit(cap.toLong)).as("n_kept"))

  val sourceCapReportSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |       LEAST(COUNT(*), 20) AS n_kept
      |FROM documents GROUP BY source""".stripMargin
}
