package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** BPE tokenizer TRAINING and encoding over the corpus — the
  * vocabulary-learning step every LM pretraining pipeline runs before
  * it can count a single token budget (Sennrich et al., ACL 2016; the
  * HuggingFace `tokenizers` trainer is the operational model).
  *
  * Scale design — the classic trainer shape, distributed:
  *  - The CORPUS-scale work is ONE pass: explode whitespace words,
  *    groupBy word → `(word, wc)`. Partial aggregation absorbs the
  *    token explosion map-side; the shuffle carries one row per
  *    DISTINCT word. Everything after operates at vocabulary grain
  *    (10⁴-10⁷ rows at 100 TB — thousands of times smaller than the
  *    corpus), which is exactly why reference trainers collect word
  *    counts before the merge loop. We keep the word table
  *    DISTRIBUTED (no driver collect): each merge round is one
  *    vocabulary-sized partial-agg shuffle + a 1-row driver take.
  *  - Merge application is a SYMBOL-ARRAY fold (an `aggregate`
  *    higher-order function): the accumulator appends each symbol, or
  *    fuses it with the previous one when the two form the merge
  *    pair — exactly the BPE leftmost-greedy rule ("aaa" + merge
  *    (a,a) → ["aa", "a"]). A flat-string `replace` over
  *    separator-joined symbols was the first cut and is WRONG: its
  *    pattern can match with `l` as the TAIL of a longer symbol
  *    (merge (b,c) on symbols [ab, c] fused them to [abc]),
  *    corrupting every later pair count — caught in review, pinned
  *    by the planted-corpus spec. The fold runs interpreted, but
  *    ONLY at vocabulary grain; the corpus never flows through it
  *    (the interpreted-lambda pitfall concerns corpus-grain rows).
  *  - ENCODING also runs at vocabulary grain: each distinct word is
  *    encoded once (a chain of nMerges fold nodes),
  *    then per-doc token counts come from joining the (doc, word, tf)
  *    frequencies to the word→n_tokens table — the corpus text is
  *    never re-scanned per merge. The word table broadcasts at test
  *    scale; at a 10⁷-word production vocabulary AQE picks the
  *    shuffle join and the join key is the word itself, already the
  *    tf table's natural key.
  *
  * Determinism: pair counts are integers; the merge argmax tie-breaks
  * (count desc, left asc, right asc); the fold is exact — the whole
  * trainer is a pure function of the corpus, so the spec can demand
  * EXACT merge-sequence equality with an in-memory reference trainer.
  *
  * Invariant: corpus text is whitespace-delimited `[a-z0-9]` words
  * (no `` anywhere), so the separator never collides. */
object Tokenize {

  /** Symbol separator inside an encoded word. */
  private val SEP = ""

  /** Distinct whitespace words with corpus counts — the one
    * corpus-scale pass (one partial-agg shuffle keyed by word). */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Corpus-wide adjacent character-pair counts weighted by word
    * frequency — round 0 of BPE training, and the oracle-able face of
    * the trainer (DuckDB reproduces it exactly). Pairs are generated
    * positionally (`substring(word, i, 1)`), so no split/explode of
    * the corpus text beyond the word-count pass. */
  def bpePairStats(spark: SparkSession, dir: String): DataFrame =
    wordCounts(Tables.documents(spark, dir))
      .where(length(col("word")) >= 2)
      .select(col("word"), col("wc"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(substring(col("word"), col("i"), lit(1)).as("left_sym"),
        substring(col("word"), col("i") + 1, lit(1)).as("right_sym"),
        col("wc"))
      .groupBy("left_sym", "right_sym")
      .agg(sum("wc").cast("long").as("pair_count"))

  val bpePairStatsSql: String =
    """WITH w AS (
      |  SELECT t.term AS word, COUNT(*) AS wc
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  WHERE length(t.term) > 0 GROUP BY 1),
      |p AS (
      |  SELECT substr(word, CAST(i AS INT), 1) AS left_sym,
      |         substr(word, CAST(i AS INT) + 1, 1) AS right_sym, wc
      |  FROM w, UNNEST(range(1, length(word))) AS r(i)
      |  WHERE length(word) >= 2)
      |SELECT left_sym, right_sym, CAST(SUM(wc) AS BIGINT) AS pair_count
      |FROM p GROUP BY 1, 2""".stripMargin

  /** Adjacent symbol-pair counts of the CURRENT `(syms, wc)` table
    * (vocabulary grain — runs once per merge round). */
  private def pairCounts(words: DataFrame): DataFrame =
    words.where(size(col("syms")) >= 2)
      .select(col("wc"),
        explode(sequence(lit(0), size(col("syms")) - 2)).as("i"),
        col("syms"))
      .select(element_at(col("syms"), col("i") + 1).as("l"),
        element_at(col("syms"), col("i") + 2).as("r"), col("wc"))
      .groupBy("l", "r").agg(sum("wc").as("pair_count"))

  /** One BPE merge applied to a symbol array at SYMBOL grain:
    * append, or fuse with the previous symbol when (previous, this)
    * == (l, r). Leftmost-greedy by construction — after a fusion the
    * new symbol `lr` can never pair with the next element as `l`
    * unless `lr == l`, exactly the reference semantics ("aaa" +
    * (a,a) → ["aa", "a"]). Symbols compare WHOLE, so a merge can
    * never fire on the tail of a longer symbol — the flat-string
    * replace defect this fold replaced. */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Distinct words as symbol arrays: (word, syms, wc). The original
    * word rides through the merge loop so the trainer's FINAL state is
    * also the encoded-vocabulary table. */
  private def charWords(docs: DataFrame): DataFrame =
    wordCounts(docs)
      .select(col("word"),
        filter(split(col("word"), ""), s => length(s) > 0).as("syms"),
        col("wc"))

  /** Train `nMerges` BPE merges. Returns (rank, left_sym, right_sym,
    * pair_count) in training order. The merge loop runs `nMerges`
    * vocabulary-sized jobs (pair partial-agg + 1-row take); the word
    * table is re-checkpointed each round so lineage stays O(1). Stops
    * early when every word is a single symbol. */
  def bpeTrainMerges(spark: SparkSession, dir: String,
      nMerges: Int = 16): Seq[(Int, String, String, Long)] =
    bpeTrainMergesOf(Tables.documents(spark, dir), nMerges)

  /** The trainer over ANY (text) frame — the planted-corpus spec
    * seam. */
  def bpeTrainMergesOf(docs: DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long)] =
    runTrain(docs, nMerges, keepWords = false)._1

  /** The merge loop. Each round applies ONE depth-1 [[applyMerge]] to
    * a checkpointed vocabulary-sized frame — never a nested fold
    * chain: 16 stacked `aggregate` lambdas re-evaluate their child
    * per element and went exponential-interpreted (measured 233 s at
    * sf1 where the per-round form is milliseconds). When `keepWords`,
    * the FINAL (word, syms, wc) state — the fully-encoded vocabulary —
    * is returned checkpointed instead of being freed, so encoding
    * needs no re-application of merges at all. */
  private def runTrain(docs: DataFrame, nMerges: Int, keepWords: Boolean)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var words = charWords(docs).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, c))
        val next = words
          .withColumn("syms", applyMerge(col("syms"), l, r))
          .localCheckpoint()
        org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(words)
        words = next
        rank += 1
      }
    }
    if (!keepWords)
      org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(words)
    (merges.toSeq, words)
  }

  /** The trained merge table as a DataFrame: (rank, left_sym,
    * right_sym, pair_count), nMerges rows. */
  def bpeMerges(spark: SparkSession, dir: String,
      nMerges: Int = 16): DataFrame = {
    import spark.implicits._
    bpeTrainMerges(spark, dir, nMerges)
      .toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** The fully-encoded vocabulary (word, syms, wc) — the trainer's own
    * final state, checkpointed: encoding a corpus never re-applies
    * merges. Bounded by the vocabulary. */
  def bpeWords(spark: SparkSession, dir: String,
      nMerges: Int = 16): DataFrame =
    runTrain(Tables.documents(spark, dir), nMerges, keepWords = true)._2

  /** Gate for the (non-SQL-expressible) iterative trainer. The first
    * three columns are a TRUE differential test — DuckDB recomputes
    * merge #1 as the argmax of the pair stats from scratch; the last
    * is a self-gate (best-pair counts are non-increasing over ranks:
    * a merge with count c can only create or keep pairs with count
    * ≤ c, so a violation means the loop recounted wrong). */
  def bpeMergesGate(spark: SparkSession, dir: String): DataFrame = {
    val m = bpeMerges(spark, dir)
    val first = m.where(col("rank") === 1)
      .select(col("left_sym").as("first_left"),
        col("right_sym").as("first_right"),
        col("pair_count").as("first_count"))
    val mono = m.as("a").join(m.as("b"),
        col("a.rank") + 1 === col("b.rank"))
      // coalesce: with a single learned merge the rank+1 self-join is
      // empty and min() would yield NULL where the oracle pins 1
      .agg(coalesce(
        min((col("a.pair_count") >= col("b.pair_count")).cast("int")),
        lit(1)).as("counts_nonincreasing"))
    first.crossJoin(mono)
  }

  val bpeMergesGateSql: String =
    """WITH w AS (
      |  SELECT t.term AS word, COUNT(*) AS wc
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      |  WHERE length(t.term) > 0 GROUP BY 1),
      |p AS (
      |  SELECT substr(word, CAST(i AS INT), 1) AS l,
      |         substr(word, CAST(i AS INT) + 1, 1) AS r, wc
      |  FROM w, UNNEST(range(1, length(word))) AS r(i)
      |  WHERE length(word) >= 2),
      |s AS (SELECT l, r, CAST(SUM(wc) AS BIGINT) AS pair_count
      |      FROM p GROUP BY 1, 2)
      |SELECT l AS first_left, r AS first_right,
      |       pair_count AS first_count, 1 AS counts_nonincreasing
      |FROM s ORDER BY pair_count DESC, l, r LIMIT 1""".stripMargin

  /** Encoded distinct words: (word, wc, encoded, n_tokens) — read
    * straight off the trainer's final state ([[bpeWords]]):
    * no merge is ever re-applied to encode, and the vocabulary table
    * is bit-identical to what training produced. (A foldLeft of
    * nMerges stacked `aggregate` lambdas was the first cut — nested
    * HOFs re-evaluate their child per element and went
    * exponential-interpreted, 233 s at sf1 for a vocabulary the
    * trainer walks in milliseconds per round.) */
  private def encodedWords(words: DataFrame): DataFrame =
    words
      .withColumn("encoded", array_join(col("syms"), SEP))
      .withColumn("n_tokens", size(col("syms")))

  /** Per-document BPE token pricing: whitespace tokens, BPE tokens,
    * chars — the tokens-per-doc accounting a budget-mixed pretraining
    * run needs, WITHOUT re-scanning text per merge: distinct words
    * encode once, then one broadcast join onto the (doc, word, tf)
    * frequencies and one doc_id partial-agg shuffle. */
  def bpeEncodeCounts(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeCountsFor(spark, dir, encodedWords(bpeWords(spark, dir)))

  private def bpeEncodeCountsFor(spark: SparkSession, dir: String,
      encoded: DataFrame): DataFrame = {
    val perWord = encoded
      .select(col("word").as("term"), col("n_tokens"),
        length(col("word")).as("n_chars_w"))
    // no broadcast hint: a production vocabulary is 10⁷ words — AQE
    // broadcasts while small, shuffle-joins on the natural key when not
    Terms.termFrequencies(Tables.documents(spark, dir))
      .join(perWord, "term")
      .groupBy("doc_id")
      .agg(sum(col("tf")).cast("long").as("n_tokens_ws"),
        sum(col("tf") * col("n_tokens")).cast("long").as("n_tokens_bpe"),
        sum(col("tf") * col("n_chars_w")).cast("long").as("n_chars_words"))
  }

  /** Encode gate. `total_ws` / `total_chars` are TRUE differential
    * columns (DuckDB recomputes both from the raw text); `bounds_ok`
    * (ws ≤ bpe ≤ chars for EVERY doc — merges only ever shrink the
    * char segmentation and can never go below one token per word) and
    * `decode_ok` (stripping separators from every encoded distinct
    * word reproduces the word exactly — encoding is a segmentation,
    * never a rewrite) are self-gates the constants pin. */
  def bpeEncodeGate(spark: SparkSession, dir: String): DataFrame = {
    // one training run feeds both the counts and the decode check
    val encoded = encodedWords(bpeWords(spark, dir))
    val counts = bpeEncodeCountsFor(spark, dir, encoded)
    val totals = counts.agg(
      sum("n_tokens_ws").cast("long").as("total_ws"),
      sum("n_chars_words").cast("long").as("total_chars"),
      min((col("n_tokens_ws") <= col("n_tokens_bpe") &&
        col("n_tokens_bpe") <= col("n_chars_words")).cast("int"))
        .as("bounds_ok"))
    val decode = encoded
      .agg(min((org.apache.spark.sql.functions.replace(
        col("encoded"), lit(SEP), lit("")) === col("word")).cast("int"))
        .as("decode_ok"))
    totals.crossJoin(decode)
  }

  val bpeEncodeGateSql: String =
    """WITH t AS (
      |  SELECT t.term FROM documents,
      |    UNNEST(string_split(text, ' ')) AS t(term)
      |  WHERE length(t.term) > 0)
      |SELECT CAST(COUNT(*) AS BIGINT) AS total_ws,
      |       CAST(SUM(length(term)) AS BIGINT) AS total_chars,
      |       1 AS bounds_ok, 1 AS decode_ok
      |FROM t""".stripMargin
}
