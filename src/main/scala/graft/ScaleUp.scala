package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Session, Tables}

/** Deterministic ×`mult` replication of a provisioned testdata dir —
  * the input for the one-decade-up bench (BENCH_full_latest_sf1.json):
  * per-query scaling exponents measured mechanically on the full
  * registered surface, not only through the per-operator stress
  * harnesses. The provisioned dirs stop at sf0.1; this derives the
  * next decade FROM them (never regenerating, never touching
  * /root/testdata) with every FK domain kept consistent:
  *
  *  - each key domain gets its own stride = max(key)+1 from the data,
  *    shared across referencing tables (orders.o_custkey moves with
  *    customer.c_custkey; events.user_id lives in the custkey domain;
  *    embeddings.vec_id lives in the doc_id domain), so every join in
  *    the registered queries scales both sides 10× without dangling
  *    or newly-crossing keys;
  *  - `region`/`nation` stay fixed — they are the bounded dimension
  *    tables of the star schema (TPC-H semantics: sf scales facts);
  *  - `documents` texts decorrelate at TOKEN grain (rep 0 verbatim):
  *    every whitespace token gets a 2-char base-36 rep marker
  *    appended. Within one rep the transform is a pure function of
  *    the token, so planted duplicate/near-duplicate pairs keep their
  *    exact shingle structure (both sides transform identically);
  *    across reps every word n-gram differs, so cross-rep Jaccard is
  *    0 and per-shingle frequency stays CONSTANT per decade. The r10
  *    `suffix` mode (one trailing token per rep) left ~94% of word
  *    shingles shared across reps — the scaled corpus became one
  *    (mult·clique)-sized near-dup clique per base doc and every
  *    shingle-join query's OUTPUT grew ∝ mult² (the "109× true work
  *    per decade" SCALE.md triage) — a generator artifact, not an
  *    engine property. `decorr` (the default) makes decade ratios
  *    measure the ENGINE; pass `suffix` as the 4th arg for the
  *    legacy clique-inflation corpus. Char k-grams interior to
  *    tokens longer than k still share across reps under `decorr`
  *    (winnowing-grain overlap is real corpus behavior, not a join
  *    blow-up: hot short tokens all carry markers). n_chars tracks
  *    the new length (the generator's n_chars = length(text)
  *    invariant);
  *  - `embeddings` get the per-rep deterministic sign-flip (the
  *    StressSem decorrelated-copy construction, rep 0 verbatim):
  *    norm-preserving, and within-rep pairwise cosines are EXACTLY
  *    preserved (both sides of a pair flip the same coordinates), so
  *    the planted near-dup structure replicates with the data;
  *  - `events` keep their time range (sf scaling densifies a fixed
  *    window, the TPC-H convention — group counts hold, group sizes
  *    scale) and are written TIMESTAMP_MICROS so [[Tables.events]]'
  *    footer detection round-trips. The derived `ts_ns` column is
  *    dropped before the write (rederived on read); for a
  *    NANOS-encoded source the scaled copy is micros-truncated —
  *    sub-microsecond bits do not survive the TIMESTAMP_MICROS
  *    rewrite, so ts_ns-grain comparisons only hold within one dir.
  *
  * Run: `sbt "runMain graft.ScaleUp /tmp/sf1 10 /root/testdata/sf0.1"`
  * (optionally ` decorr|suffix` as the 4th arg).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val src = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val textMode = args.lift(3).getOrElse("decorr")
    require(textMode == "decorr" || textMode == "suffix",
      s"text mode must be decorr|suffix, got $textMode")
    val spark = Session.build(32,
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    spark.sparkContext.setLogLevel("ERROR")

    def maxKey(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L
    val custStride = maxKey(Tables.customer(spark, src), "c_custkey")
    val orderStride = maxKey(Tables.orders(spark, src), "o_orderkey")
    val partStride = maxKey(Tables.part(spark, src), "p_partkey")
    val suppStride = maxKey(Tables.supplier(spark, src), "s_suppkey")
    val eventStride = maxKey(Tables.events(spark, src), "event_id")
    val docStride = maxKey(Tables.documents(spark, src), "doc_id")
    println(s"[scaleup] strides cust=$custStride order=$orderStride " +
      s"part=$partStride supp=$suppStride event=$eventStride doc=$docStride")

    val reps = spark.range(mult).toDF("rep")
    def scaled(df: DataFrame)(keys: (String, Long)*): DataFrame =
      keys.foldLeft(df.crossJoin(reps)) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("rep") * stride)
      }
    def write(df: DataFrame, name: String): Unit = {
      df.drop("rep").write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scaleup] wrote $name")
    }

    // bounded dimensions: verbatim
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(scaled(Tables.customer(spark, src))(
      "c_custkey" -> custStride), "customer")
    write(scaled(Tables.supplier(spark, src))(
      "s_suppkey" -> suppStride), "supplier")
    write(scaled(Tables.part(spark, src))(
      "p_partkey" -> partStride), "part")
    write(scaled(Tables.orders(spark, src))(
      "o_orderkey" -> orderStride, "o_custkey" -> custStride), "orders")
    write(scaled(Tables.lineitem(spark, src))(
      "l_orderkey" -> orderStride, "l_partkey" -> partStride,
      "l_suppkey" -> suppStride), "lineitem")
    // drop the derived ts_ns before writing: Tables.events rederives
    // it on read, and persisting it would both waste bytes and — for
    // a NANOS-encoded source — silently truncate (the written ts is
    // micros, so a persisted ts_ns rederived from it loses the
    // sub-microsecond bits the source carried)
    write(scaled(Tables.events(spark, src))(
      "event_id" -> eventStride, "user_id" -> custStride)
      .drop("ts_ns"), "events")

    // token-grain decorrelation: marker is a pure function of rep,
    // appended to every token — within-rep shingle structure is
    // preserved exactly, cross-rep word n-grams never collide. The
    // marker alphabet is [0-9a-z] (lower-case base 36, 2 chars,
    // distinct per rep < 1296) so it absorbs into the token without
    // introducing new whitespace/punctuation boundaries.
    val mark = lpad(lower(conv(col("rep").cast("string"), 10, 36)), 2, "0")
    val scaledText = textMode match {
      case "decorr" =>
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, mark)))
      case "suffix" =>
        concat(col("text"), lit(" r"), col("rep").cast("string"))
    }
    write(scaled(Tables.documents(spark, src))(
      "doc_id" -> docStride)
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(scaledText))
      .withColumn("n_chars", length(col("text"))), "documents")

    write(scaled(Tables.embeddings(spark, src))(
      "vec_id" -> docStride)
      .withColumn("embedding",
        expr("""transform(embedding, (x, i) ->
                 IF(rep = 0, x,
                    IF((shiftright(xxhash64(rep), pmod(i, 63)) & 1) = 1,
                       -x, x)))""")), "embeddings")

    spark.stop()
  }
}
