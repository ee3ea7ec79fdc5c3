package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph document ranking — the crawl-quality axis of corpus
  * curation (PageRank, Page et al. 1999; link-centrality seed-list
  * ranking as used for crawl prioritization and quality weighting in
  * public web-corpus pipelines, e.g. harmonic-centrality host ranking
  * over Common Crawl's webgraph releases).
  *
  * A pre-training pipeline ranks pages by endorsement: a page many
  * reputable pages point at is kept/up-weighted, an orphan is
  * down-weighted. This module implements the power-iteration rank in
  * INTEGER MASS so the result is hash-exact across engines:
  *
  *   mass_0(v)   = 1_000_000
  *   mass_t+1(v) = 150_000 + Σ_{(u,v)∈E} (mass_t(u) * 85) div (100 * od(u))
  *
  * i.e. damping 0.85 with per-edge integer floor division. Integer
  * addition is associative-commutative, so partial-aggregation order
  * (Spark's nondeterministic combine order) cannot perturb the
  * result — the same discipline that makes [[Monitor.volumeAnomaly]]
  * z-scores exact. Floating-point PageRank would differ in the last
  * ulp between engines; integer mass makes the DuckDB oracle (K
  * unrolled contribution CTEs) a bit-exact differential proof.
  * Dangling mass (nodes whose candidates all fall outside the corpus)
  * is absorbed, not redistributed — documented deviation from the
  * stochastic-matrix form; rank ORDER is what curation consumes.
  *
  * The testdata has no hyperlink table, so edges are DERIVED from the
  * documents table's own keys (the [[graft.engine.RangeJoin]]
  * transit-interval discipline): each doc proposes 4 candidate
  * targets — `doc_id % 16` (a deliberate hub tier: low ids accumulate
  * in-degree ~n/16, the skew regime AQE's skew-join machinery exists
  * for) and three affine probes `(doc_id*31 + 127j + 1) % 1024`,
  * j=1..3 — kept when the target exists and differs from the source.
  * Candidate pairs keep multiplicity (a doc whose two probes collide
  * endorses twice); out-degree counts multiplicity, so mass is
  * conserved per edge either way.
  *
  * Scale shape (the part that survives 100 TB):
  *  - The edge table is built ONCE — one documents scan, a 4-way
  *    `posexplode`-free array explode below it, one existence
  *    semi-join — then persisted and re-used by all K iterations and
  *    the out-degree count. On a real cluster this is the
  *    bucketed-by-src webgraph table; here `.persist` stands in.
  *  - Each iteration moves only the SLIM rank frame (doc_id, mass):
  *    join on src (shuffle of n skinny rows), map-side-combined agg
  *    on dst, left join back to the node list to reinstate
  *    in-degree-0 nodes. Edges never re-shuffle after the build.
  *  - K is a constant (4): total cost is K linear passes — no
  *    convergence loop whose trip count depends on data values (a
  *    fixed-K schedule is what production link-rank jobs run too;
  *    convergence-to-epsilon is a float concept with no hash-exact
  *    meaning).
  *  - Mass is bounded by n·10⁶: BIGINT-safe beyond 10¹² docs.
  */
object LinkRank {

  private val Damp = 85L    // ×85 div 100 ≡ 0.85 damping, exact
  private val Base = 150000L
  private val Mass0 = 1000000L

  /** Derived edge table (src, dst, od) with multiplicity; od counts
    * multiplicity. The out-degree comes from a whole-partition window
    * over src, NOT a groupBy + join-back: the join form re-derives
    * the whole edge set for its aggregate side (two scans, two
    * semi-joins), while the window is one exchange over the built
    * edges — and it leaves the frame HASH-PARTITIONED ON src, so the
    * cached table reports that partitioning and every iteration's
    * src-join reuses it, shuffling only the slim rank frame.
    * Persisted — callers rely on the bench's clear-cache-per-run
    * discipline. */
  def derivedEdges(spark: SparkSession, dir: String): DataFrame =
    derivedEdgesFor(
      spark.read.parquet(s"$dir/documents.parquet"))

  /** Same edge derivation over an arbitrary (doc_id, …) corpus frame —
    * the churn gate builds yesterday's graph from a filtered corpus. */
  def derivedEdgesFor(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nodes = docs.select(col("doc_id"))
    val cand = docs.select(col("doc_id").as("src"), explode(array(
        col("doc_id") % 16,
        (col("doc_id") * 31 + 128) % 1024,
        (col("doc_id") * 31 + 255) % 1024,
        (col("doc_id") * 31 + 382) % 1024)).as("dst"))
      .where(col("dst") =!= col("src"))
    val e = cand.join(nodes.select(col("doc_id").as("dst")), Seq("dst"),
      "left_semi")
    // Width note (r18, measured): the od window's exchange runs at the
    // session shuffle width, and because the cached edge table anchors
    // every iteration's co-partitioned join, that width is pinned
    // across all K rounds — at tiny SFs the recurrence rides
    // core-count-wide exchanges (the 8-core-beats-32 inverse scaling).
    // TWO narrower-width mechanisms were tried and REJECTED because
    // both break the family's load-bearing invariant (LinkRankSpec:
    // edge rows never cross the wire after the build — at 100 TB a
    // per-job edge re-shuffle is the whole cost):
    //  - canChangeCachedPlanOutputPartitioning=true: AQE coalesces the
    //    cache materialization, the cache stops reporting a usable
    //    hash partitioning, and EnsureRequirements re-shuffles the
    //    EDGES above the cache every iteration;
    //  - an explicit data-proportional repartition(p, src) below the
    //    window: EnsureRequirements re-anchors the join at the session
    //    width anyway and shuffles the edges up to it (p = 1 is worse
    //    still — it plans as SinglePartition and loses the hash
    //    guarantee outright).
    // The session-width shape stands; the right production lever is
    // the bucketed table ([[writeBucketedEdges]]), which this sf-board
    // family also registers (q_link_rank_bucketed).
    e.withColumn("od", count(lit(1)).over(Window.partitionBy("src")))
  }

  /** Shared K-round recurrence: `nodes` carries per-node init mass
    * (m0) and per-node teleport mass (base); each round moves only
    * the slim (doc_id, mass) frame against the persisted edge table.
    * One linear DAG — no action between rounds, nothing recomputes. */
  private def powerIterate(nodes: DataFrame, e2: DataFrame,
      k: Int): DataFrame = {
    var ranks = nodes.select(col("doc_id"), col("m0").as("mass"))
    for (_ <- 1 to k) {
      val contrib = e2.join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst"),
          expr(s"(mass * $Damp) div (100 * od)").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      ranks = nodes.join(contrib.withColumnRenamed("dst", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("base") + coalesce(col("c"), lit(0L))).as("mass"))
    }
    ranks
  }

  /** [[linkRank]] over an arbitrary corpus frame. `release = true`
    * materializes the K-round result (localCheckpoint — an eager
    * unpersist under a still-lazy result would re-derive the edges
    * once per consumer, the lazy-fanout lesson) and then DROPS the
    * edge cache entry: CacheManager holds every `.persist` until an
    * explicit unpersist/clearCache, so a caller that runs the
    * recurrence more than once per session (the churn gate runs it
    * twice) must release or the edge caches accumulate. The
    * single-shot public queries keep the lazy default — their plan
    * is what LinkRankSpec asserts, and the repeated-use production
    * form is the persisted bucketed table ([[linkRankFromTable]]),
    * which caches nothing. */
  private def linkRankFor(docs: DataFrame, k: Int,
      release: Boolean = false): DataFrame = {
    val nodes = docs
      .select(col("doc_id"), lit(Mass0).as("m0"), lit(Base).as("base"))
    val e2 = derivedEdgesFor(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val out = powerIterate(nodes, e2, k)
    if (release) {
      // withFreshStats: the checkpoint leaf INHERITS the recurrence's
      // multiplicatively-exploded join estimates (the Components
      // BigInteger-planning lesson) — without the reset the churn
      // gate's downstream planning burns seconds of driver CPU
      // (measured 4.3 → 12.2 s at sf0.1 on the unwrapped form)
      val m = org.apache.spark.sql.graftbridge.Bridge.withFreshStats(
        out.localCheckpoint())
      e2.unpersist()
      m
    } else out
  }

  /** K rounds of damped integer-mass propagation over the derived
    * graph → (doc_id, mass). Hash-exact oracle: [[linkRankSql]]. */
  def linkRank(spark: SparkSession, dir: String, k: Int = 4): DataFrame =
    linkRankFor(spark.read.parquet(s"$dir/documents.parquet"), k)

  /** Seeded trust propagation (TrustRank, Gyöngyi/Garcia-Molina/
    * Pedersen VLDB 2004): the same damped integer-mass recurrence,
    * but init AND teleport mass live ONLY on a trusted seed set —
    * here the docs of one vetted source. Endorsement flows outward
    * from the seeds; a page unreachable from every seed ends at mass
    * 0 no matter how many spam pages point at it, which is exactly
    * the property that makes trust rank the spam-resistant axis of
    * crawl curation (in-degree alone is gameable; seeded reachability
    * is not). Same scale shape as [[linkRank]]: the seed flag is one
    * pushed equality filter in the node build, everything downstream
    * is the shared [[powerIterate]] plan. Hash-exact oracle:
    * [[trustRankSql]] (the unrolled CTEs with CASE seed masses). */
  def trustRank(spark: SparkSession, dir: String,
      seedSource: String = "src0", k: Int = 4): DataFrame = {
    val seedMass = when(col("source") === seedSource, lit(Mass0))
      .otherwise(lit(0L))
    val seedBase = when(col("source") === seedSource, lit(Base))
      .otherwise(lit(0L))
    val nodes = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), seedMass.as("m0"), seedBase.as("base"))
    val e2 = derivedEdges(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    powerIterate(nodes, e2, k)
  }

  /** Write the derived edge table BUCKETED BY src — the persisted
    * webgraph layout the in-memory `.persist` stands in for: a rank
    * job that starts from this table joins the rank frame against the
    * edges with NO exchange on the edge side in ANY of the K
    * iterations (the bucketing satisfies the SMJ's distribution
    * straight off the files; LinkRankSpec plan-asserts it). The
    * written sortBy(src) order additionally removes the per-iteration
    * edge SORT — under Spark's opt-in
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (off by
    * default since 3.0; the one-file-per-bucket precondition is
    * guaranteed by the aligned repartition below, and the spec
    * asserts the sort disappears with the flag on). On a cluster this
    * is the once-per-crawl layout cost that every downstream
    * rank/churn/trust job amortizes.
    *
    * `buckets` ≤ 0 (the default) uses the session's shuffle-partition
    * count — NOT a style choice: from iteration 2 on, the rank frame
    * arrives hash-partitioned at the shuffle-partition count, and
    * when that count differs from the bucket count EnsureRequirements
    * aligns the join by re-shuffling the EDGE side (measured: 4
    * buckets vs 8 shuffle partitions re-shuffled the edges in every
    * iteration after the first, and DisableUnnecessaryBucketedScan
    * then turned the bucketed read off entirely). Matching counts
    * keep every iteration exchange-free on the edge side. */
  def writeBucketedEdges(spark: SparkSession, dir: String, table: String,
      buckets: Int = 0): Unit = {
    val b = if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    writeBucketedEdgesN(spark, dir, table, b)
  }

  private def writeBucketedEdgesN(spark: SparkSession, dir: String,
      table: String, buckets: Int): Unit = {
    // a previous JVM's managed-table DIRECTORY survives the in-memory
    // catalog (which forgets the table itself) — saveAsTable then
    // refuses to adopt the orphan location. Drop both.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmr))
      f.delete(); ()
    }
    val loc = new java.io.File(wh, table.toLowerCase(java.util.Locale.ROOT))
    if (loc.exists()) rmr(loc)
    derivedEdges(spark, dir)
      // align writer partitions with buckets (same murmur3 key hash):
      // ONE file per bucket, which is the condition under which the
      // scan reports the written sort order and readers skip the
      // per-iteration edge sort entirely
      .repartition(buckets, col("src"))
      .write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .format("parquet")
      .saveAsTable(table)
  }

  /** [[linkRank]] powered by a persisted [[writeBucketedEdges]] table
    * instead of the session cache — same recurrence, same oracle. */
  def linkRankFromTable(spark: SparkSession, dir: String, table: String,
      k: Int = 4): DataFrame = {
    val nodes = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), lit(Mass0).as("m0"), lit(Base).as("base"))
    powerIterate(nodes, spark.table(table), k)
  }

  /** Registered form of the bucketed-table rank: writes the bucketed
    * edge table (dropping any previous one — the once-per-crawl layout
    * pass, paid by every call), then runs the K=4 recurrence off it.
    * Output is identical to [[linkRank]]; [[linkRankSql]] stays the
    * oracle. */
  def linkRankBucketed(spark: SparkSession, dir: String,
      k: Int = 4): DataFrame = {
    // md5 of the path, not hashCode: two dirs colliding on a 31-bit
    // hashCode would silently reuse the wrong edge table (same
    // convention as Ingest.storeTableName)
    val table = "graft_edges_b" + java.security.MessageDigest
      .getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    writeBucketedEdges(spark, dir, table)
    linkRankFromTable(spark, dir, table, k)
  }

  /** Top hubs by final mass, total order (mass desc, doc_id) —
    * TakeOrderedAndProject over the iterative result. */
  def linkRankTop(spark: SparkSession, dir: String, n: Int = 20): DataFrame =
    linkRank(spark, dir)
      .orderBy(col("mass").desc, col("doc_id"))
      .limit(n)

  /** Rank-staleness gate — the drift-gate discipline ([[Quantize]]'s
    * `q_ann_ivfpq_drift`) applied to the graph family. Production
    * link rank is recomputed on a schedule, and the operational
    * question is how fast yesterday's ranks rot as the crawl grows:
    * this gate ranks the STALE corpus (doc_id % 5 ≠ 4 — a
    * deterministic 80% "yesterday" snapshot), ranks the FRESH full
    * corpus, and reports (n_common, sum_abs_delta, top20_overlap) —
    * every metric integer, so the whole staleness measurement is
    * hash-exact against DuckDB running both 4-round recurrences from
    * scratch ([[linkRankChurnSql]] — the stale and fresh CTE chains
    * live in one statement under `s`/`f` prefixes). Both runs share
    * the [[powerIterate]] plan; the only extra shape is two top-20
    * TakeOrderedAndProject heads and two one-row aggregates
    * cross-joined into the gate row. Interpretation: high
    * top20_overlap with bounded sum_abs_delta ⇒ rank-consume jobs can
    * ride yesterday's table; a collapsing overlap is the signal to
    * recompute before consuming. */
  def linkRankChurn(spark: SparkSession, dir: String,
      k: Int = 4, topN: Int = 20): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the fresh and stale rank chains are independent eager
    // (checkpoint-terminated) recurrences — overlap them (guide §2.6)
    val (fresh, stale) = graft.core.Par.both(
      linkRankFor(docs, k, release = true),
      linkRankFor(docs.where(col("doc_id") % 5 =!= 4), k,
        release = true))
    val topF = fresh.orderBy(col("mass").desc, col("doc_id"))
      .limit(topN).select("doc_id")
    val topS = stale.orderBy(col("mass").desc, col("doc_id"))
      .limit(topN).select("doc_id")
    val overlap = topF.join(topS, "doc_id")
      .agg(count(lit(1)).as("top20_overlap"))
    val deltas = stale.select(col("doc_id"), col("mass").as("m_stale"))
      .join(fresh.select(col("doc_id"), col("mass").as("m_fresh")),
        "doc_id")
      .agg(count(lit(1)).as("n_common"),
        sum(abs(col("m_fresh") - col("m_stale"))).as("sum_abs_delta"))
    deltas.crossJoin(overlap)
  }

  /** Crawl-graph health profile — the observability row the rank
    * family is interpreted against: per-side degree histograms in
    * power-of-two buckets plus the dangling (out-degree 0) and orphan
    * (in-degree 0) counts. A fat orphan tail means rank mass can't
    * reach most of the corpus (trust rank would zero it); a dangling
    * spike means absorbed mass distorts the ordering. Everything is
    * counts over the edge list: two partial-agg shuffles at degree
    * cardinality, then histogram rows at log₂(max-degree) size —
    * constant in corpus volume. Buckets use the BIGINT power itself
    * (1,2,4,8,…; 0 for zero-degree) so both engines bucket with
    * integer compares, no floats/logs. Output: (side, bucket, n_docs)
    * with side ∈ {'out','in'}. */
  def graphDegrees(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nodes = docs.select(col("doc_id"))
    // REUSES [[derivedEdgesFor]] (the od column is a cheap window and
    // is dropped right here) so the health profile can never
    // desynchronize from the graph the rank family actually runs on —
    // a second inlined copy of the candidate formula is exactly how
    // an edge-derivation change would silently fork the two.
    val e = derivedEdgesFor(docs).select("src", "dst")
    // pow2 floor WITHOUT floats: floor(log2 d) = length(bin(d)) - 1
    // exactly, in both engines (log2-the-function is a hazard — Spark
    // computes it as an ln ratio, so floor(log2(8)) can land on 2)
    val bucket = expr(
      "CASE WHEN deg = 0 THEN 0L " +
        "ELSE shiftleft(1L, length(bin(deg)) - 1) END")
    def side(edges: DataFrame, key: String, name: String): DataFrame =
      nodes.join(edges.groupBy(col(key).as("doc_id"))
            .agg(count(lit(1)).as("deg")),
          Seq("doc_id"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("deg"))
        .select(lit(name).as("side"), bucket.as("bucket"))
        .groupBy("side", "bucket").agg(count(lit(1)).as("n_docs"))
    side(e, "src", "out").unionByName(side(e, "dst", "in"))
  }

  /** DuckDB oracle for [[graphDegrees]] — same bin-length bucketing,
    * integer end to end. */
  val graphDegreesSql: String =
    """WITH n AS (SELECT doc_id FROM documents),
      |cand AS (
      |  SELECT doc_id AS src, doc_id % 16 AS dst FROM n
      |  UNION ALL SELECT doc_id, (doc_id*31 + 128) % 1024 FROM n
      |  UNION ALL SELECT doc_id, (doc_id*31 + 255) % 1024 FROM n
      |  UNION ALL SELECT doc_id, (doc_id*31 + 382) % 1024 FROM n),
      |e AS (SELECT c.src, c.dst FROM cand c JOIN n ON n.doc_id = c.dst
      |      WHERE c.dst <> c.src),
      |degs AS (
      |  SELECT 'out' AS side,
      |         COALESCE(d.deg, 0) AS deg
      |  FROM n LEFT JOIN (SELECT src AS doc_id, COUNT(*) AS deg
      |                    FROM e GROUP BY 1) d USING (doc_id)
      |  UNION ALL
      |  SELECT 'in', COALESCE(d.deg, 0)
      |  FROM n LEFT JOIN (SELECT dst AS doc_id, COUNT(*) AS deg
      |                    FROM e GROUP BY 1) d USING (doc_id))
      |SELECT side,
      |       CAST(CASE WHEN deg = 0 THEN 0
      |            ELSE 1 << (length(bin(deg)) - 1)
      |            END AS BIGINT) AS bucket,
      |       COUNT(*) AS n_docs
      |FROM degs GROUP BY 1, 2""".stripMargin

  /** The K=4 unrolled recurrence as a DuckDB CTE chain (no leading
    * WITH — callers compose chains), parameterized by the per-node
    * init (`m0Expr`) and teleport (`baseExpr`) mass SQL (`n.*`
    * columns doc_id/source in scope for both), a CTE-name prefix `p`
    * (the churn gate holds a stale and a fresh chain in one
    * statement), and an optional corpus predicate. */
  private def graphCteBody(m0Expr: String, baseExpr: String,
      p: String = "", where: String = ""): String = {
    val w = if (where.isEmpty) "" else s" WHERE $where"
    def step(i: Int): String = {
      val prev = if (i == 1) s"${p}m0" else s"${p}m${i - 1}"
      s"""${p}c$i AS (SELECT e.dst, SUM((m.mass*85)//(100*e.od)) AS c
         |       FROM ${p}e2 e JOIN $prev m ON m.doc_id = e.src GROUP BY 1),
         |${p}m$i AS (SELECT n.doc_id, CAST($baseExpr + COALESCE(c.c, 0) AS BIGINT)
         |         AS mass
         |       FROM ${p}n n LEFT JOIN ${p}c$i c ON c.dst = n.doc_id)""".stripMargin
    }
    s"""${p}n AS (SELECT doc_id, source FROM documents$w),
       |${p}cand AS (
       |  SELECT doc_id AS src, doc_id % 16 AS dst FROM ${p}n
       |  UNION ALL SELECT doc_id, (doc_id*31 + 128) % 1024 FROM ${p}n
       |  UNION ALL SELECT doc_id, (doc_id*31 + 255) % 1024 FROM ${p}n
       |  UNION ALL SELECT doc_id, (doc_id*31 + 382) % 1024 FROM ${p}n),
       |${p}e AS (SELECT c.src, c.dst
       |      FROM ${p}cand c JOIN ${p}n n ON n.doc_id = c.dst
       |      WHERE c.dst <> c.src),
       |${p}od AS (SELECT src, COUNT(*) AS od FROM ${p}e GROUP BY 1),
       |${p}e2 AS (SELECT e.src, e.dst, od.od
       |       FROM ${p}e e JOIN ${p}od od USING (src)),
       |${p}m0 AS (SELECT doc_id, CAST($m0Expr AS BIGINT) AS mass
       |       FROM ${p}n n),
       |${(1 to 4).map(step).mkString(",\n")}""".stripMargin
  }

  private def graphCtes(m0Expr: String, baseExpr: String): String =
    "WITH " + graphCteBody(m0Expr, baseExpr)
  // The final CAST in each m_i pins BIGINT against DuckDB's
  // SUM→HUGEINT widening (the RangeJoin band-join lesson); the
  // comparison frame reads m4.mass, so only its type reaches pandas,
  // but the inner masses feed multiplications and stay value-exact
  // under HUGEINT anyway.

  /** DuckDB oracle for [[linkRank]] (K=4 unrolled). */
  val linkRankSql: String =
    graphCtes("1000000", "150000") + "\nSELECT doc_id, mass FROM m4"

  /** DuckDB oracle for [[linkRankTop]]. */
  val linkRankTopSql: String =
    graphCtes("1000000", "150000") +
      "\nSELECT doc_id, mass FROM m4 ORDER BY mass DESC, doc_id LIMIT 20"

  /** DuckDB oracle for [[trustRank]] (seed = src0). */
  val trustRankSql: String =
    graphCtes("CASE WHEN n.source = 'src0' THEN 1000000 ELSE 0 END",
      "CASE WHEN n.source = 'src0' THEN 150000 ELSE 0 END") +
      "\nSELECT doc_id, mass FROM m4"

  /** DuckDB oracle for [[linkRankChurn]]: both 4-round recurrences
    * from scratch in one statement (prefixes f/s), then the same
    * integer churn metrics. */
  val linkRankChurnSql: String =
    s"""WITH ${graphCteBody("1000000", "150000", "f")},
       |${graphCteBody("1000000", "150000", "s", "doc_id % 5 <> 4")},
       |ft AS (SELECT doc_id FROM fm4 ORDER BY mass DESC, doc_id LIMIT 20),
       |st AS (SELECT doc_id FROM sm4 ORDER BY mass DESC, doc_id LIMIT 20),
       |o AS (SELECT COUNT(*) AS top20_overlap FROM ft JOIN st USING (doc_id)),
       |d AS (SELECT COUNT(*) AS n_common,
       |             CAST(SUM(ABS(f.mass - s.mass)) AS BIGINT) AS sum_abs_delta
       |      FROM fm4 f JOIN sm4 s USING (doc_id))
       |SELECT d.n_common, d.sum_abs_delta, o.top20_overlap FROM d, o""".stripMargin
}
