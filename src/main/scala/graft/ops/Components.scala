package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Connected components over near-duplicate pair graphs — the step that
  * turns pairwise dedup output (LSH candidate pairs) into actual dedup
  * GROUPS. A near-dup relation is not transitive; real pipelines
  * cluster the pair graph and keep one survivor per component.
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round every node adopts the minimum component id among itself
  * and its neighbors (one shuffle join edges⋈labels + one min-agg),
  * then labels compress by THREE pointer-jumps (label := label(label),
  * self-joins of the small label table) that shortcut label chains.
  * Near-dup components are quasi-cliques (tiny diameter), so in
  * practice this converges in 2-4 rounds; adversarial path-like
  * graphs take ~diameter/k rounds (a 500-node random graph with long
  * filaments measured 33), which is why maxIter defaults to 100 and a
  * maxIter exit with labels still moving fails LOUDLY — the old
  * silent exit returned unmerged components, caught by the union-find
  * equivalence spec. Small edge sets (≤ `smallGraphEdges`) skip the
  * loop entirely for a single-task union-find over the edges —
  * bit-identical labels, none of the per-round fixed cost, any
  * diameter.
  *
  * Scale design (100 TB):
  *  - Every iteration shuffles only (node, component) longs — never
  *    text or signatures. The edge list is the LSH output, already
  *    candidate-pruned.
  *  - `localCheckpoint` after each round truncates the growing lineage
  *    (an unbounded iterative plan otherwise re-executes from the scan
  *    each round and eventually overwhelms the optimizer); on a real
  *    cluster this becomes `checkpoint` to reliable storage.
  *  - Convergence is detected by counting changed labels — a driver
  *    count per round, bounded by the O(log n) round count, not by
  *    data size.
  */
object Components {

  /** Connected components of an undirected graph. `nodes`: one column
    * `node`; `edges`: columns `src`, `dst` (one direction is enough).
    * Returns (node, component) where component = min node id reachable —
    * deterministic, so results are engine- and partitioning-invariant.
    *
    * PRECONDITION: `nodes` must contain every edge endpoint (nodes ⊇
    * src ∪ dst). Every caller in this engine passes the full id
    * universe, and the two physical paths below only agree under it:
    * an edge endpoint absent from `nodes` would still merge its two
    * neighbors in the union-find fast path (connectivity THROUGH the
    * unknown node) but drop that link in the iterative loop (the
    * label join finds no row for the unknown endpoint) — and neither
    * answer is meaningful for a node set that excludes referenced
    * nodes. The precondition keeps the fast-path/loop equivalence
    * unconditional (union-find equivalence spec, seeded 500-node
    * graph) without paying an edges⋉nodes semi-join per call. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 100, smallGraphEdges: Long = 4000000L): DataFrame = {
    // materialize the edge list ONCE, BEFORE symmetrizing — edges is
    // typically the tail of an expensive pair pipeline (shingle join /
    // LSH), and every iteration below consumes it. Checkpointing the
    // UNION (the pre-r18 shape) ran that pipeline TWICE: the swapped
    // (dst, src) projection makes the two union sides non-identical
    // subtrees, so ReuseExchange cannot dedupe them (measured: two
    // ~11 s scoring stages per q_dedup_clusters_portable run). The
    // union over the checkpointed edges is two block reads.
    val e0 = edges.select(col("src"), col("dst")).localCheckpoint()
    val sym = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
    // Small-graph fast path: near-dup edge sets are usually TINY
    // relative to the node set (most documents are singletons), and
    // the iterative loop below pays 2 joins + a checkpoint + a count
    // job PER ROUND — seconds of fixed cost that dominate small
    // inputs. When the materialized edge list fits one task, run
    // union-find over the EDGES ONLY in a single executor task
    // (never the driver, never the full node set — isolated nodes
    // need no computation: their component IS their id) and attach
    // the labels back with one broadcast join. Same min-reachable-id
    // contract, so the output is bit-identical to the loop's — the
    // threshold only picks the cheaper physical plan, exactly like
    // AQE picking a broadcast join. At 100 TB the edge count check is
    // a count on already-materialized blocks, and a graph past the
    // threshold (e.g. the 24M-edge 1M-vector stress) takes the
    // distributed loop unchanged.
    val nEdges = sym.count()
    if (nEdges > 0 && nEdges <= smallGraphEdges) {
      val spark = nodes.sparkSession
      import spark.implicits._
      val labels = sym.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) {
              val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
            }
            r
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          // min reachable id per root IS the min root after union by
          // min: emit every edge-touched node with its root's label.
          // Keys are snapshotted first — find() path-compresses (value
          // updates) while we iterate.
          val ks = parent.keys.toArray
          ks.iterator.map(n => (n, find(n)))
        }
        .toDF("node", "component")
        // eager: the union-find task must consume e0's blocks BEFORE
        // they are freed below (the result is ≤ 2·nEdges slim rows)
        .localCheckpoint()
      org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(e0)
      // the labels broadcast is bounded by the SAME gate that admitted
      // the fast path: ≤ 2·smallGraphEdges slim (node, component)
      // rows, and the driver just held every edge in the union-find
      // map — if that fit, this fits. The node side is corpus-sized,
      // so the broadcast direction is forced.
      return nodes.select(col("node"))
        .join(broadcast(labels), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("component"), col("node")).as("component"))
    }
    var labels = org.apache.spark.sql.graftbridge.Bridge.withFreshStats(
      nodes.select(col("node"), col("node").as("component"))
        .localCheckpoint())
    // superseded iterations release their blocks EAGERLY: without the
    // explicit unpersist every round's full label table stays pinned
    // in the block manager until GC+ContextCleaner catch up — at 24M
    // edges that retention, not the working set, was the measured
    // memory ceiling (SCALE.md, the 1M SemDeDup run)
    var prevCkpt = labels
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // min component among neighbors (one shuffle on dst, one on src)
      val nbrMin = sym
        .join(labels.select(col("node").as("dst"),
          col("component").as("nbr_comp")), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("nbr_comp").as("nbr_comp"))
      // the previous label rides along as `old` so the convergence
      // check below reads the checkpointed frame directly — no extra
      // join-back per round
      val adopted = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("component"),
            coalesce(col("nbr_comp"), col("component"))).as("component"),
          col("component").as("old"))
      // pointer jumps: component := component(component), applied
      // THREE times per round — repeated squaring, so each round
      // compresses pointer chains 8× and convergence is exponential
      // in rounds even on path-like graphs. (A single jump per round
      // is only ~2 hops of progress — a high-diameter random graph
      // exposed exactly that: the loop hit maxIter and silently
      // returned unmerged labels until the loud require below and
      // the extra jumps landed. Near-dup quasi-cliques never noticed:
      // they converge in 2-4 rounds either way.) Extra jumps never
      // change the fixed point — min-reachable labels are unique —
      // they only reach it sooner, so results are oracle-invariant.
      // Each jump materializes before the next plans against it:
      // nesting the self-joins in ONE plan sends Catalyst's
      // size-stats product into million-digit BigIntegers (measured:
      // the stats visitor, not the data, was the bottleneck). The
      // frames are (node, component, old) longs — materializing is
      // cheap at any scale this loop reaches.
      def jump(f: DataFrame): DataFrame =
        f.join(f.select(col("node").as("component"),
          col("component").as("parent")), Seq("component"), "left")
          .select(col("node"),
            least(col("component"),
              coalesce(col("parent"), col("component"))).as("component"),
            col("old"))
      // withFreshStats on every checkpoint: localCheckpoint copies the
      // replaced plan's size statistics onto the checkpoint node, and
      // join-size estimation MULTIPLIES them — across rounds the
      // carried estimate compounds exponentially until Catalyst's
      // stats visitor is doing hundred-megabit BigInteger math
      // (measured: round 7 took 196 s of pure driver CPU before this;
      // see Bridge.withFreshStats)
      val temps = scala.collection.mutable.Buffer.empty[DataFrame]
      var cur = org.apache.spark.sql.graftbridge.Bridge
        .withFreshStats(adopted.localCheckpoint())
      temps += cur
      for (_ <- 0 until 3) {
        val nxt = org.apache.spark.sql.graftbridge.Bridge
          .withFreshStats(jump(cur).localCheckpoint())
        temps += nxt
        cur = nxt
      }
      val jumped = cur
      changed = jumped.where(col("component") =!= col("old")).count()
      // jumped is materialized (eager checkpoint) — the previous
      // round's blocks and this round's intermediate jumps are
      // unreachable now; free them
      org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(prevCkpt)
      temps.dropRight(1).foreach(
        org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint)
      prevCkpt = jumped
      labels = jumped.select("node", "component")
      iter += 1
    }
    // a maxIter exit with changes pending would return silently WRONG
    // labels (unmerged components) — fail loudly instead; the caller
    // can raise maxIter, and convergence is exponential in rounds
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still changing) — raise maxIter")
    // the edge list is dead once the labels converge
    org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(e0)
    labels
  }

  /** Exact-duplicate collapse before pair generation — the
    * exact-dedup-first discipline applied INSIDE the clustering ops.
    *
    * Near-dup candidate stages (shingle equi-join, LSH band join) are
    * quadratic in the size of each identical-text clique: a text
    * repeated m times contributes m²/2 bucket pairs in EVERY bucket it
    * lands in. Measured at the 20× stress corpus (duplicate
    * multiplicity ~80 after replication): the exact-Jaccard pair stage
    * alone was 196 s at 10× and the composed governance 906 s at 20× —
    * 4.1× for 2× data, all of it the m² term.
    *
    * The collapse is output-invariant, not approximate:
    *  - every near-dup decision (Jaccard, minhash, simhash) is a pure
    *    function of the two raw texts, so testing one REPRESENTATIVE
    *    per distinct text decides every member pair identically;
    *  - connectivity through a duplicate is preserved by a star edge
    *    duplicate→representative (identical texts are Jaccard-1
    *    near-dups by definition, so they belong in one component);
    *  - the component label is the min reachable doc_id, and each
    *    clique's min-id member IS its representative, so labels —
    *    hence survivor sets — are unchanged (hash-gated oracle rows
    *    prove this every round).
    *
    * Shuffle discipline: the collapse shuffles (md5, doc_id) pairs
    * only — text stays in the scan; representatives re-attach text by
    * an id semi-join against the original frame.
    *
    * Returns (representative docs, star edges). */
  private def collapseExact(docs: DataFrame): (DataFrame, DataFrame) = {
    val slim = docs.select(col("doc_id"), md5(col("text")).as("xfp"))
    val reps = slim.groupBy("xfp").agg(min("doc_id").as("rep_id"))
    val repDocs = docs.join(
      reps.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val stars = slim.join(reps, "xfp")
      .where(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("src"), col("doc_id").as("dst"))
    (repDocs, stars)
  }

  /** Near-dup components over the EXACT n-gram Jaccard pairs — the
    * oracle form (deterministic; DuckDB computes the same closure with
    * a recursive CTE). Every document appears; singletons are their own
    * component. Pair generation runs on exact-dup representatives only
    * ([[collapseExact]] — identical output, the m² clique term gone).
    *
    * [[connectedComponents]] checkpoints the edges and the labels
    * before it returns, so a query that derives several views from
    * the result (survivors, splits, audits) re-reads labels, never
    * the pair pipeline. Nothing is cached across queries: every call
    * labels the documents `dir` holds now. */
  def nearDupComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir).select("doc_id", "text")
    val (reps, stars) = collapseExact(docs)
    val edges = Dedup.ngramJaccardPairsFor(reps)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(docs.select(col("doc_id").as("node")),
        edges.unionByName(stars))
      .select(col("node").as("doc_id"), col("component"))
  }

  /** The component closure as a reusable CTE chain ending in
    * `comp(doc_id, component)` — the cluster-grain split family
    * composes further CTEs on top of it. */
  val nearDupComponentsCte: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
      |       FROM t, UNNEST(range(1, len(toks)-1)) AS u(i)
      |       WHERE len(toks) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |p AS (SELECT doc_a, doc_b FROM c
      |      JOIN sz x ON c.doc_a = x.doc_id JOIN sz y ON c.doc_b = y.doc_id
      |      WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) >= 0.5),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM p
      |      UNION SELECT doc_b, doc_a FROM p),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
      |),
      |comp AS (SELECT src AS doc_id, MIN(dst) AS component
      |         FROM reach GROUP BY src)""".stripMargin

  val nearDupComponentsSql: String =
    s"WITH RECURSIVE $nearDupComponentsCte\n" +
      "SELECT doc_id, component FROM comp"

  /** The scale path: same clustering over the MinHash+LSH candidate
    * pairs (rows-only — xxhash64 seeds aren't portable to the oracle;
    * equivalence to the exact-pair clustering is asserted in OpsSpec). */
  def lshDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // deliberately NOT spread: xxhash64 signatures are cheap enough
    // that the scan-stage win (~0.5 s) loses to the spread's extra
    // per-job overhead in the CC tail (measured 2.67 vs 1.92 s at
    // sf0.1); the md5 twin below keeps the spread (16 md5s/shingle
    // dominate: 3.9 vs 5.9 s)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val (reps, stars) = collapseExact(docs)
    val edges = Dedup.minhashLshPairsFor(reps)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(docs.select(col("doc_id").as("node")),
        edges.unionByName(stars))
      .select(col("node").as("doc_id"), col("component"))
  }

  /** The production dedup flow proven END-TO-END: connected components
    * over the portable-hash MinHash+LSH pairs — sketch, band, bucket
    * join, candidate verify, AND clustering all hash-match DuckDB in
    * one composed query (the xxhash64 LSH clusters stay the fast
    * path; this twin differs only in the hash function). */
  def lshDedupClustersPortable(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir).select("doc_id", "text")
    val (reps, stars) = collapseExact(docs)
    val edges = Dedup.minhashLshPairsPortableFor(reps)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(docs.select(col("doc_id").as("node")),
        edges.unionByName(stars))
      .select(col("node").as("doc_id"), col("component"))
  }

  val lshDedupClustersPortableSql: String = {
    // COMPOSED from the shared portable-LSH CTE body (ends in `lshp`)
    s"""WITH RECURSIVE ${Dedup.portableLshCteBody},
       |e AS (SELECT doc_a AS a, doc_b AS b FROM lshp
       |      UNION SELECT doc_b, doc_a FROM lshp),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
       |)
       |SELECT src AS doc_id, MIN(dst) AS component
       |FROM reach GROUP BY src""".stripMargin
  }

  /** The end-user deliverable: the cleaned corpus. Near-dup components
    * subsume exact dedup (exact duplicates have Jaccard 1 and land in
    * one component), so keeping each component's minimum doc_id yields
    * the corpus with BOTH exact and near duplicates removed — one
    * semi-join against the survivor set. */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .join(dedupNearSurvivors(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")

  val cleanCorpusSql: String =
    s"""WITH RECURSIVE $nearDupComponentsCte
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id IN (SELECT MIN(doc_id) FROM comp GROUP BY component)""".stripMargin

  /** Survivors after near-dup clustering: one document (min doc_id) per
    * component — the rows a training pipeline would keep. */
  def dedupNearSurvivors(spark: SparkSession, dir: String): DataFrame =
    nearDupComponents(spark, dir)
      .groupBy("component")
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_members"))
      .select("doc_id", "component", "n_members")

  val dedupNearSurvivorsSql: String =
    s"""WITH RECURSIVE $nearDupComponentsCte
       |SELECT MIN(doc_id) AS doc_id, component, COUNT(*) AS n_members
       |FROM comp GROUP BY component""".stripMargin

  /** Quality-aware survivor selection: per near-dup component, keep
    * the BEST document — highest stopword ratio (the fluency proxy of
    * [[TextStats.qualityScores]]), doc_id ascending tie-break — not
    * the arbitrary min-id of [[dedupNearSurvivors]]. This is what
    * production dedup actually ships: near-duplicate clusters usually
    * contain one clean copy and N boilerplate-wrapped or truncated
    * ones, and keeping the first-seen id throws away the clean copy
    * whenever it arrived late.
    *
    * Plan: the checkpointed component labels join the per-doc quality
    * scalar (both (doc_id, few-columns) frames), then ONE shuffle by
    * component runs both window functions (the argmax row_number and
    * the n_members count share the partitioning). The ratio is
    * exact-int/exact-int → one IEEE division, hash-portable; ties
    * inside a clique of identical copies fall to doc_id, so the
    * output is deterministic on any partitioning. */
  def bestQualitySurvivors(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextStats.stopwordRatio(col("text")).as("stopword_ratio"))
    val wRank = Window.partitionBy("component")
      .orderBy(col("stopword_ratio").desc, col("doc_id"))
    val wSize = Window.partitionBy("component")
    nearDupComponents(spark, dir)
      .join(quality, "doc_id")
      .withColumn("r", row_number().over(wRank))
      .withColumn("n_members", count(lit(1)).over(wSize))
      .where(col("r") === 1)
      .select("doc_id", "component", "n_members", "stopword_ratio")
  }

  val bestQualitySurvivorsSql: String = {
    val stop = TextStats.enStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE $nearDupComponentsCte,
       |q AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS stopword_ratio
       |  FROM documents)
       |SELECT doc_id, component, n_members, stopword_ratio FROM (
       |  SELECT comp.doc_id, comp.component, q.stopword_ratio,
       |         ROW_NUMBER() OVER (PARTITION BY comp.component
       |           ORDER BY q.stopword_ratio DESC, comp.doc_id) AS r,
       |         COUNT(*) OVER (PARTITION BY comp.component) AS n_members
       |  FROM comp JOIN q ON comp.doc_id = q.doc_id)
       |WHERE r = 1""".stripMargin
  }
}
