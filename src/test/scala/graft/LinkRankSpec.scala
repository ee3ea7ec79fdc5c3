package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LinkRank

class LinkRankSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Naive single-threaded reference: same integer-mass recurrence
    * over a Map, independent of every Spark operator the engine path
    * uses (join order, partial aggregation, left-join reinstatement). */
  private def naive(ids: Seq[Long], k: Int): Map[Long, Long] = {
    val exists = ids.toSet
    val edges = ids.flatMap { u =>
      Seq(u % 16, (u * 31 + 128) % 1024, (u * 31 + 255) % 1024,
        (u * 31 + 382) % 1024)
        .filter(v => v != u && exists(v)).map(v => (u, v))
    }
    val od = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    var mass = ids.map(_ -> 1000000L).toMap
    for (_ <- 1 to k) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => mass(u) * 85 / (100 * od(u)) }.sum
      }
      mass = ids.map(v => v -> (150000L + in.getOrElse(v, 0L))).toMap
    }
    mass
  }

  test("linkRank matches the naive integer-mass reference exactly") {
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq
    val want = naive(ids, 4)
    val got = LinkRank.linkRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("every node appears once; orphans sit at the base mass") {
    val df = LinkRank.linkRank(spark, dir)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(df.count() === n)
    assert(df.select(countDistinct("doc_id")).head.getLong(0) === n)
    assert(df.agg(min("mass")).head.getLong(0) === 150000L)
  }

  test("hub tier accumulates rank: a % 16 hub outranks the median") {
    val ranks = LinkRank.linkRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hubMax = (0L until 16L).flatMap(ranks.get).max
    val masses = ranks.values.toSeq.sorted
    val median = masses(masses.size / 2)
    assert(hubMax > 10 * median,
      s"hubMax=$hubMax median=$median — hub tier should dominate")
  }

  /** Naive trust-rank reference: same recurrence with seed-gated
    * init and teleport mass. */
  private def naiveTrust(rows: Seq[(Long, String)], seed: String,
      k: Int): Map[Long, Long] = {
    val ids = rows.map(_._1)
    val isSeed = rows.filter(_._2 == seed).map(_._1).toSet
    val exists = ids.toSet
    val edges = ids.flatMap { u =>
      Seq(u % 16, (u * 31 + 128) % 1024, (u * 31 + 255) % 1024,
        (u * 31 + 382) % 1024)
        .filter(v => v != u && exists(v)).map(v => (u, v))
    }
    val od = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    var mass = ids.map(v => v -> (if (isSeed(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to k) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => mass(u) * 85 / (100 * od(u)) }.sum
      }
      mass = ids.map(v => v ->
        ((if (isSeed(v)) 150000L else 0L) + in.getOrElse(v, 0L))).toMap
    }
    mass
  }

  test("trustRank matches the seed-gated naive reference exactly") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = naiveTrust(rows, "src0", 4)
    val got = LinkRank.trustRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("trust mass is zero exactly off the seed-reachable set") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = LinkRank.trustRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every node gets a row; seeds carry at least the teleport mass;
    // and the zero-mass set is nonempty on real data (some docs are
    // outside the seeds' 4-round out-neighborhood)
    assert(got.size === rows.size)
    val seeds = rows.filter(_._2 == "src0").map(_._1)
    assert(seeds.nonEmpty && seeds.forall(got(_) >= 150000L))
    assert(got.values.exists(_ == 0L),
      "expected some docs unreachable from the seed set in 4 rounds")
    // link rank would give every node >= base mass — trust rank's
    // zero tail is the spam-resistance property
    val lr = LinkRank.linkRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lr.values.forall(_ >= 150000L))
  }

  test("linkRankChurn reconciles against the two naive rank runs") {
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq
    val fresh = naive(ids, 4)
    val stale = naive(ids.filter(_ % 5 != 4), 4)
    def top20(m: Map[Long, Long]): Set[Long] =
      m.toSeq.sortBy { case (id, mass) => (-mass, id) }.take(20)
        .map(_._1).toSet
    val wantOverlap = (top20(fresh) intersect top20(stale)).size.toLong
    // keys is a Set — map on it would DEDUPLICATE equal deltas
    val wantDelta = stale.keys.toSeq
      .map(id => math.abs(fresh(id) - stale(id))).sum
    val row = LinkRank.linkRankChurn(spark, dir).collect().head
    assert(row.getLong(row.fieldIndex("n_common")) === stale.size.toLong)
    assert(row.getLong(row.fieldIndex("sum_abs_delta")) === wantDelta)
    assert(row.getLong(row.fieldIndex("top20_overlap")) === wantOverlap)
  }

  test("graphDegrees: buckets are pow2, totals reconcile, out <= 4") {
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val rows = LinkRank.graphDegrees(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every bucket is 0 or a power of two
    assert(rows.forall { case (_, b, _) =>
      b == 0L || java.lang.Long.bitCount(b) == 1 })
    // each side's histogram counts every document exactly once
    Seq("out", "in").foreach { s =>
      assert(rows.filter(_._1 == s).map(_._3).sum === n, s"side $s")
    }
    // out-degree is at most 4 by construction: no out bucket above 4
    assert(rows.filter(_._1 == "out").forall(_._2 <= 4))
    // the hub tier guarantees a fat in-bucket >= 16 at any SF >= 0.001
    assert(rows.filter(_._1 == "in").exists(_._2 >= 16))
  }

  test("iterations never re-shuffle the cached edge table (100 TB shape)") {
    // With broadcast off (a corpus-sized webgraph can't broadcast),
    // every per-iteration join must reuse the edge cache's
    // hash-partitioning on src: no ShuffleExchange may sit above an
    // InMemoryTableScan. Only the slim (doc_id, mass) frame moves.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = LinkRank.linkRank(spark, dir)
      val viaShuffle = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the final adaptive plan nests materialized stages — expand
      // QueryStageExec/AdaptiveSparkPlanExec to see inside them
      def expand(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case other => other.children
        }
        p +: kids.flatMap(expand)
      }
      val nodes = expand(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
        s"edge cache missing from the plan:\n${nodes.head}")
      // edge rows (recognizable by the od column) must never cross
      // the wire: every exchange carries either the rank frame or the
      // slim (dst, partial-sum) aggregate — both two-column frames
      val edgeExchanges = nodes.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.name == "od") => e
      }
      assert(edgeExchanges.isEmpty,
        s"edge rows re-shuffled ${edgeExchanges.size}x:\n${nodes.head}")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      spark.catalog.clearCache()
      val viaBroadcast = LinkRank.linkRank(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaShuffle === viaBroadcast)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      spark.catalog.clearCache()
    }
  }

  test("bucketed edge TABLE: no exchange or sort on the edge side in " +
    "any iteration, straight off the persisted files") {
    // The PLANS.md claim made real: at cluster scale the edge table
    // is bucketed-by-src parquet, and every iteration's src-join is
    // co-located off the FILES (not a session cache). With broadcast
    // off, the K-iteration plan must contain bucketed scans of the
    // table and NO shuffle carrying edge rows (od column); the rank
    // frame is the only thing that moves.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      LinkRank.writeBucketedEdges(spark, dir, "graft_edges_spec")
      val df = LinkRank.linkRankFromTable(spark, dir, "graft_edges_spec")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def expand(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case other => other.children
        }
        p +: kids.flatMap(expand)
      }
      val nodes = expand(df.queryExecution.executedPlan)
      val bucketedScans = nodes.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.bucketedScan => f
      }
      assert(bucketedScans.nonEmpty,
        s"no bucketed scan of the edge table in the plan:\n${nodes.head}")
      val edgeExchanges = nodes.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.name == "od") => e
      }
      assert(edgeExchanges.isEmpty,
        s"edge rows re-shuffled ${edgeExchanges.size}x:\n${nodes.head}")
      // sortBy(src) at write time eliminates the per-iteration edge
      // sort too — but ONLY under the opt-in conf: since Spark 3.0 a
      // bucketed scan does not report the written sort order unless
      // spark.sql.legacy.bucketedTableScan.outputOrdering is set (the
      // one-file-per-bucket condition is on us, and the aligned
      // repartition in writeBucketedEdges guarantees it). Assert the
      // layout actually delivers when the deployment flips the flag.
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val nodes2 = expand(LinkRank
        .linkRankFromTable(spark, dir, "graft_edges_spec")
        .queryExecution.executedPlan)
      val edgeSorts = nodes2.collect {
        case s: org.apache.spark.sql.execution.SortExec
          if s.output.exists(_.name == "od") => s
      }
      assert(edgeSorts.isEmpty,
        s"edge side re-sorted ${edgeSorts.size}x under the sorted-scan " +
          s"conf:\n${nodes2.head}")
      // and the persisted-table path is value-identical to linkRank
      val want = LinkRank.linkRank(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want)
    } finally {
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      spark.catalog.clearCache()
      spark.sql("DROP TABLE IF EXISTS graft_edges_spec")
    }
  }

  test("q_link_rank_bucketed rewrites its edge table when the catalog " +
    "no longer holds it") {
    val run = () => SparkEntry.queries("q_link_rank_bucketed")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = run()
    // a new application's catalog starts without the table
    val table = "graft_edges_b" + java.security.MessageDigest
      .getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    spark.sql(s"DROP TABLE `$table`")
    try assert(run() === first)
    finally spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  test("linkRankTop is the total-order head of the full frame") {
    val full = LinkRank.linkRank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, m) => (-m, id) }.take(20).toSeq
    val top = LinkRank.linkRankTop(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top === full)
  }
}
