package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.ops.{Dedup, Multimodal, Similarity, TextStats}

class OpsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // ----- custom DotProduct expression -----

  test("DotProduct computes correctly and handles nulls") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0))
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.dot(col("a"), col("b")))
      .as[Double].collect()
    assert(got.toSeq === Seq(32.0, 0.0))
    val withNull = df.select(VectorFunctions.dot(
      when(lit(false), col("a")), col("b"))).collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("DotProduct stays inside whole-stage codegen") {
    // LocalTableScan alone skips codegen; use a range-backed plan
    val df = spark.range(4).select(
      array(col("id").cast("double"), lit(2.0)).as("a"),
      array(lit(3.0), lit(4.0)).as("b"))
    val plan = df.select(VectorFunctions.dot(col("a"), col("b")).as("d"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [dotproduct"), plan)
  }

  test("LshSignature equals the per-plane dot composition bit-for-bit " +
    "and stays inside whole-stage codegen") {
    val numTables = 3
    val bits = 5
    val dim = 8
    val rng = new scala.util.Random(99)
    val planes: Seq[Seq[Seq[Double]]] = Seq.fill(numTables)(
      Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian())))
    val flat = planes.flatten
    val vecs = Seq.fill(50)(Seq.fill(dim)(rng.nextGaussian()))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "vec")
    // old composition: one when(dot(vec, plane-literal) >= 0, 1<<b)
    // per plane, OR-reduced per table
    val tableCols = planes.map { ps =>
      (0 until bits).map { b =>
        val plane = array(ps(b).map(lit): _*)
        when(VectorFunctions.dot(col("vec"), plane) >= 0.0,
          shiftleft(lit(1), b)).otherwise(lit(0))
      }.reduce((x, y) => x.bitwiseOR(y))
    }
    val old = vecs.select(col("vec_id"), array(tableCols: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val got = vecs.select(col("vec_id"),
        VectorFunctions.lshSignature(col("vec"), typedLit(flat), bits)
          .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(got === old)
    // and the single-expression form is codegen'd (range-backed plan)
    val cg = spark.range(4)
      .select(array(col("id").cast("double"),
        lit(1.0), lit(2.0), lit(3.0), lit(4.0), lit(5.0), lit(6.0),
        lit(7.0)).as("vec"))
      .select(VectorFunctions.lshSignature(col("vec"), typedLit(flat), bits))
      .queryExecution.executedPlan.toString
    assert(cg.contains("*(1) Project [lshsignature"), cg)
  }

  test("AdcScore equals the aggregate/zip_with/element_at composition " +
    "and handles nulls") {
    val df = Seq(
      (Array(0, 2, 1),
        Array(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0),
          Array(7.0, 8.0, 9.0))),
      (Array(1, 0, 0),
        Array(Array(0.5, -1.0), Array(2.0, 3.0), Array(-4.0, 1.0)))
    ).toDF("codes", "lut")
    val got = df.select(VectorFunctions.adcScore(col("codes"), col("lut"))
      .as("s")).as[Double].collect()
    val viaHof = df.select(
      aggregate(zip_with(col("codes"), col("lut"),
        (c, l) => element_at(l, c + 1)), lit(0d), _ + _).as("s"))
      .as[Double].collect()
    assert(got.toSeq === viaHof.toSeq)
    assert(got.toSeq === Seq(1.0 + 6.0 + 8.0, -1.0 + 2.0 - 4.0))
    val withNull = df.select(VectorFunctions.adcScore(
      when(lit(false), col("codes")), col("lut"))).collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("AdcScore stays inside whole-stage codegen") {
    val df = spark.range(4).select(
      array((col("id") % 2).cast("int"), lit(0)).as("codes"),
      array(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("lut"))
    val plan = df.select(VectorFunctions.adcScore(col("codes"), col("lut"))
      .as("s")).queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [adcscore"), plan)
  }

  test("cosine of identical vectors is 1") {
    val df = Seq(Tuple1(Array(3.0, 4.0))).toDF("v")
    val c = df.select(VectorFunctions.cosine(col("v"), col("v")))
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  // ----- dedup -----

  test("minhash LSH finds all exact-Jaccard pairs on this corpus (recall)") {
    val exact = Dedup.ngramJaccardPairs(spark, sf, tau = 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf, tau = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0
      else exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall; exact=$exact lsh=$lsh")
  }

  test("connected components: chain, star, singleton, min-label result") {
    // chain 1-2-3-4 (diameter 3 — exercises pointer jumping), star
    // 10-{11,12,13}, singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 20L).toDF("node")
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (12L, 10L), (10L, 13L)).toDF("src", "dst")
    val got = graft.ops.Components.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L))
  }

  test("connected components: small-graph union-find path is " +
    "bit-identical to the iterative loop on a seeded random graph") {
    // the fast path must be a pure physical-plan choice — same
    // min-reachable-id labels as the distributed loop, every node
    // present, isolated nodes labeled with their own id
    val rng = new scala.util.Random(7)
    val n = 500
    val nodes = (0L until n.toLong).toDF("node")
    val edges = Seq.fill(300)(
      (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val fast = graft.ops.Components.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val loop = graft.ops.Components.connectedComponents(nodes, edges,
        smallGraphEdges = 0L) // force the iterative path (33 rounds here)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast === loop)
    assert(fast.size === n)
    // label is the min member of each component
    fast.groupBy(_._2).foreach { case (comp, members) =>
      assert(comp === members.keys.min) }
  }

  test("connected components: the smallGraphEdges threshold boundary " +
    "picks a physical plan, never a result") {
    // the threshold compares against the SYMMETRIZED edge count (2E);
    // run the same graph exactly at the boundary (fast path) and one
    // below it (iterative loop) — labels must be identical, or the
    // threshold would silently switch semantics, not plans
    val rng = new scala.util.Random(11)
    val n = 200
    val nodes = (0L until n.toLong).toDF("node")
    val edgeSeq = Seq.fill(120)(
      (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val edges = edgeSeq.toDF("src", "dst")
    val symCount = 2L * edgeSeq.size
    val atBoundary = graft.ops.Components.connectedComponents(nodes, edges,
        smallGraphEdges = symCount) // == threshold → union-find task
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val belowBoundary = graft.ops.Components.connectedComponents(nodes, edges,
        smallGraphEdges = symCount - 1) // one edge too many → the loop
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(atBoundary === belowBoundary)
    assert(atBoundary.size === n)
  }

  test("LSH dedup clusters equal exact-pair clusters on this corpus") {
    // LSH recall is 1.0 here (asserted above), so clustering the LSH
    // pair graph must reproduce the exact components
    val exact = graft.ops.Components.nearDupComponents(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.ops.Components.lshDedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === lsh)
    // survivors: one per component, component = min member
    val surv = graft.ops.Components.dedupNearSurvivors(spark, sf)
    assert(surv.where(col("doc_id") =!= col("component")).count() === 0)
    // one survivor per distinct component
    assert(surv.count() === exact.map(_._2).size.toLong)
  }

  test("PII redaction replaces emails/urls/ips/phones and counts match") {
    val df = Seq(
      (1L, "mail me at jane.doe+x@example.co.uk or visit https://ex.com/a?b=1 now"),
      (2L, "server 10.0.255.3 called +1 415-555-0199 twice: +44 20 7946 0958"),
      (3L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val byId = df.select(col("doc_id"),
      graft.ops.Redact.redact(col("text")).as("clean"),
      regexp_count(col("text"), lit(graft.ops.Redact.emailRe))
        .cast("long").as("n_emails"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(byId(1L)._1 === "mail me at <EMAIL> or visit <URL> now")
    assert(byId(2L)._1 === "server <IP> called <PHONE> twice: <PHONE>")
    assert(byId(3L)._1 === "nothing sensitive here")
    assert(byId(1L)._2 === 1L)
  }

  test("incremental dedup: new batch deduped against history store") {
    val docs = Seq(
      (1L, "alpha beta", "hist"), (2L, "gamma delta", "hist"),
      (10L, "alpha beta", "new"),   // dup of history → dropped
      (11L, "epsilon zeta", "new"), // fresh → kept
      (12L, "epsilon zeta", "new"), // self-dup in batch → collapsed to 11
      (13L, "eta theta", "new")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val history = docs.where(col("source") === "hist")
      .select(graft.ops.TextStats.fingerprint(col("text")).as("fp"))
    val kept = graft.ops.Dedup.dedupAgainstHistory(
      docs.where(col("source") === "new"), history)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L))
  }

  test("compaction coalesces a many-file directory to the target count") {
    val src = tempDir("graft-compact-in")
    // 8 separate appends → at least 8 part files in one directory
    (0 until 8).foreach { i =>
      graft.core.Tables.orders(spark, sf).limit(500)
        .withColumn("batch", lit(i))
        .coalesce(1)
        .write.mode("append").parquet(src)
    }
    val out = tempDir("graft-compact-out") + "/data"
    val n = graft.ops.Compaction.compact(spark, src, out, targetBytes = 1L << 40)
    assert(n === 1)
    val files = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files === 1, s"expected 1 part file, got $files")
    assert(spark.read.parquet(out).count() ===
      spark.read.parquet(src).count())
  }

  test("media ANN: duplicate payloads rank first with cosine 1") {
    // exact-duplicate texts → identical payloads → identical stub
    // features → the dup must be its twin's top neighbor
    import graft.ops.Multimodal.MediaRow
    val payloads = (0L until 10L).map { i =>
      val bytes =
        if (i == 5L) "identical payload zero".getBytes("UTF-8")
        else if (i == 0L) "identical payload zero".getBytes("UTF-8")
        else s"distinct payload number $i with filler ${"x" * i.toInt}"
          .getBytes("UTF-8")
      MediaRow(i, "image", bytes, 64, 64, 16000)
    }
    val media = spark.createDataset(payloads)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val topk = graft.ops.Multimodal.mediaAnn(media, numQueries = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(topk.contains((0L, 5L, 1)),
      s"dup 5 not rank-1 neighbor of 0: ${topk.toSeq}")
    // deterministic across runs
    val again = graft.ops.Multimodal.mediaAnn(media, numQueries = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(topk.toSet === again.toSet)
  }

  test("HLL sketch rollup: merged daily sketches estimate monthly " +
    "distincts within band, without rescanning events") {
    val daily = graft.ops.Sketches.dailyUserSketches(spark, sf).cache()
    val monthly = graft.ops.Sketches.monthlyDistinctFromDaily(daily)
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2))).toSeq
    // exact monthly distincts straight from raw events
    val exact = graft.core.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        date_trunc("month", to_date(col("ts"))).cast("date").as("month"))
      .agg(count_distinct(col("user_id")).as("exact_n"))
      .collect().map(r => ((r.getString(0), r.getDate(1).toString),
        r.getLong(2))).toMap
    assert(monthly.nonEmpty)
    monthly.foreach { case (et, m, est) =>
      val ex = exact((et, m))
      // lgConfigK=12 → ~1.6% RSE; allow 3 sigma + discreteness
      assert(math.abs(est - ex) <= math.max(2.0, ex * 0.05),
        s"sketch rollup $est vs exact $ex for ($et, $m)")
    }
    // the point of mergeable sketches is PERSISTENCE: binary buffers
    // round-trip through parquet and still union identically
    val store = tempDir("graft-sketch-store") + "/daily"
    daily.write.mode("overwrite").parquet(store)
    val reloaded = graft.ops.Sketches
      .monthlyDistinctFromDaily(spark.read.parquet(store))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2))).toSet
    assert(reloaded === monthly.toSet,
      "sketch union differs after parquet round-trip")
    daily.unpersist()
  }

  test("KLL sketch rollup: merged daily sketches bracket monthly " +
    "quantiles within rank band") {
    val monthly = graft.ops.Sketches
      .monthlyValueQuantiles(spark, sf)
      .collect().map(r => ((r.getString(0), r.getDate(1).toString),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(monthly.nonEmpty)
    // rank check: fraction of raw values ≤ estimate must bracket the
    // target quantile within KLL rank error (~1.3%) + discreteness
    val events = graft.core.Tables.events(spark, sf)
      .select(col("event_type"),
        date_trunc("month", to_date(col("ts"))).cast("date").as("month"),
        col("value"))
      .collect()
      .map(r => ((r.getString(0), r.getDate(1).toString), r.getDouble(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    monthly.foreach { case (k, (q50, q99)) =>
      val vs = events(k); val n = vs.length.toDouble
      val tol = 0.013 * 3 + 2.0 / n
      def rank(q: Double): Double = vs.count(_ <= q) / n
      assert(rank(q50) >= 0.5 - tol && vs.count(_ < q50) / n <= 0.5 + tol,
        s"q50 rank ${rank(q50)} outside band for $k")
      assert(rank(q99) >= 0.99 - tol && vs.count(_ < q99) / n <= 0.99 + tol,
        s"q99 rank ${rank(q99)} outside band for $k")
    }
  }

  test("content-hash split: dup-consistent and partitioning-invariant") {
    val split = graft.ops.Mix.trainTestSplit(spark, sf)
    // exact duplicates must land on the same side (same content hash)
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.ops.TextStats.fingerprint(col("text")).as("fp"))
    val sidesPerFp = docs.join(split, "doc_id")
      .groupBy("fp").agg(count_distinct(col("split")).as("n_sides"))
    assert(sidesPerFp.where(col("n_sides") > 1).count() === 0,
      "duplicate content split across train/test")
    // partitioning must not change the assignment (no rand(), no ids)
    val repartitioned = graft.ops.Mix
      .trainTestSplit(spark, sf).repartition(7)
    assert(split.exceptAll(repartitioned).count() === 0)
    // both sides populated at a plausible 90/10
    val n = split.count().toDouble
    val train = split.where(col("split") === "train").count().toDouble
    assert(train / n > 0.8 && train / n < 0.97, s"train frac ${train / n}")
  }

  test("clusterBalancedSample: partitioning-invariant and gate-green") {
    val a = Similarity.clusterBalancedSample(spark, sf)
    val b = Similarity.clusterBalancedSample(spark, sf).repartition(5)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    val gate = Similarity.clusterBalancedSampleGate(spark, sf).collect().head
    assert(gate.getInt(0) === 1, "not every vector labeled exactly once")
    assert(gate.getInt(1) === 1, "per-cell selected != min(quota, size)")
    assert(gate.getInt(2) === 1, "max topic share not flattened")
  }

  test("volumeAnomaly: z matches a brute-force trailing window and " +
    "never uses the current day") {
    val got = graft.ops.Monitor.volumeAnomaly(spark, sf).collect()
      .map(r => ((r.getString(0), r.getDate(1).toString),
        (r.getLong(2), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          r.getLong(6)))).toMap
    // brute force from raw events
    val daily = graft.core.Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, day, n), i) =>
        val trail = sorted.slice(math.max(0, i - 7), i).map(_._3)
        val (gN, gZ, gFlag) = got((et, day))
        assert(gN === n)
        if (trail.length >= 3) {
          val mean = trail.sum.toDouble / trail.length
          val variance =
            trail.map(x => x.toDouble * x).sum / trail.length - mean * mean
          if (variance > 0) {
            val z = (n - mean) / math.sqrt(variance)
            assert(gZ.isDefined && math.abs(gZ.get - z) < 1e-9,
              s"z mismatch $et $day: got $gZ want $z")
            assert(gFlag === (if (math.abs(z) > 3.0) 1L else 0L))
          } else assert(gZ.isEmpty && gFlag === 0L)
        } else {
          assert(gZ.isEmpty, s"z emitted with ${trail.length} trailing days")
          assert(gFlag === 0L)
        }
      }
    }
  }

  test("CMS: estimate dominates exact count, sketch is constant-size " +
    "and merge-invariant") {
    val hh = graft.ops.Sketches.cmsHeavyHitters(spark, sf).collect()
    assert(hh.nonEmpty)
    hh.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"),
        s"CMS underestimated ${r.getAs[Long]("user_id")}")
    }
    // sketch bounded by depth x width regardless of data volume
    val sk = graft.ops.Sketches.mergedCmsSketch(spark, sf)
    assert(sk.count() <= 4L * 256)
    // merging the monthly grain == building globally (bucket sums)
    val direct = graft.core.Tables.events(spark, sf)
      .select(col("user_id"))
    val total = graft.ops.Sketches.mergedCmsSketch(spark, sf)
      .agg(sum("cnt")).as[Long].head()
    assert(total === direct.count() * 4, "merge lost or duplicated mass")
  }

  test("CMS width auto-scales with key cardinality; heavy-hitter " +
    "error honors the eps*N contract at both regimes") {
    import graft.ops.Sketches
    // planted regime: key 0 is the heavy hitter (20% of mass), keys
    // 1..n are singletons — a decade of cardinality growth
    def mkEvents(nKeys: Long, heavyReps: Long) =
      spark.range(1, nKeys + 1).select(col("id").as("user_id"))
        .unionByName(spark.range(heavyReps)
          .select(lit(0L).as("user_id")))
    // scala twin of the portable bucket hash (md5("j:key") low 8 hex)
    def bucket(j: Int, key: Long, w: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(24, 32), 16) % w
    }
    for ((nKeys, heavy, wantW) <- Seq((2000L, 500L, 256L),
      (20000L, 5000L, 4096L))) {
      val ev = mkEvents(nKeys, heavy)
      val w = Sketches.cmsWidthOf(ev)
      assert(w === wantW, s"width at $nKeys keys")
      val sk = Sketches.cmsSketchFor(ev).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val est = (0 until 4)
        .map(j => sk.getOrElse((j, bucket(j, 0L, w)), 0L)).min
      val n = nKeys + heavy
      assert(est >= heavy, "CMS must never underestimate")
      // d=4 rows, expected overcount N/w per row; 3x slack on the min
      assert(est - heavy <= math.max(1L, 3L * n / w),
        s"overcount ${est - heavy} beyond the eps*N band at n=$n w=$w")
    }
  }

  test("persisted CMS store: HLL-fed width, FROZEN across epoch " +
    "appends; merged estimates == from-scratch at the frozen width") {
    import graft.ops.Sketches
    val store = tempDir("graft-cms-store") + "/cms"
    // epoch 1: the sf events table, width sized from its HLL rollup
    val w1 = Sketches.buildCmsStore(spark, sf, store)
    // HLL sizing lands within one pow2 step of the exact-count width
    val exactW = Sketches.cmsWidthOf(
      graft.core.Tables.events(spark, sf).select("user_id"))
    assert(w1 >= exactW / 2 && w1 <= exactW * 2,
      s"HLL-fed width $w1 vs exact-count width $exactW")
    // epoch 2: a 10x-cardinality month — fresh sizing would re-widen
    val ep2 = spark.range(1000000L, 1040000L)
      .select(lit(java.sql.Date.valueOf("2031-01-01")).as("month"),
        col("id").as("user_id"))
    val w2 = Sketches.cmsWidthFromHll(
      ep2.agg(hll_sketch_agg(col("user_id")).as("user_sketch")))
      .head().getLong(0)
    assert(w2 > w1, s"epoch 2 should want a wider sketch ($w2 vs $w1)")
    // ...but the append FREEZES the store's width
    Sketches.appendEpochToCmsStore(spark, ep2, store)
    val storedW = spark.read.parquet(store).select("w").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(storedW === Seq(w1), "append must not re-widen the store")
    // merged store == from-scratch sketch of (epoch1 UNION epoch2) at
    // the frozen width: append + sum-merge is estimate-invariant
    val union = graft.core.Tables.events(spark, sf).select("user_id")
      .unionByName(ep2.select("user_id"))
    val want = Sketches.cmsSketchAtWidth(union, w1).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Sketches.cmsStoreMerged(spark, store).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got === want)
    // a store that somehow holds two widths fails loudly on append
    spark.read.parquet(store).limit(1)
      .withColumn("w", lit(w1 * 2))
      .write.mode("append").parquet(store)
    intercept[IllegalArgumentException] {
      Sketches.appendEpochToCmsStore(spark, ep2, store)
    }
  }

  test("clusterSplit: component-consistent, zero near-dup leakage, " +
    "partitioning-invariant") {
    val split = graft.ops.Mix.clusterSplit(spark, sf).cache()
    // every member of a component is on the same side
    val comp = graft.ops.Components.nearDupComponents(spark, sf)
    val sidesPerComp = comp.join(split, "doc_id")
      .groupBy("component").agg(count_distinct(col("split")).as("n_sides"))
    assert(sidesPerComp.where(col("n_sides") > 1).count() === 0,
      "component split across train/test")
    // zero leakage over the SAME pair set that defines the components
    val audit = graft.ops.Mix.clusterSplitAudit(spark, sf).collect()
    assert(audit.forall(_.getAs[Long]("leak_pairs") === 0L))
    // every doc assigned exactly once, deterministically
    assert(split.count() ===
      graft.core.Tables.documents(spark, sf).count())
    val repartitioned = graft.ops.Mix.clusterSplit(spark, sf).repartition(7)
    assert(split.exceptAll(repartitioned).count() === 0)
    split.unpersist()
  }

  test("dedupIncrementalBloom: bloom screen is result-invariant vs " +
    "the plain anti-join, including at a forced-collision fpp") {
    val plain = Dedup.dedupIncremental(spark, sf)
    val bloomed = Dedup.dedupIncrementalBloom(spark, sf)
    assert(plain.exceptAll(bloomed).count() === 0)
    assert(bloomed.exceptAll(plain).count() === 0)
    // tiny filter → most fresh rows bloom-positive → the exact
    // confirm path does the work; output still identical
    val docs = graft.core.Tables.documents(spark, sf)
    val history = docs.where(!col("source").isin("src0", "src1"))
      .select(graft.ops.TextStats.fingerprint(col("text")).as("fp"))
      .distinct()
    val noisy = Dedup.dedupAgainstHistoryBloom(
      docs.where(col("source").isin("src0", "src1")), history,
      expectedItems = 2, fpp = 0.5)
    assert(plain.exceptAll(noisy).count() === 0)
    assert(noisy.exceptAll(plain).count() === 0)
  }

  test("sharded bloom screen ≡ plain anti-join, incl. null texts and " +
    "the persisted store") {
    // registry-scale differential: 8-shard screen vs from-scratch
    val plain = Dedup.dedupIncremental(spark, sf)
    val sharded = Dedup.dedupIncrementalBloomSharded(spark, sf)
    assert(plain.exceptAll(sharded).count() === 0)
    assert(sharded.exceptAll(plain).count() === 0)

    // every history-dedup entry point returns the same survivors on a
    // crafted batch: null texts (null fp rows take the exact confirm
    // path and survive as in the unscreened anti-join), in-batch dups,
    // and a duplicate doc_id carrying two texts
    val docs = Seq(
      (1L, "alpha beta", "hist"), (2L, null, "hist"),
      (10L, "alpha beta", "new"), // dup of history → dropped
      (11L, null, "new"),         // null fp → kept (null matches nothing)
      (12L, "fresh one", "new"),
      (13L, "fresh one", "new"),  // in-batch dup of 12 → dropped
      // one doc_id, two texts: the history dup is dropped, the fresh
      // text kept
      (14L, "gamma delta", "new"), (14L, "alpha beta", "new"),
      // one doc_id, two fresh texts: 16 is the min id of "eps one", so
      // both of its rows survive — the oracle's `doc_id IN (SELECT
      // MIN(doc_id) … GROUP BY fp)` keys on doc_id alone
      (16L, "eps one", "new"), (16L, "fresh one", "new")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(coalesce(col("text"), lit(""))))
    val hist = docs.where(col("source") === "hist")
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
    val batch = docs.where(col("source") === "new")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("doc_id").cast("long"), col("n_chars").cast("long"))
        .as[(Long, Long)].collect().toSeq.sorted
    val exact = rows(Dedup.dedupAgainstHistory(batch, hist))
    assert(exact === Seq((11L, 0L), (12L, 9L), (14L, 11L), (16L, 7L), (16L, 9L)))
    assert(rows(Dedup.dedupAgainstHistoryBloom(batch, hist,
      expectedItems = 2, shards = 1)) === exact)
    assert(rows(Dedup.dedupAgainstHistoryBloom(batch, hist,
      expectedItems = 4, shards = 4)) === exact)
    assert(rows(Dedup.dedupAgainstHistoryBloom(batch, hist,
      expectedItems = 2, fpp = 0.5)) === exact)

    // persisted stores: the fp store plus a filter store built once,
    // screened from the store's own rows (sizing stats ride in the
    // store — zero corpus actions), at its count and at shards = 0
    // (the store's own count)
    val base = tempDir("graft-bloom-store")
    graft.streaming.Ingest.appendToStore(spark, s"$base/fps", hist)
    Dedup.buildBloomStore(hist, s"$base/bloom", shards = 4,
      itemsPerShard = 4,
      coversEpoch = graft.streaming.Ingest.storeEpoch(spark, s"$base/fps"))
    for (n <- Seq(4, 0))
      assert(rows(Dedup.dedupAgainstIngestStore(spark, batch, s"$base/fps",
        s"$base/bloom", shards = n)) === exact, s"shards = $n")
    assert(rows(graft.streaming.Ingest.ingestBatch(batch,
      graft.streaming.Ingest.readStore(spark, s"$base/fps"))) === exact)
    assert(rows(graft.streaming.Ingest.ingestBatchScreened(spark, batch,
      s"$base/fps", s"$base/bloom")) === exact)
    def verdicts(n: Int): Set[(Long, String, Boolean)] =
      Dedup.screenAgainstBloomStore(spark, batch, s"$base/bloom", shards = n)
        .select("doc_id", "fp", "__maybe").as[(Long, String, Boolean)]
        .collect().toSet
    assert(verdicts(0) === verdicts(4))
    intercept[IllegalArgumentException] { verdicts(2) }

    // a store holding SEVERAL filter rows for one shard (torn or
    // duplicated write) screens against their UNION — taking only the
    // first row would let the other filters' dups slip through as
    // false "new". Two half-histories built separately, rows unioned
    // into one store dir, everything on shard 0 (shards = 1 routes
    // all fps there).
    val histA = docs.where(col("doc_id") === 1L)
      .select(TextStats.fingerprint(col("text")).as("fp"))
    val histB = Seq("fresh one").toDF("text")
      .select(TextStats.fingerprint(col("text")).as("fp"))
    val base2 = tempDir("graft-bloom-torn")
    Dedup.buildBloomStore(histA, s"$base2/a", shards = 1, itemsPerShard = 4)
    Dedup.buildBloomStore(histB, s"$base2/b", shards = 1, itemsPerShard = 4)
    spark.read.parquet(s"$base2/a")
      .unionByName(spark.read.parquet(s"$base2/b"))
      .write.parquet(s"$base2/torn")
    val maybes = Dedup.screenAgainstBloomStore(spark, batch,
      s"$base2/torn", shards = 1)
      .select(col("doc_id"), col("__maybe")).as[(Long, Boolean)]
      .collect().toMap
    assert(maybes(10L), "dup of filter-row A must stay bloom-positive")
    assert(maybes(12L), "dup of filter-row B must stay bloom-positive")
    assert(maybes(11L), "null fp routes to the confirm path")
  }

  test("corpusMix: repeat counts honor integer+fractional weights, " +
    "dropped sources vanish, epochs are dense from 0") {
    val mix = graft.ops.Mix.corpusMix(spark, sf).cache()
    val perDoc = mix.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"), max("epoch").as("max_e"),
        min("epoch").as("min_e")).collect()
    perDoc.foreach { r =>
      val (src, n) = (r.getString(1), r.getLong(2))
      src match {
        case "src0" => assert(n == 2L || n == 3L, s"src0 repeats $n") // 2.5
        case "src1" => assert(n == 1L, s"src1 repeats $n")            // 0.4
        case "src2" => fail("src2 has weight 0 and must not appear")
        case _      => assert(n == 1L, s"$src repeats $n")            // 1.0
      }
      // epochs are 0..n-1 per doc
      assert(r.getLong(4) === 0L && r.getLong(3) === n - 1)
    }
    // weight-0 source really dropped; fractional sources partially kept
    val srcs = perDoc.map(_.getString(1)).toSet
    assert(!srcs.contains("src2") && srcs.contains("src0"))
    // partitioning-invariant (content hash, no rand())
    val repartitioned = graft.ops.Mix.corpusMix(spark, sf).repartition(7)
    assert(mix.exceptAll(repartitioned).count() === 0)
    mix.unpersist()
  }

  test("corpusMix: exact duplicate texts get identical multiplicity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same exact text", "en", "srcA", 15L),
      (2L, "same exact text", "en", "srcA", 15L),
      (3L, "different text here", "en", "srcA", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-mix")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val counts = graft.ops.Mix
      .corpusMix(spark, dir, Map("srcA" -> 150), defaultPct = 100)
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts(1L) === counts(2L),
      "identical content must repeat identically")
    assert(counts.values.forall(n => n == 1L || n == 2L))
  }

  test("tokenBudgetMix: achieved tokens land near each source's " +
    "budget; dropped source vanishes; repeats bounded by the cap") {
    val audit = graft.ops.Mix.tokenBudgetMixAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(audit.length === 20)
    val perDocMax = graft.core.Tables.documents(spark, sf)
      .groupBy("source")
      .agg(max(size(graft.ops.TextStats.wsTokens(col("text"))))
        .cast("long").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    audit.foreach { case (src, budget, achieved) =>
      if (budget == 0L) assert(achieved === 0L, s"$src achieved tokens")
      else {
        // integer-weight floor: achieved ∈ (budget - src_total/100 -
        // one doc, budget + one doc) — loose band: within 25% + 2 docs
        val slack = budget / 4 + 2 * perDocMax(src)
        assert(math.abs(achieved - budget) <= slack,
          s"$src achieved $achieved vs budget $budget (slack $slack)")
      }
    }
    // epoch fan-out respects the cap (wp <= 1000 → repeats <= 10)
    val maxRepeats = graft.ops.Mix.tokenBudgetMix(spark, sf)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .agg(max("n")).head.getLong(0)
    assert(maxRepeats <= 10L, s"repeat cap violated: $maxRepeats")
  }

  test("corpusMixSummary reconciles with the exploded mix") {
    val mix = graft.ops.Mix.corpusMix(spark, sf)
    val fromMix = mix.groupBy("source")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val summary = graft.ops.Mix.corpusMixSummary(spark, sf).collect()
    assert(summary.length === 20, "every source appears in the audit")
    summary.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(3) === fromMix.getOrElse(src, 0L),
        s"summary n_rows mismatch for $src")
      assert(r.getLong(1) === 25L)
      if (src == "src2") assert(r.getLong(3) === 0L)
    }
  }

  test("minhash_sketch aggregate is bit-identical to 64 min-agg columns") {
    val docs = graft.core.Tables.documents(spark, sf)
    val viaColumns = Dedup.minhashSignatures(docs)
    val viaSketch = Dedup.minhashSignaturesSketch(docs)
    assert(viaColumns.count() === viaSketch.count())
    assert(viaColumns.exceptAll(viaSketch).count() === 0)
    // SQL registration path
    graft.functions.MinHashSketch.register(spark)
    Dedup.shingles(docs, 3).createOrReplaceTempView("sh_test")
    val viaSql = spark.sql(
      "SELECT doc_id, minhash_sketch(shingle) AS minhash FROM sh_test GROUP BY doc_id")
    assert(viaSql.exceptAll(viaSketch).count() === 0)
  }

  test("simhash of identical texts is identical; hamming 0") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "x y z w q r")).toDF("doc_id", "text")
    val sigs = Dedup.simhashDocs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("exact dedup keeps one survivor per duplicated text") {
    val docs = Seq((10L, "same text here", "en", "s1", 14L),
      (11L, "same text here", "en", "s2", 14L),
      (12L, "other text", "en", "s1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("tmp_docs")
    val fp = TextStats.fingerprint(col("text"))
    val groups = docs.groupBy(fp.as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .collect()
    assert(groups.length === 2)
    assert(groups.find(_.getLong(2) === 2L).get.getLong(1) === 10L)
  }

  // ----- similarity -----

  test("LSH near-dup pairs are a subset of exact pairs (precision 1.0)") {
    val exact = Similarity.nearDupPairsExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-near-dup pairs: ${lsh.diff(exact)}")
    val recall = if (exact.isEmpty) 1.0
      else exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("lshAutoBits: gate SFs keep the historical 6 bits (outputs " +
    "unchanged); bucket occupancy stays flat as the corpus decades up") {
    // the provisioned dirs (200 / 2k vectors) must keep their exact
    // pre-auto-tune structure — the floor pins them
    assert(Similarity.lshAutoBits(200) === 6)
    assert(Similarity.lshAutoBits(2000) === 6)
    // past the floor, expected occupancy n / 2^bits stays in [16, 32]
    for (n <- Seq(20000L, 200000L, 2000000L, 1000000000L)) {
      val occ = n.toDouble / (1L << Similarity.lshAutoBits(n))
      assert(occ <= 32.0 && occ > 16.0, s"occupancy $occ at n=$n")
    }
  }

  test("brute-force top-k returns k ranked neighbors per query") {
    val topk = Similarity.bruteForceTopK(spark, sf, numQueries = 3, k = 5)
    val rows = topk.collect()
    assert(rows.length === 15)
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq === (1 to 5))
    }
  }

  test("IVF ANN recall vs brute force is high at the default nprobe=14/16") {
    val exact = Similarity.bruteForceTopK(spark, sf, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sf, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall too low")
  }

  test("ivfRecall gate: aggregate recall >= 0.9 (the q_ann_ivf_recall " +
    "driver row) and a 0.8 per-query floor") {
    val perQ = Similarity.ivfRecallPerQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(perQ.length === 10)
    perQ.foreach { case (q, hits) =>
      assert(hits >= 8L, s"query $q IVF hits $hits below the 0.8 floor")
    }
    val gate = Similarity.ivfRecall(spark, sf).collect()
    assert(gate.length === 1)
    assert(gate(0).getLong(0) === 10L)
    assert(gate(0).getInt(1) === 1, "aggregate IVF recall below 0.9")
  }

  test("nprobeAuto: pinned at both measured points, capped at cells, " +
    "and the auto budget recovers recall where fixed-14 coverage " +
    "collapses") {
    // formula pins — the 16-cell gate default (bit-identical gates)
    // and the StressDrift sweep point that bought +0.07-0.19 recall
    // are both reproduced exactly; budget never exceeds the cell
    // count; coverage decays at scale (3.5% at 10k cells)
    assert(Similarity.nprobeAuto(16) === 14)
    assert(Similarity.nprobeAuto(141) === 42)
    assert(Similarity.nprobeAuto(8) === 8)
    assert(Similarity.nprobeAuto(10000) === 350)
    // second cell scale: provision 4× the gate's cells on the same
    // corpus. Fixed-14 coverage falls 87% → 22% and recall sags; the
    // auto budget (28/64) must at least restore it — the measured
    // defect shape the auto-tune exists to close.
    val exact = Similarity.bruteForceTopK(spark, sf, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(spark, sf, numQueries = 10, k = 10,
        cells = 64, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val fixed14 = recallAt(14)
    val auto = recallAt(0)
    assert(auto >= fixed14,
      s"auto budget recall $auto below fixed-14's $fixed14 at 64 cells")
    assert(auto >= 0.7, s"auto budget recall $auto below band at 64 cells")
  }

  test("incremental LSH store: new batch finds near-dups in history " +
    "without rescanning it") {
    val store = tempDir("graft-lsh-store") + "/store"
    val history = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").limit(50).cache()
    graft.ops.Dedup.buildLshStore(spark, history, store)
    // new batch: one exact copy of history doc 3 (new id), one fresh doc
    val dupText = history.where(col("doc_id") === 3)
      .select("text").head.getString(0)
    val newBatch = Seq(
      (1000L, dupText),
      (1001L, "completely fresh words nothing shared with anything at all " * 3)
    ).toDF("doc_id", "text")
    val hits = graft.ops.Dedup
      .nearDupAgainstStore(spark, newBatch, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists { case (n, o, j) => n == 1000L && o == 3L && j == 1.0 },
      s"exact dup of doc 3 not found: ${hits.toSeq}")
    assert(!hits.exists(_._1 == 1001L), s"fresh doc matched: ${hits.toSeq}")
    spark.catalog.clearCache()
  }

  test("IVF on an empty and a one-row embeddings table: no exception, " +
    "zero rows when empty, one label row from one vector") {
    val em = graft.core.Tables.embeddings(spark, sf)
    def tableOf(rows: org.apache.spark.sql.DataFrame): String = {
      val dir = tempDir("graft-ivf-degenerate")
      rows.write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    val empty = tableOf(em.where(lit(false)))
    assert(Similarity.ivfTopK(spark, empty).collect().isEmpty)
    assert(Similarity.ivfRecallPerQuery(spark, empty).collect().isEmpty)
    assert(Similarity.clusterBalancedSample(spark, empty).collect().isEmpty)
    val one = tableOf(em.where(col("vec_id") === 0))
    // the one vector is a query with no other vector to rank
    assert(Similarity.ivfTopK(spark, one).collect().isEmpty)
    assert(Similarity.ivfRecallPerQuery(spark, one).collect().isEmpty)
    val labels = Similarity.clusterBalancedSample(spark, one).collect()
    assert(labels.length === 1)
    assert(labels(0).getAs[Long]("vec_id") === 0L)
    assert(labels(0).getAs[Long]("selected") === 1L)
  }

  test("ivfTopK and hybridRrfTopKIvf leave no session cache entry") {
    spark.catalog.clearCache()
    Similarity.ivfTopK(spark, sf).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "ivfTopK left a cached frame in the session")
    graft.ops.Retrieval.hybridRrfTopKIvf(spark, sf).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "hybridRrfTopKIvf left a cached frame in the session")
  }

  test("probeCells: nprobe 1 is BestCell's argmax, ties go to the lower " +
    "cid at every nprobe, nprobe 0 probes nprobeAuto(cells) cells") {
    val corpus = Similarity.normalized(spark, sf.replace("sf0.001", "sf0.01"))
      .select("vec_id", "vec").localCheckpoint()
    val cents = Similarity.ivfCentroidsDf(corpus, 16)
    val probed = Similarity.probeCells(corpus, cents, 1)
      .select("vec_id", "cell", "sim")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getDouble(2))))
      .toMap
    val best = corpus.crossJoin(
        cents.agg(collect_list(struct(col("cid"), col("cvec"))).as("cc")))
      .select(col("vec_id"),
        VectorFunctions.bestCell(col("vec"), col("cc")).as("b"))
      .collect().map(r => (r.getLong(0),
        (r.getStruct(1).getInt(0), r.getStruct(1).getDouble(1)))).toMap
    assert(probed.size === corpus.count())
    assert(probed === best)
    // the nearest of each vector's top-2 cells is its nprobe-1 cell
    val top2 = Similarity.probeCells(corpus, cents, 2)
      .select("vec_id", "cell", "sim").collect()
      .groupBy(_.getLong(0))
    assert(top2.values.forall(_.length == 2))
    assert(top2.forall { case (id, rs) =>
      rs.maxBy(_.getDouble(2)).getInt(1) == probed(id)._1 })
    // two identical centroids: cid 3 and cid 7 hold the same vector
    val dup = Seq((7, Array(1.0, 0.0)), (3, Array(1.0, 0.0)),
        (5, Array(0.0, 1.0))).toDF("cid", "cvec")
    val v = Seq((1L, Array(0.8, 0.6))).toDF("vec_id", "vec")
    assert(Similarity.probeCells(v, dup, 1).select("cell").head.getInt(0)
      === 3)
    assert(Similarity.probeCells(v, dup, 2).select("cell").collect()
      .map(_.getInt(0)).toSeq === Seq(3, 7))
    // nprobe 0: the auto budget of the centroid count, per vector
    for (k <- Seq(16, 20)) {
      val counts = Similarity.probeCells(corpus,
          Similarity.ivfCentroidsDf(corpus, k), 0)
        .groupBy("vec_id").count().select("count").distinct()
        .collect().map(_.getLong(0)).toSeq
      assert(counts === Seq(Similarity.nprobeAuto(k).toLong), s"k=$k")
    }
  }

  test("winnowing: identical docs share all fingerprints, near-dups many") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and AGAIN!"),
      (4L, "completely unrelated content with different phrasing entirely"))
      .toDF("doc_id", "text")
    val fps = graft.ops.TextStats.winnowingFor(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) === fps(2L))
    val nearOverlap = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    val farOverlap = fps(1L).intersect(fps(4L)).size.toDouble / fps(1L).size
    assert(nearOverlap > 0.5, s"near-dup overlap $nearOverlap")
    assert(farOverlap < 0.2, s"unrelated overlap $farOverlap")
  }

  // ----- text stats -----

  test("token counts and quality stats on a crafted doc") {
    val docs = Seq((1L, "Hello world, 42 times!", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = docs.select(
      size(TextStats.wsTokens(col("text"))).as("ws"),
      size(TextStats.bpeTokens(col("text"))).as("bpe")).head()
    assert(t.getInt(0) === 4) // Hello / world, / 42 / times!
    // Hello, world, ",", 42, times, "!"
    assert(t.getInt(1) === 6)
  }

  test("langId classifies real multilingual samples") {
    val samples = Seq(
      (1L, "the cat sat on the mat and it was happy with this"),
      (2L, "le chat est dans la maison et il mange pour vivre"),
      (3L, "el perro esta en la casa y es un buen amigo del hombre"),
      (4L, "der hund ist ein gutes tier und die katze ist nicht da"),
      (5L, "这是一个中文句子"),
      (6L, "это русское предложение для теста"))
      .toDF("doc_id", "text")
    val preds = samples.select(col("doc_id"),
      TextStats.langIdCol(col("text")).as("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) === "en")
    assert(preds(2L) === "fr")
    assert(preds(3L) === "es")
    assert(preds(4L) === "de")
    assert(preds(5L) === "zh-ja")
    assert(preds(6L) === "ru")
  }

  test("profiler counts nulls and profiles numeric/string columns") {
    val df = Seq((Some(1), Some("ab")), (None, Some("abcd")),
      (Some(3), None)).toDF("num", "str")
    val p = graft.ops.Profile.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("num").getLong(1) === 2)       // n_non_null
    assert(p("num").getLong(6) === 1)       // n_null
    assert(p("num").getDouble(3) === 1.0)   // min
    assert(p("num").getDouble(4) === 3.0)   // max
    assert(p("str").getDouble(3) === 2.0)   // min length
    assert(p("str").getDouble(4) === 4.0)   // max length
  }

  test("q_profile_orders executes with no Expand (one partial distinct " +
    "per column)") {
    val df = SparkEntry.queries("q_profile_orders")(spark, sf)
    df.collect()
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
      org.apache.spark.sql.execution.aggregate.HashAggregateExec]))
    assert(!nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.ExpandExec]),
      s"Expand in the exact profile:\n${nodes.head}")
  }

  test("screen salts are semantics-invariant: identical survivors at " +
    "salts 1/4/8 on the same batch (the knob only widens parallelism)") {
    val docs = graft.core.Tables.documents(spark, sf)
    val hist = docs.where(col("doc_id") >= 250)
      .select(TextStats.fingerprint(col("text")).as("fp")).distinct()
      .localCheckpoint()
    val batch = docs.where(col("doc_id") < 250)
      .unionByName(docs.where(col("doc_id") >= 250 && col("doc_id") < 270)
        .withColumn("doc_id", col("doc_id") + 9000)) // history re-crawls
      .localCheckpoint()
    // the screen's verdicts are the only salted stage: the confirm
    // and the survivor rule downstream are functions of them, so equal
    // verdicts per row mean equal survivors
    val filters = Dedup.bloomShardFrame(hist, shards = 4,
      itemsPerShard = 1000, fpp = 0.01)
    def run(salts: Int): Set[(Long, Boolean)] =
      Dedup.cogroupScreen(batch, filters, shards = 4, salts = salts)
        .select("doc_id", "__maybe").as[(Long, Boolean)].collect().toSet
    val (s1, s4, s8) = (run(1), run(4), run(8))
    assert(s1.size === batch.count())
    assert(s1.filter(_._1 >= 9000L).forall(_._2),
      "a history re-crawl read bloom-negative")
    assert(s1 === s4, "salts=4 changed the verdicts")
    assert(s1 === s8, "salts=8 changed the verdicts")
  }

  // ----- multimodal -----

  test("feature extraction preserves partitioning and batch shape") {
    val media = Multimodal.mediaTable(spark, sf).repartition(5)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.rdd.getNumPartitions === 5)
    val f = feats.head()
    assert(f.features.length === Multimodal.FakeCodec.featureDim)
    // determinism: same payload → same checksum/features across runs
    val twice = Multimodal.extractFeatures(media)
    assert(feats.select("media_id", "checksum").exceptAll(
      twice.select("media_id", "checksum")).count() === 0)
  }

  test("portable media features: slot_sums == round(255 * features) " +
    "row-for-row, so the hash-oracled twin proves the float decode") {
    val media = Multimodal.mediaTable(spark, sf)
    val floats = Multimodal.extractFeatures(media)
      .collect().map(f => f.media_id -> f).toMap
    val ports = Multimodal.extractFeaturesPortable(media).collect()
    assert(ports.length === floats.size && ports.nonEmpty)
    ports.foreach { p =>
      val f = floats(p.media_id)
      assert(p.kind === f.kind && p.n_bytes === f.n_bytes)
      // each float slot is sum(b/255f); 255x it and the Long slot sum
      // must agree after rounding (accumulated float error << 0.5 at
      // payload lengths of a few hundred bytes)
      val scaled = f.features.map(v => math.round(v * 255.0f).toLong)
      assert(scaled.toSeq === p.slot_sums.toSeq,
        s"media ${p.media_id}: float decode and integer twin diverge")
    }
    // the ANN twin ranks by exact integer dot: a duplicated payload
    // must land rank 1 for its twin's query, same as the cosine path
    val ann = Multimodal.mediaAnnPortable(spark, sf, numQueries = 3, k = 3)
      .collect()
    assert(ann.nonEmpty)
    assert(ann.count(_.getAs[Long]("rank") == 1L) === 3)
  }

  test("resize updates metadata dims and keeps payload deterministic") {
    val media = Multimodal.mediaTable(spark, sf).limit(20)
    val resized = Multimodal.resize(media, 320, 240)
    val rows = resized.collect()
    assert(rows.forall(r => r.width === 320 && r.height === 240))
    assert(rows.forall(_.payload.nonEmpty))
    // deterministic across runs
    val again = Multimodal.resize(media, 320, 240).collect()
    assert(rows.map(_.payload.toSeq).toSeq === again.map(_.payload.toSeq).toSeq)
  }

  test("frame sampling keeps every stride-th fixed-size frame") {
    val media = Multimodal.mediaTable(spark, sf).limit(3)
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
    val idx = frames.select("frame_idx").as[Int].collect()
    assert(idx.nonEmpty)
    assert(idx.forall(_ % 4 === 0))
  }

  test("chunkDedup: survivors are exactly the distinct chunk texts and " +
    "every duplicate points at a same-text survivor") {
    val chunks = graft.ops.Chunk.chunkDocs(spark, sf)
      .select("doc_id", "chunk_id", "chunk_text").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2))).toMap
    val deduped = graft.ops.Chunk.chunkDedup(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)), r.getInt(4)))
    assert(deduped.length === chunks.size)
    val survivors = deduped.filter(_._3 === 1).map(_._1).toSet
    assert(survivors.size === chunks.values.toSet.size)
    deduped.foreach { case (id, rep, surv) =>
      assert(chunks(rep) === chunks(id), s"rep text differs for $id")
      assert(survivors.contains(rep), s"rep of $id is not a survivor")
      if (surv === 1) assert(rep === id)
      // survivor is the lexicographic min of its text group
      assert(rep._1 < id._1 || (rep._1 == id._1 && rep._2 <= id._2))
    }
  }

  // ----- BM25 retrieval -----

  test("bm25TopK matches a naive in-memory BM25 on the same corpus") {
    // independent oracle: recompute the integer-cleared BM25 from the
    // raw text in plain Scala and compare ranks + scores exactly
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val tf = docs.flatMap { case (id, text) =>
      text.split(" ", -1).map(t => (id, t)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dl = tf.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    val dfreq = tf.keys.toSeq.groupBy(_._2).view
      .mapValues(_.size.toLong).toMap
    val n = docs.length.toLong
    val s = dl.values.sum
    val queryTerms = dfreq.toSeq.sortBy { case (t, df) => (-df, t) }
      .slice(10, 20).map(_._1)
    val expected = queryTerms.grouped(2).zipWithIndex.flatMap {
      case (terms, qid) =>
        docs.map(_._1).flatMap { id =>
          val sc = terms.flatMap { t =>
            tf.get((id, t)).map { f =>
              val df = dfreq(t)
              ((2 * n - 2 * df + 1).toDouble * 22 * s * f) /
                ((2 * df + 1).toDouble *
                  (10 * s * f + 3 * s + 9 * n * dl(id)))
            }
          }
          if (sc.isEmpty) None else Some((id, sc.sum))
        }.sortBy { case (id, sc) => (-sc, id) }.take(10).zipWithIndex
          .map { case ((id, sc), i) => (qid, id, sc, i + 1) }
    }.toSeq
    val got = graft.ops.Terms.bm25TopK(spark, sf)
      .orderBy("query_id", "rank")
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._4)) ===
      expected.map(r => (r._1, r._2, r._4)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-12, s"score drift: $g vs $e") }
  }

  test("log-idf BM25 variant: exact rank agreement on single-term " +
    "queries; high top-k overlap on the multi-term gate set") {
    import org.apache.spark.sql.functions.{col, lit}
    // ten single-term queries = the gate's query terms, one per query:
    // per term the two idfs are positive monotone rescalings of the
    // same tf-norm, so ranks MUST be identical
    val dfreq = graft.ops.Terms
      .termFrequencies(graft.core.Tables.documents(spark, sf))
      .groupBy("term").agg(
        org.apache.spark.sql.functions.count(lit(1)).as("df"))
    val singles = graft.ops.Terms.dfRankQueries(dfreq)
      .withColumn("query_id",
        (col("query_id") * 2 +
          org.apache.spark.sql.functions
            .row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy("query_id").orderBy("term")) - 1).cast("int"))
    def ranks(scoreExpr: String, qs: Option[org.apache.spark.sql.DataFrame]) =
      graft.ops.Terms.bm25TopKWith(spark, sf, 10, scoreExpr, qs)
        .select("query_id", "doc_id", "rank")
        .as[(Int, Long, Int)].collect().toSet
    val qs = Some(singles.localCheckpoint())
    assert(ranks(graft.ops.Terms.bm25ScoreExpr, qs) ===
      ranks(graft.ops.Terms.bm25LogIdfScoreExpr, qs),
      "single-term rankings must be identical across idf variants")

    // multi-term gate queries: ln compresses the idf spread, so exact
    // equality is NOT guaranteed — assert the top-10 SETS stay close
    // (≥ 8/10 per query), which is the user-facing promise README makes
    val ratTop = graft.ops.Terms.bm25TopK(spark, sf)
      .select("query_id", "doc_id").as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val logTop = graft.ops.Terms.bm25TopKLogIdf(spark, sf)
      .select("query_id", "doc_id").as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ratTop.keySet === logTop.keySet)
    ratTop.foreach { case (q, ids) =>
      val overlap = (ids & logTop(q)).size
      assert(overlap >= 8, s"query $q: top-10 overlap $overlap < 8")
    }
  }

  test("persisted BM25 index: pruned probe equals the flat path exactly") {
    val flat = graft.ops.Terms.bm25TopK(spark, sf).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val indexed = graft.ops.Terms.bm25IndexedTopKQuery(spark, sf).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(indexed === flat)
  }

  test("persisted BM25 index: postings scans are partition-pruned to " +
    "the query terms' buckets") {
    val idx = tempDir("graft-bm25-idx") + "/index"
    graft.ops.Terms.buildBm25Index(spark, sf, idx, nBuckets = 64)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    val topk = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
    // the exact bucket set, recomputed the same way the probe does
    val probedBuckets = queries
      .select(pmod(xxhash64(col("term")), lit(64L)).cast("int").as("b"))
      .distinct().as[Int].collect().toSet
    val physical = topk.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val postingScans = physical.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths
          .exists(_.toString.contains("/index/postings")) => f
    }
    assert(postingScans.nonEmpty, "no postings scan found")
    postingScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"unpruned postings scan (reads the whole vocabulary): ${s.nodeName}")
      assert(s.selectedPartitions.partitionCount <= probedBuckets.size,
        s"probe scanned ${s.selectedPartitions.partitionCount} buckets, " +
          s"only ${probedBuckets.size} hold query terms")
    }
    // non-vacuous: 3 terms hit at most 3 of 64 buckets
    assert(probedBuckets.size < 64)
    // and the pruned probe still answers: both queries produce rows
    val got = topk.collect()
    assert(got.map(_.getInt(0)).toSet === Set(0, 1))
  }

  test("BM25 index append: half-build + append equals the full build " +
    "bit-for-bit") {
    val base = tempDir("graft-bm25-append")
    val docs = graft.core.Tables.documents(spark, sf)
    graft.ops.Terms.buildBm25IndexFor(docs, s"$base/full")
    graft.ops.Terms.buildBm25IndexFor(
      docs.where(col("doc_id") % 2 === 0), s"$base/inc")
    graft.ops.Terms.appendToBm25Index(spark, s"$base/inc",
      docs.where(col("doc_id") % 2 === 1))
    // aggregated stats must agree exactly (sum of per-batch deltas ==
    // the one-shot totals; exact integers)
    val sFull = graft.ops.Terms.readBm25Stats(spark, s"$base/full")
      .select("n", "s", "n_buckets").collect().map(_.toSeq).toSeq
    val sInc = graft.ops.Terms.readBm25Stats(spark, s"$base/inc")
      .select("n", "s", "n_buckets").collect().map(_.toSeq).toSeq
    assert(sInc === sFull)
    // and the append landed as its own batch partition (the
    // exactly-once unit): batches 0 and 1 both present
    assert(spark.read.parquet(s"$base/inc/stats")
      .select(col("batch").cast("long")).collect().map(_.getLong(0))
      .toSet === Set(0L, 1L))
    // and a probe through the appended index is bit-identical to one
    // through the from-scratch rebuild (derived df, exact stats)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    val a = graft.ops.Terms.bm25IndexedTopK(spark, s"$base/full", queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = graft.ops.Terms.bm25IndexedTopK(spark, s"$base/inc", queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(b === a)
    assert(a.nonEmpty)
  }

  test("BM25 index append is exactly-once per batch id: re-applying " +
    "a batch (crash-retry, stream re-delivery) replaces, never " +
    "double-counts") {
    val base = tempDir("graft-bm25-redeliver")
    val idx = s"$base/index"
    val docs = graft.core.Tables.documents(spark, sf)
    graft.ops.Terms.buildBm25IndexFor(
      docs.where(col("doc_id") % 2 === 0), idx)
    val late = docs.where(col("doc_id") % 2 === 1)
    graft.ops.Terms.appendToBm25Index(spark, idx, late, batchId = 1L)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    val stats1 = graft.ops.Terms.readBm25Stats(spark, idx)
      .collect().map(_.toSeq).toSeq
    val probe1 = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // the window the old layout double-counted: the SAME batch applies
    // again (marker lost in a crash, or an operator retry) — dynamic
    // overwrite of the batch partition must make it a no-op
    graft.ops.Terms.appendToBm25Index(spark, idx, late, batchId = 1L)
    val stats2 = graft.ops.Terms.readBm25Stats(spark, idx)
      .collect().map(_.toSeq).toSeq
    val probe2 = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(stats2 === stats1, "re-applied batch changed corpus stats")
    assert(probe2 === probe1, "re-applied batch changed probe results")
    // and a PARTIAL earlier attempt is also healed: re-apply with a
    // subset first (simulating a torn write), then the full batch —
    // the final state must equal the clean one
    graft.ops.Terms.appendToBm25Index(spark, idx,
      late.where(col("doc_id") < 100), batchId = 1L)
    graft.ops.Terms.appendToBm25Index(spark, idx, late, batchId = 1L)
    assert(graft.ops.Terms.readBm25Stats(spark, idx)
      .collect().map(_.toSeq).toSeq === stats1)
    assert(graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq === probe1)
  }

  test("BM25 index compaction: one file per bucket, bit-identical " +
    "probes, interrupted swaps detected") {
    val base = tempDir("graft-bm25-compact")
    val idx = s"$base/index"
    val docs = graft.core.Tables.documents(spark, sf)
    graft.ops.Terms.buildBm25IndexFor(
      docs.where(col("doc_id") % 3 === 0), idx)
    graft.ops.Terms.appendToBm25Index(spark, idx,
      docs.where(col("doc_id") % 3 === 1))
    graft.ops.Terms.appendToBm25Index(spark, idx,
      docs.where(col("doc_id") % 3 === 2))
    def bucketFiles(): Map[String, Int] = {
      // count parquet files recursively per bucket dir: appends nest
      // them under per-batch partitions (bucket=N/batch=M/)
      def countParquet(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(countParquet).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      val root = new java.io.File(s"$idx/postings")
      root.listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> countParquet(d)).toMap
    }
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    val before = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(bucketFiles().values.max > 1,
      "appends should have left multi-file buckets")
    graft.ops.Terms.compactBm25Index(spark, idx)
    assert(bucketFiles().values.max === 1)
    val after = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(after === before)
    // interrupted swap: a leftover .old copy must fail loudly
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$idx/postings.old"))
    val e = intercept[IllegalStateException] {
      graft.ops.Terms.compactBm25Index(spark, idx)
    }
    assert(e.getMessage.contains("interrupted"))
  }

  test("BM25 index delete: tombstone + probe equals a rebuild on the " +
    "surviving corpus bit-for-bit; double-deletes and unknown ids " +
    "are no-ops") {
    val base = tempDir("graft-bm25-delete")
    val docs = graft.core.Tables.documents(spark, sf)
    val gone = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    // reference: an index that never contained the deleted docs
    graft.ops.Terms.buildBm25IndexFor(
      docs.where(col("doc_id") % 3 =!= 0), s"$base/survivors")
    // under test: full build + tombstone delete
    graft.ops.Terms.buildBm25IndexFor(docs, s"$base/del")
    graft.ops.Terms.deleteFromBm25Index(spark, s"$base/del", gone)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    def probe(idx: String) =
      graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def stats(idx: String) = graft.ops.Terms.readBm25Stats(spark, idx)
      .select("n", "s").collect().map(_.toSeq).toSeq
    val want = probe(s"$base/survivors")
    assert(want.nonEmpty)
    assert(probe(s"$base/del") === want,
      "tombstoned probe diverged from the rebuild-on-survivors")
    // negative stats deltas net out to the survivors' totals exactly
    assert(stats(s"$base/del") === stats(s"$base/survivors"))
    // double-delete (same ids again) + unknown ids: both no-ops on
    // stats and probes — the delta counts only newly tombstoned docs
    graft.ops.Terms.deleteFromBm25Index(spark, s"$base/del",
      gone.union(spark.range(900000, 900005).select(col("id").as("doc_id"))))
    assert(stats(s"$base/del") === stats(s"$base/survivors"),
      "re-deleting already-tombstoned docs moved the corpus stats")
    assert(probe(s"$base/del") === want)
    // re-applying a delete BATCH id (crash retry) is exactly-once too
    graft.ops.Terms.deleteFromBm25Index(spark, s"$base/del", gone,
      batchId = 1L)
    assert(stats(s"$base/del") === stats(s"$base/survivors"))
    assert(probe(s"$base/del") === want)
  }

  test("BM25 delete then compact: tombstones fold physically, probes " +
    "stay bit-identical, stats untouched") {
    val base = tempDir("graft-bm25-delcompact")
    val idx = s"$base/index"
    val docs = graft.core.Tables.documents(spark, sf)
    graft.ops.Terms.buildBm25IndexFor(docs, idx)
    graft.ops.Terms.deleteFromBm25Index(spark, idx,
      docs.where(col("doc_id") % 3 === 0).select("doc_id"))
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    def probe() = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val before = probe()
    val statsBefore = graft.ops.Terms.readBm25Stats(spark, idx)
      .collect().map(_.toSeq).toSeq
    graft.ops.Terms.compactBm25Index(spark, idx)
    assert(probe() === before, "compaction changed probe results")
    assert(graft.ops.Terms.readBm25Stats(spark, idx)
      .collect().map(_.toSeq).toSeq === statsBefore,
      "compaction moved the corpus stats")
    // physically folded: no deleted doc's postings or doclen rows
    // survive, and the tombstone table is gone
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id") % 3 === 0).count() === 0L)
    assert(spark.read.parquet(s"$idx/doclen")
      .where(col("doc_id") % 3 === 0).count() === 0L)
    assert(!new java.io.File(s"$idx/deletes").exists(),
      "compaction left the tombstone table behind")
    // and the LIVE postings view equals the raw scan now
    assert(graft.ops.Terms.liveBm25Postings(spark, idx).count() ===
      spark.read.parquet(s"$idx/postings").count())
  }

  test("bm25TopK is deterministic and ranks are dense per query") {
    val a = graft.ops.Terms.bm25TopK(spark, sf).collect()
    val b = graft.ops.Terms.bm25TopK(spark, sf).collect()
    assert(a.map(_.toSeq).sortBy(_.toString).toSeq ===
      b.map(_.toSeq).sortBy(_.toString).toSeq)
    val byQ = a.groupBy(_.getInt(0))
    assert(byQ.keySet === Set(0, 1, 2, 3, 4))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === (1 to rows.length))
      val ordered = rows.sortBy(_.getInt(3))
        .map(r => (r.getDouble(2), r.getLong(1))).toSeq
      assert(ordered.sliding(2).forall {
        case Seq((s1, d1), (s2, d2)) => s1 > s2 || (s1 == s2 && d1 < d2)
        case _ => true
      })
    }
  }

  test("bestQualitySurvivors: one max-quality member per component, " +
    "same component partition as the min-id survivors") {
    val comps = graft.ops.Components.nearDupComponents(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val quality = TextStats.qualityScores(spark, sf)
      .select("doc_id", "stopword_ratio").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val best = graft.ops.Components.bestQualitySurvivors(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // exactly one survivor per component, with the right member count
    val byComp = comps.groupBy(_._2)
    assert(best.map(_._2).toSet === byComp.keySet)
    assert(best.length === byComp.size)
    best.foreach { case (docId, comp, nMembers, ratio) =>
      val members = byComp(comp).map(_._1)
      assert(nMembers === members.length.toLong)
      // argmax by (ratio desc, doc_id asc) over the component
      val expected = members
        .map(d => (d, quality(d)))
        .minBy { case (d, q) => (-q, d) }
      assert((docId, ratio) === expected,
        s"component $comp kept $docId@$ratio, expected $expected")
    }
  }

  test("sourceCappedCorpus: salted two-stage rank is bit-identical to " +
    "the single-window plan and respects the cap") {
    import org.apache.spark.sql.expressions.Window
    val capped = graft.ops.Corpus
      .sourceCappedCorpus(spark, sf, cap = 5, saltBuckets = 7)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // per-source sizes respect the cap
    capped.groupBy(_._2).values.foreach(rows =>
      assert(rows.size <= 5))
    // naive single window over the same quality scalar
    val scored = graft.core.Tables.documents(spark, sf)
      .join(TextStats.qualityScores(spark, sf)
        .select("doc_id", "stopword_ratio"), "doc_id")
      .select("doc_id", "source", "stopword_ratio")
    val w = Window.partitionBy("source")
      .orderBy(col("stopword_ratio").desc, col("doc_id"))
    val naive = scored
      .withColumn("src_rank", row_number().over(w))
      .where(col("src_rank") <= 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(capped === naive)
  }

  test("hybridRrfTopK: k dense ranks per query, rrf reconstructs from " +
    "the source ranks, fused order follows rrf") {
    val rows = graft.ops.Retrieval.hybridRrfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        r.getDouble(4), r.getInt(5)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { qRows =>
      assert(qRows.map(_._6).sorted.toSeq === (1 to qRows.length),
        "fused ranks not dense")
      qRows.foreach { case (q, d, lex, dense, rrf, _) =>
        assert(d !== q, "the seed leaked into its own result list")
        assert(lex.isDefined || dense.isDefined)
        val expect = lex.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          dense.map(r => 1.0 / (60 + r)).getOrElse(0.0)
        assert(rrf === expect)
      }
      // rank order IS (rrf desc, doc_id asc)
      val ordered = qRows.sortBy(_._6).map(t => (t._5, t._2)).toSeq
      assert(ordered.sliding(2).forall {
        case Seq((s1, d1), (s2, d2)) => s1 > s2 || (s1 == s2 && d1 < d2)
        case _ => true
      }, "fused ranking disagrees with the rrf score order")
      // a doc ranked top-1 by BOTH lists must be the fused top-1
      qRows.find(t => t._3.contains(1) && t._4.contains(1))
        .foreach(t => assert(t._6 === 1))
    }
  }

  test("hybridRrfTopKIvf: high overlap with the exact hybrid; " +
    "the overlap gate row is all-pass") {
    val exact = graft.ops.Retrieval.hybridRrfTopK(spark, sf)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.ops.Retrieval.hybridRrfTopKIvf(spark, sf)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val frac = exact.intersect(ivf).size.toDouble / exact.size
    info(s"ivf-hybrid overlap fraction: $frac")
    assert(frac >= 0.8, s"overlap $frac below the gate band")
    val gate = graft.ops.Retrieval.hybridRrfOverlapGate(spark, sf)
      .collect()
    assert(gate.length === 1)
    assert(gate.head.getLong(0) === 50L)
    assert(gate.head.getInt(1) === 1)
  }

  test("hardNegatives: exactly the lexical candidates whose exact " +
    "cosine to the seed is below tau") {
    val norm = Similarity.normalized(spark, sf)
      .select("vec_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    def cos(a: Long, b: Long): Double =
      norm(a).zip(norm(b)).map { case (x, y) => x * y }.sum
    val negs = graft.ops.Retrieval.hardNegatives(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(negs.nonEmpty)
    negs.foreach { case (q, d, _) =>
      assert(cos(q, d) < 0.1 + 1e-9,
        s"returned ($q,$d) is not semantically far: ${cos(q, d)}")
    }
    // complement check: lexical top-20 docs NOT returned are close
    val negSet = negs.map(t => (t._1, t._2)).toSet
    val hybrid = graft.ops.Retrieval.hybridRrfTopK(spark, sf, k = 20)
      .where(col("lex_rank").isNotNull)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    hybrid.filterNot(negSet).foreach { case (q, d) =>
      assert(cos(q, d) >= 0.1 - 1e-9,
        s"excluded ($q,$d) but cosine ${cos(q, d)} < tau")
    }
  }

  test("vocabCoverage: per-doc OOV reconstructs from term frequencies; " +
    "a full-size vocab has zero OOV") {
    val rows = graft.ops.Terms.vocabCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, oov, ratio) =>
      assert(oov >= 0 && oov <= n)
      assert(ratio === oov.toDouble / n)
    }
    assert(rows.exists(_._3 > 0), "top-20 vocab of a 31-term corpus " +
      "should leave some tokens OOV")
    // naive recompute: vocab = top-20 terms by total tf (term tie-break)
    val tf = graft.ops.Terms.termFrequencies(
      graft.core.Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val vocab = tf.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
      .sortBy { case (t, total) => (-total, t) }.take(20).map(_._1).toSet
    val expect = tf.groupBy(_._1).map { case (doc, ts) =>
      (doc, ts.map(_._3).sum,
        ts.filterNot(t => vocab(t._2)).map(_._3).sum)
    }
    expect.foreach { case (doc, n, oov) =>
      val got = rows.find(_._1 == doc).get
      assert((got._2, got._3) === ((n, oov)), s"doc $doc")
    }
    // a vocab covering every term => zero OOV everywhere
    val full = graft.ops.Terms.vocabCoverage(spark, sf, vocabSize = 64)
      .agg(sum("n_oov")).collect().head.getLong(0)
    assert(full === 0L)
  }

  test("qualityModelScores/dsirWeights: exact vs naive in-memory " +
    "scorers; selection is the true top-N") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def tf(text: String): Map[String, Long] =
      text.split(" ").filter(_.nonEmpty)
        .groupBy(identity).map { case (t, a) => (t, a.length.toLong) }
    def md5low(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(24), 16)
    }
    // hashed linear model
    val expScore = docs.map { case (id, text, _) =>
      (id, tf(text).map { case (t, c) =>
        c * (md5low("graft:w:" + t) % 2001 - 1000)
      }.sum)
    }.toMap
    val got = graft.ops.Classify.qualityModelScores(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq
    assert(got.nonEmpty && got.map(_._1).toSet === expScore.keySet)
    got.foreach { case (id, milli, label) =>
      assert(milli === expScore(id), s"doc $id")
      assert(label === (if (milli > 0) "keep" else "drop"))
    }
    assert(got.exists(_._3 == "keep") && got.exists(_._3 == "drop"),
      "pseudo-weights should split the corpus")

    // DSIR: naive ratio table + per-doc importance
    val termSide = docs.flatMap { case (_, text, src) =>
      tf(text).map { case (t, c) => (t, src == "src0", c) } }
    val ratios = termSide.groupBy(_._1).map { case (t, rows) =>
      val tc = rows.filter(_._2).map(_._3).sum
      val sc = rows.filterNot(_._2).map(_._3).sum
      (t, ((tc + 1) * 1000000L) / (sc + 1))
    }
    val expImp = docs.map { case (id, text, _) =>
      (id, tf(text).map { case (t, c) => c * ratios(t) }.sum)
    }.toMap
    val gotImp = graft.ops.Classify.dsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotImp === expImp)

    // selection = the naive top-100 (importance desc, doc_id asc)
    val expTop = expImp.toSeq.sortBy { case (id, w) => (-w, id) }
      .take(100).map(_._1)
    val gotTop = graft.ops.Classify.dsirSelected(spark, sf).collect()
      .map(_.getLong(0)).toSeq
    assert(gotTop === expTop)
  }

  test("dedupReport/lengthHistogram: exact vs naive per-source rollups") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def fp(t: String): String = {
      val norm = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val fpSrc = docs.map { case (_, t, s) => (fp(t), s) }
    val bySrcFp = fpSrc.groupBy(identity).view.mapValues(_.length).toMap
    val fpSources = fpSrc.distinct.groupBy(_._1).view.mapValues(_.length)
    val shared = fpSources.filter(_._2 > 1).keySet
    val expect = fpSrc.map(_._2).distinct.map { s =>
      val pairs = bySrcFp.filter(_._1._2 == s)
      val nDocs = pairs.values.sum.toLong
      val nUniq = pairs.size.toLong
      val cross = pairs.filter(p => shared(p._1._1)).values.sum.toLong
      (s, (nDocs, nUniq, 1.0 - nUniq.toDouble / nDocs, cross))
    }.toMap
    val got = graft.ops.Dedup.dedupReport(spark, sf).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got === expect)

    // planted duplicates: the corpus has none at spec SF, so exercise
    // within-source dup_rate and cross-source sharing explicitly
    import spark.implicits._
    val planted = Seq(
      ("alpha beta", "s1"), ("alpha beta", "s1"), // within-source dup
      ("alpha beta", "s2"),                       // cross-source copy
      ("gamma", "s2"), ("delta", "s3")).toDF("text", "source")
    val rep = graft.ops.Dedup.dedupReportFor(planted).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(rep("s1") === ((2L, 1L, 0.5, 2L)))
    assert(rep("s2") === ((2L, 2L, 0.0, 1L)))
    assert(rep("s3") === ((1L, 1L, 0.0, 0L)))

    val hist = graft.ops.Profile.lengthHistogram(spark, sf).collect()
      .map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val expHist = docs.map { case (_, t, s) =>
      (s, t.split(" ").length.toLong)
    }.groupBy { case (s, n) =>
      (s, java.lang.Long.toBinaryString(n).length)
    }.map { case (k, v) =>
      (k, (v.length.toLong, v.map(_._2).sum, v.map(_._2).min, v.map(_._2).max))
    }
    assert(hist === expHist)
    // buckets really are [2^(b-1), 2^b)
    hist.foreach { case ((_, b), (_, _, mn, mx)) =>
      assert(mn >= (1L << (b - 1)) && mx < (1L << b))
    }
  }

  test("bigramLmScores/perplexity: exact vs naive corpus bigram LM") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val pairs = docs.flatMap { case (id, ts) =>
      ts.zip(ts.drop(1)).map(p => (id, p)) }
    val c12 = pairs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val c1 = pairs.groupBy(_._2._1).view.mapValues(_.length.toLong).toMap
    def pMicro(p: (String, String)): Long = c12(p) * 1000000L / c1(p._1)
    val exp = pairs.groupBy(_._1).map { case (id, ps) =>
      (id, (ps.map(p => pMicro(p._2)).sum, ps.length.toLong)) }
    val got = graft.ops.Classify.bigramLmScores(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got === exp)

    // same one-micro-unit floor as the engine: an underflowed
    // quantized probability must cost maximal finite surprisal, not
    // vanish as log(0) = NULL
    val expPpl = pairs.groupBy(_._1).map { case (id, ps) =>
      (id, math.exp(-ps.map(p =>
        math.log(math.max(pMicro(p._2), 1L) / 1e6)).sum / ps.length)) }
    val gotPpl = graft.ops.Classify.bigramLmPerplexity(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotPpl.keySet === expPpl.keySet)
    gotPpl.foreach { case (id, p) =>
      assert(math.abs(p - expPpl(id)) <= 1e-12 * expPpl(id), s"doc $id")
      assert(p >= 1.0)
    }
  }

  /** Reference BPE trainer: in-memory, leftmost-greedy merges over a
    * word-frequency map — the semantics Tokenize must reproduce
    * EXACTLY (count desc, then (left, right) lexicographic ties). */
  private def naiveBpe(wordCounts: Map[String, Long], nMerges: Int)
      : (Seq[(String, String, Long)], Map[String, Seq[String]]) = {
    var words: Map[Seq[String], Long] =
      wordCounts.map { case (w, c) => (w.map(_.toString), c) }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    var done = false
    while (merges.length < nMerges && !done) {
      val pairs = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        pairs((syms(i), syms(i + 1))) += c
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), c) = pairs.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        merges += ((l, r, c))
        words = words.toSeq
          .map { case (syms, n) => (applyMerge(syms, l, r), n) }
          .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
      }
    }
    val enc = wordCounts.keys.map { w =>
      var syms: Seq[String] = w.map(_.toString)
      for ((l, r, _) <- merges) syms = applyMerge(syms, l, r)
      (w, syms)
    }.toMap
    (merges.toSeq, enc)
  }

  test("bpeTrainMergesOf: symbol-boundary regression — a merge pair " +
    "never fires on the tail of a longer symbol") {
    // merge 1 is (a,b) [count 4]; after it, "abc" is [ab, c]. Merge 2
    // is (b,c) [count 3 from the standalone "bc" words] and must NOT
    // touch [ab, c] — the flat-string replace defect fused it to
    // [abc]. The reference trainer is the arbiter.
    import spark.implicits._
    val docs = Seq("ab ab ab bc bc bc abc").toDF("text")
    val wc = Map("ab" -> 3L, "bc" -> 3L, "abc" -> 1L)
    val (expMerges, expEnc) = naiveBpe(wc, 3)
    val got = graft.ops.Tokenize.bpeTrainMergesOf(docs, 3)
    assert(got.map(m => (m._2, m._3, m._4)) === expMerges)
    assert(expMerges.map(m => (m._1, m._2)) ===
      Seq(("a", "b"), ("b", "c"), ("ab", "c")))
    // the discriminator: after merge 2, "abc" must still be [ab, c]
    // (the flat-replace defect fused it to one symbol, so its round 3
    // found NO pairs and trained only 2 merges; the correct trainer
    // finds (ab, c) with count 1)
    assert(got.length === 3 && got(2)._4 === 1L)
    assert(expEnc("abc").length === 1)
  }

  test("bpeTrainMerges: exact merge-sequence equality with the naive " +
    "in-memory trainer; encode counts reconstruct per doc") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wc = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, a) => (w, a.length.toLong) }
    val (expMerges, expEnc) = naiveBpe(wc, 16)
    val got = graft.ops.Tokenize.bpeTrainMerges(spark, sf, 16)
    assert(got.map(m => (m._2, m._3, m._4)) === expMerges,
      "merge sequence diverged from the reference trainer")
    assert(got.map(_._1) === (1 to got.length))

    // per-doc BPE token counts = sum over the doc's words of the
    // naive encoder's token count
    val counts = graft.ops.Tokenize.bpeEncodeCounts(spark, sf)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    docs.foreach { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val exp = (ws.length.toLong,
        ws.map(w => expEnc(w).length.toLong).sum,
        ws.map(_.length.toLong).sum)
      assert(counts(id) === exp, s"doc $id")
    }

    // gates all-green on the spec corpus
    val mg = graft.ops.Tokenize.bpeMergesGate(spark, sf).collect().head
    assert((mg.getString(0), mg.getString(1), mg.getLong(2)) ===
      ((expMerges.head._1, expMerges.head._2, expMerges.head._3)))
    assert(mg.getInt(3) === 1)
    val eg = graft.ops.Tokenize.bpeEncodeGate(spark, sf).collect().head
    assert(eg.getInt(2) === 1 && eg.getInt(3) === 1)
  }

  test("BM25 delete lifecycle edges: a no-op delete on a delete-free " +
    "index writes nothing; a rebuild clears the previous generation's " +
    "tombstones") {
    val base = tempDir("graft-bm25-edge")
    val idx = s"$base/index"
    val docs = graft.core.Tables.documents(spark, sf)
    graft.ops.Terms.buildBm25IndexFor(docs, idx)
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge"), (1, "table"))
      .toDF("query_id", "term")
    def probe() = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val clean = probe()
    assert(clean.nonEmpty)
    // every requested id unknown — the documented no-op case. A
    // zero-row partitioned write here would leave a schema-less
    // deletes/ dir that fails parquet schema inference on every later
    // probe (a bricked index); the batch must write NOTHING
    graft.ops.Terms.deleteFromBm25Index(spark, idx,
      spark.range(900000, 900005).select(col("id").as("doc_id")))
    assert(!new java.io.File(s"$idx/deletes").exists(),
      "a no-op delete should write no tombstone partition")
    assert(probe() === clean, "no-op delete changed probe results")
    // a REAL delete still lands after the no-op…
    graft.ops.Terms.deleteFromBm25Index(spark, idx,
      docs.where(col("doc_id") % 3 === 0).select("doc_id"))
    assert(probe() !== clean)
    // …and a REBUILD must resurrect the deleted docs: tombstones are
    // a property of the generation that wrote them, so stale deletes/
    // silently anti-joined against new postings would unretrievably
    // drop live documents while the rebuilt stats still count them
    graft.ops.Terms.buildBm25IndexFor(docs, idx)
    assert(!new java.io.File(s"$idx/deletes").exists(),
      "rebuild left the previous generation's tombstones behind")
    assert(probe() === clean, "rebuild did not restore deleted documents")
  }

  test("BM25 complete takedown: compacting an all-tombstoned index " +
    "keeps it readable and appendable") {
    val base = tempDir("graft-bm25-takedown")
    val idx = s"$base/index"
    val docs = graft.core.Tables.documents(spark, sf)
    val early = docs.where(col("doc_id") < 30)
    graft.ops.Terms.buildBm25IndexFor(early, idx)
    graft.ops.Terms.deleteFromBm25Index(spark, idx, early.select("doc_id"))
    import spark.implicits._
    val queries = Seq((0, "filter"), (0, "merge")).toDF("query_id", "term")
    def probe() = graft.ops.Terms.bm25IndexedTopK(spark, idx, queries)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(probe().isEmpty, "all-tombstoned probe returned rows")
    // the rewrite folds to ZERO rows: a partitioned empty write would
    // install a schema-less postings/ (unreadable forever); the flat
    // empty write keeps the schema and identical (empty) results
    graft.ops.Terms.compactBm25Index(spark, idx)
    assert(probe().isEmpty)
    // and the compacted-empty index still accepts partitioned appends
    // (flat schema file + batch partitions coexist — probed behavior)
    graft.ops.Terms.appendToBm25Index(spark, idx,
      docs.where(col("doc_id") >= 30 && col("doc_id") < 60))
    assert(probe().nonEmpty, "append after complete takedown not probeable")
  }

  test("BM25 shared-term query sets: df attaches per DISTINCT term, " +
    "so a second query sharing a term cannot inflate scores") {
    import spark.implicits._
    val solo = graft.ops.Terms.bm25TopKWith(spark, sf, 10,
      graft.ops.Terms.bm25ScoreExpr,
      queriesIn = Some(Seq((0, "filter")).toDF("query_id", "term")))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(solo.nonEmpty)
    // the duplicated (term, df) row the un-distinct join would emit
    // doubles every sc for the shared term — query 0's rows must be
    // byte-identical with and without the co-querying neighbor
    val q0 = graft.ops.Terms.bm25TopKWith(spark, sf, 10,
      graft.ops.Terms.bm25ScoreExpr,
      queriesIn = Some(Seq((0, "filter"), (1, "filter"))
        .toDF("query_id", "term")))
      .where(col("query_id") === 0)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(q0 === solo,
      "a second query sharing the term changed query 0's scores")
  }

  test("threshold-margin audit: tau-filtered oracle families sit far " +
    "above float-drift scale on this vintage") {
    // Spark and DuckDB do NOT run identical float sequences for the
    // cosine-vs-tau filters (normalize-then-dot vs dot-over-raw-norms
    // in list_cosine_similarity): hash-exactness rests on no candidate
    // sitting within drift distance of tau. Accumulated cross-engine
    // drift for unit 64-dim dots is ≲ 1e-14; 1e-12 gives two orders of
    // slack while real vintages measure ≥ 7e-6. A failure here means
    // the VINTAGE moved onto a knife edge — fix the data assumption,
    // not the engines.
    val c = graft.ops.Similarity.normalized(spark, sf)
    def dotc(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.dot(a, b)
    val nearDupMargin = c.as("a")
      .join(c.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(abs(dotc(col("a.vec"), col("b.vec")) - lit(0.4)).as("m"))
      .agg(min("m")).head().getDouble(0)
    assert(nearDupMargin > 1e-12,
      s"q_embed_near_dup tau margin $nearDupMargin is inside float noise")
    // hardNegatives (tau = 0.1): audited over ALL query×corpus pairs —
    // a superset of the lexical candidate set, so the bound holds for
    // any kLex
    val q = c.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val hnMargin = c.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(abs(dotc(col("vec"), col("qvec")) - lit(0.1)).as("m"))
      .agg(min("m")).head().getDouble(0)
    assert(hnMargin > 1e-12,
      s"q_hard_negatives tau margin $hnMargin is inside float noise")
  }

  test("vector-expression loud guards: out-of-range ADC codes and " +
    "all-NaN best_cell vectors throw instead of corrupting silently") {
    import spark.implicits._
    val vf = graft.functions.VectorFunctions
    // adc_score: code 7 against 4-wide LUT rows — an UnsafeArrayData
    // read past the row end returns garbage doubles with no exception
    val adcBad = Seq((Seq(1, 7), Seq(Seq(0.1, 0.2, 0.3, 0.4),
        Seq(0.5, 0.6, 0.7, 0.8))))
      .toDF("codes", "lut")
    val e1 = intercept[Exception] {
      adcBad.select(vf.adcScore(col("codes"), col("lut"))).collect()
    }
    assert(e1.getMessage != null &&
      e1.toString.contains("different codebooks") ||
      Option(e1.getCause).exists(_.toString.contains("different codebooks")),
      s"wrong error: $e1")
    // in-range codes still score
    val ok = Seq((Seq(1, 3), Seq(Seq(0.1, 0.2, 0.3, 0.4),
        Seq(0.5, 0.6, 0.7, 0.8))))
      .toDF("codes", "lut")
      .select(vf.adcScore(col("codes"), col("lut"))).head().getDouble(0)
    assert(math.abs(ok - 1.0) < 1e-12)
    // best_cell: a NaN component makes every comparison false — the
    // old sentinel emitted cid = -1 silently
    val nanVec = Seq((Seq(Double.NaN, 1.0),
        Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))))
      .toDF("vec", "cells")
      .select(col("vec"), col("cells").cast(
        "array<struct<cid:int,cvec:array<double>>>"))
    val e2 = intercept[Exception] {
      nanVec.select(vf.bestCell(col("vec"), col("cells"))).collect()
    }
    assert(e2.toString.contains("NaN") ||
      Option(e2.getCause).exists(_.toString.contains("NaN")),
      s"wrong error: $e2")
  }

  test("frame sampling: a zero-byte payload yields zero frames (no " +
    "fabricated descending-sequence frame)") {
    import spark.implicits._
    val media = Seq(
      graft.ops.Multimodal.MediaRow(1L, "image", Array[Byte](1, 2, 3),
        0, 0, 0),
      graft.ops.Multimodal.MediaRow(2L, "image", Array.empty[Byte],
        0, 0, 0)).toDS()
    val got = graft.ops.Multimodal.sampleFrames(media)
      .groupBy("media_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.getOrElse(1L, 0L) === 1L, s"short payload: $got")
    assert(!got.contains(2L),
      s"empty payload fabricated a frame: $got")
  }

  test("length-bucket batches: 13+-digit doc_ids round-trip exactly " +
    "(the sort-key pad fits every Long)") {
    val tmp = tempDir("graft-bigid")
    import spark.implicits._
    // ids ≥ 10^12 sharing a long prefix: a 12-char pad TRUNCATES both
    // to the same key (corrupted output ids, colliding sort keys)
    val ids = Seq(1234567890123L, 1234567890124L, 7L)
    ids.map(i => (i, "alpha beta gamma delta", "en", "web", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.ops.Pack.lengthBucketBatches(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === ids.toSet,
      s"doc_ids corrupted through the composite sort key: $got")
  }
}
