package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Chunk, Components, Pack, Repetition, Similarity}

/** Round-3 training-pipeline ops: chunking, repetition signals,
  * deterministic corpus shuffle. */
class PipelineOpsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // ----- chunking -----

  test("chunkTokens: window/stride cover every token, last chunk reaches end") {
    val words = (1 to 10).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got = Chunk.chunkTokens(docs, window = 4, stride = 3)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_text", "n_chunk_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // i_max = ceil((10-4)/3) = 2 -> chunks at offsets 0, 3, 6
    assert(got.toSeq === Seq(
      (0L, "w1 w2 w3 w4", 4),
      (1L, "w4 w5 w6 w7", 4),
      (2L, "w7 w8 w9 w10", 4)))
  }

  test("chunkTokens: short doc yields exactly one whole-doc chunk") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val got = Chunk.chunkTokens(docs, window = 64, stride = 48).collect()
    assert(got.length === 1)
    assert(got.head.getAs[String]("chunk_text") === "a b c")
    assert(got.head.getAs[Int]("n_chunk_tokens") === 3)
  }

  test("chunkDocs covers every corpus token exactly: sum of chunk tokens " +
    "= n_tokens + overlap") {
    // With window 64 / stride 48, each non-final chunk adds 'window'
    // fresh-or-overlap tokens; total chunk tokens = n + 16 * (chunks-1)
    // per doc only when the final chunk is full — so assert the
    // position-level invariant instead: max covered position = n.
    val perDoc = Chunk.chunkDocs(spark, sf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max(col("chunk_id") * 48 + col("n_chunk_tokens")).as("max_pos"))
    val toks = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val bad = perDoc.join(toks, "doc_id")
      .where(col("max_pos") =!= col("n")).count()
    assert(bad === 0L)
  }

  // ----- benchmark decontamination -----

  test("contaminationReport: planted 4-gram flags, short docs and clean " +
    "docs are absent, repeats count once") {
    import graft.ops.Decontaminate
    // Eval doc contributes exactly two distinct 4-grams.
    val evalDocs = Seq((100L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val trainDocs = Seq(
      (1L, "prefix the quick brown fox suffix"),        // shares 1 window
      (2L, "the quick brown fox jumps again and again"),// shares both
      (3L, "the quick brown"),                          // < n tokens: immune
      (4L, "completely unrelated training text here"),  // zero hits: absent
      (5L, "the quick brown fox and the quick brown fox")// repeat counts once
    ).toDF("doc_id", "text")
    val got = Decontaminate.contaminationReport(trainDocs, evalDocs, n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 5L -> 1L))
  }

  test("governedCorpus = cleanCorpus minus eval source minus flagged docs") {
    import graft.ops.Decontaminate
    val governed = Decontaminate.governedCorpus(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val clean = Components.cleanCorpus(spark, sf)
      .where(col("source") =!= "src19")
      .select("doc_id").as[Long].collect().toSet
    val flagged = Decontaminate.contaminated(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(governed === clean -- flagged)
    assert(governed.nonEmpty)
  }

  test("fuzzyContaminationFor: near-copy of an eval doc flagged, " +
    "unrelated docs absent, production and portable paths agree on ids") {
    import graft.ops.Decontaminate
    // two eval docs; train doc 1 is a near-copy of eval 100 (one word
    // changed out of 12 -> 3-gram Jaccard ~0.6), train 2 unrelated
    val evalText =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val evalDocs = Seq((100L, evalText),
      (101L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val trainDocs = Seq(
      (1L, evalText.replace("epsilon", "EPSILON")), // near-copy of 100
      (2L, "totally different words with no shared trigrams at all " +
        "nothing matches here truly"),
      (3L, evalText)                                // exact copy of 100
    ).toDF("doc_id", "text")
    val got = Decontaminate.fuzzyContaminationFor(trainDocs, evalDocs,
        tau = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 3L), s"got $got")
    assert(got(3L) === 1L, "exact copy matches exactly one eval doc")
    // the registered production vs portable forms flag the same docs
    // on the real corpus (hash family differs; candidate semantics
    // must agree at this tau where est-jaccard noise is immaterial)
    val prod = Decontaminate.fuzzyContamination(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val port = Decontaminate.fuzzyContaminationPortable(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    // 16-hash estimates are coarser than 64-hash: require agreement
    // up to a small symmetric difference, and substantial overlap
    val sym = (prod diff port) union (port diff prod)
    assert(prod.nonEmpty && port.nonEmpty)
    assert(sym.size.toDouble <= 0.5 * math.max(prod.size, port.size),
      s"prod=${prod.size} port=${port.size} sym=${sym.size}")
  }

  test("fuzzyDecontaminatedCorpus = train split minus fuzzy flags") {
    import graft.ops.{Decontaminate, Mix}
    val got = Decontaminate.fuzzyDecontaminatedCorpus(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val train = graft.core.Tables.documents(spark, sf)
      .where(Mix.contentBucket(col("text")) < 90)
      .select("doc_id").as[Long].collect().toSet
    val fuzzy = Decontaminate.fuzzyContaminationPortable(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(got === train -- fuzzy)
    assert(got.nonEmpty)
    assert(fuzzy.subsetOf(train), "flags must come from the train side")
  }

  // ----- repetition signals -----

  test("repetition signals on crafted repetitive vs distinct docs") {
    val docs = Seq(
      (1L, "a a a a"),      // fully repetitive
      (2L, "p q r s"),      // fully distinct
      (3L, "solo")          // single token: no bigrams
    ).toDF("doc_id", "text")
    val m = Repetition.signalsFor(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    val d1 = m(1L)
    assert(d1.getAs[Long]("n_tokens") === 4L)
    assert(d1.getAs[Long]("n_distinct_tokens") === 1L)
    assert(d1.getAs[Double]("distinct_token_ratio") === 0.25)
    assert(d1.getAs[Double]("top_token_frac") === 1.0)
    // bigrams: "a a" x3 -> dup frac 2/3, top frac 1
    assert(d1.getAs[Long]("n_bigrams") === 3L)
    assert(d1.getAs[Double]("dup_bigram_frac") === 2.0 / 3.0)
    assert(d1.getAs[Double]("top_bigram_frac") === 1.0)

    val d2 = m(2L)
    assert(d2.getAs[Double]("distinct_token_ratio") === 1.0)
    assert(d2.getAs[Double]("dup_bigram_frac") === 0.0)
    assert(d2.getAs[Double]("top_bigram_frac") === 1.0 / 3.0)

    val d3 = m(3L)
    assert(d3.getAs[Long]("n_bigrams") === 0L)
    assert(d3.getAs[Double]("dup_bigram_frac") === 0.0)
    assert(d3.getAs[Double]("top_bigram_frac") === 0.0)
  }

  // ----- packed shard payloads -----

  test("packed payloads agree with the shard manifest: token totals, " +
    "doc counts, and first-doc prefix") {
    val payloads = Pack.packedPayloads(spark, sf)
    val manifest = Pack.shardManifest(spark, sf)
    val docs = graft.core.Tables.documents(spark, sf)

    val joined = payloads.join(manifest, "shard_id")
      .withColumn("payload_tokens",
        size(split(col("payload"), " ")).cast("long"))
    // concatenating in doc order preserves every token exactly once:
    // whitespace-token count of the blob == sum of member weights
    assert(joined.where(col("payload_tokens") =!= col("shard_tokens"))
      .count() === 0L)
    assert(joined.where(payloads("n_docs") =!= manifest("n_docs"))
      .count() === 0L)
    // each payload begins with its first member's text
    val bad = joined.join(
        docs.select(col("doc_id").as("first_doc"), col("text")), "first_doc")
      .where(!col("payload").startsWith(col("text"))).count()
    assert(bad === 0L)
  }

  test("packIntoShards is partition-count-invariant: identical results " +
    "at numParts 3, 7, and the size-derived default") {
    val docs = graft.core.Tables.documents(spark, sf)
    def packed(parts: Int): Set[(Long, Long, Long, Long)] =
      Pack.packIntoShards(docs, "doc_id",
          size(split(col("text"), " ")), budget = 4096L, numParts = parts)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val auto = packed(0)
    assert(packed(3) === auto)
    assert(packed(7) === auto)
  }

  test("lengthBucketBatches: buckets respect bit length, batches stay " +
    "under cap + one doc, equals the window-function reference form") {
    val cap = 2048L
    val got = Pack.lengthBucketBatches(spark, sf, cap).cache()
    // every doc present exactly once
    val docs = graft.core.Tables.documents(spark, sf)
    assert(got.count() === docs.count())
    assert(got.select("doc_id").distinct().count() === docs.count())
    // bucket = bit length of n_toks
    assert(got.where(col("bucket") =!=
      length(bin(col("n_toks")))).count() === 0L)
    // capacity quantization: every batch's tokens < cap + its max doc,
    // and every batch except a bucket's last holds >= cap... the DIV
    // rule guarantees tokens > cap - max_doc for non-final batches;
    // assert the two-sided bound on ALL batches vs their own members
    val man = Pack.batchManifest(spark, sf, cap)
    assert(man.where(col("batch_tokens") >=
      lit(cap) + col("padded_tokens") / col("n_docs")).count() === 0L,
      "a batch exceeds cap by a full longest-member")
    // padded_tokens >= batch_tokens always (pad-to-max)
    assert(man.where(col("padded_tokens") < col("batch_tokens"))
      .count() === 0L)
    // differential: the distributed form equals the textbook
    // per-bucket window cumsum
    val ref = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("bucket", length(bin(col("n_toks"))))
      .withColumn("h", md5(concat(lit("graft:batch:0:"),
        col("doc_id").cast("string"))))
      .withColumn("cum", sum("n_toks").over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket")
          .orderBy("h", "doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .select(col("doc_id"), col("bucket"),
        expr(s"(cum - n_toks) DIV $cap").as("batch_id"),
        col("n_toks"))
    assert(got.except(ref).count() === 0L && ref.except(got).count() === 0L)
  }

  test("packSequences: spans tile every doc and fill every sequence " +
    "to exactly seqLen except the tail; partition-count-invariant") {
    val spans = graft.ops.Pack.docSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(spans.nonEmpty)
    // per doc: fragments reconstruct the doc contiguously
    spans.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._4) // by doc_off
      assert(sorted.map(_._5).sum === sorted.head._6, s"doc $doc tokens")
      var expectOff = 0L
      sorted.foreach { case (_, _, _, off, n, _) =>
        assert(off === expectOff, s"doc $doc gap at $off"); expectOff += n
      }
      // consecutive fragments land in consecutive sequences
      assert(sorted.map(_._2) === (sorted.head._2 until
        sorted.head._2 + sorted.length))
    }
    // per sequence: exactly 512 tokens except the last; offsets tile
    val last = spans.map(_._2).max
    spans.groupBy(_._2).foreach { case (seq, ss) =>
      val total = ss.map(_._5).sum
      if (seq < last) assert(total === 512L, s"seq $seq fill")
      else assert(total <= 512L)
      val sorted = ss.sortBy(_._3)
      var expectOff = 0L
      sorted.foreach { case (_, _, off, _, n, _) =>
        assert(off === expectOff, s"seq $seq gap"); expectOff += n
      }
    }
    // fragment accounting matches the manifest
    val man = graft.ops.Pack.sequenceManifest(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    spans.groupBy(_._2).foreach { case (seq, ss) =>
      assert(man(seq) === ((ss.length.toLong, ss.map(_._5).sum,
        ss.count(s => s._5 < s._6).toLong)))
    }
    // the prefix sum behind it is partition-layout-invariant
    val alt = graft.ops.Pack.packSequences(
        graft.core.Tables.documents(spark, sf).repartition(7), "doc_id",
        size(split(col("text"), " ")), seqLen = 512L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(alt === spans.toSet)
  }

  // ----- semantic (embedding) dedup -----

  test("semanticDedup refines the exact embedding clustering: pair " +
    "precision 1.0, recall above 0.8") {
    def coPairs(clusters: Map[Long, Long]): Set[(Long, Long)] =
      clusters.groupBy(_._2).values.flatMap { m =>
        val ids = m.keys.toSeq.sorted
        for (i <- ids.indices; j <- i + 1 until ids.size)
          yield (ids(i), ids(j))
      }.toSet

    val exact = Components.connectedComponents(
        Similarity.normalized(spark, sf).select(col("vec_id").as("node")),
        Similarity.nearDupPairsExact(spark, sf)
          .select(col("vec_a").as("src"), col("vec_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sem = Similarity.semanticDedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(sem.keySet === exact.keySet) // every vector is clustered
    val exactPairs = coPairs(exact)
    val semPairs = coPairs(sem)
    // within-cell pairs are exact-cosine verified, and CC only merges
    // through verified pairs -> semantic clusters never merge vectors
    // the exact clustering keeps apart
    assert((semPairs -- exactPairs).isEmpty,
      s"semantic co-clustered pairs not in exact: ${semPairs -- exactPairs}")
    val recall = if (exactPairs.isEmpty) 1.0
      else exactPairs.intersect(semPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"semantic dedup recall $recall")
    // survivors = one per cluster
    val surv = Similarity.semanticDedupSurvivors(spark, sf).count()
    assert(surv === sem.values.toSet.size)
  }

  test("exact-duplicate vector collapse is output-invariant: a " +
    "corpus with replicated embeddings clusters every copy with its " +
    "base vector's cluster") {
    // 3 exact copies of every embedding, ids offset so rep-0 keeps the
    // base id (the collapse representative) — the worst-case clique
    // input the collapse exists for
    val base = Similarity.semanticDedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = tempDir("graft-semdup")
    graft.core.Tables.embeddings(spark, sf)
      .crossJoin(spark.range(3).toDF("rep"))
      .withColumn("vec_id", col("vec_id") + col("rep") * 1000000000L)
      .drop("rep")
      .write.parquet(s"$dir/embeddings.parquet")
    val dup = Similarity.semanticDedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup.size === base.size * 3)
    // every copy lands in its base vector's cluster: copies connect to
    // their rep via star edges, reps reproduce the base clustering
    // (same representative ids, same centroids, same verified pairs)
    dup.foreach { case (id, cluster) =>
      assert(cluster === base(id % 1000000000L),
        s"copy $id clustered to $cluster, base expects ${base(id % 1000000000L)}")
    }
  }

  test("centroid screen (SemDeDup-paper variant): planted exact and " +
    "near copies collapse, labels are total and deterministic, and no " +
    "pairwise term exists in the plan") {
    val base = Similarity.normalized(spark, sf).select("vec_id", "vec")
      .localCheckpoint()
    val n = base.count()
    val copies = base.select((col("vec_id") + n).as("vec_id"), col("vec"))
    val near = base.select((col("vec_id") + 2 * n).as("vec_id"),
      graft.functions.VectorFunctions.normalize(
        zip_with(col("vec"), reverse(col("vec")),
          (a, b) => a + lit(0.001) * b)).as("vec"))
    val aug = base.unionByName(copies).unionByName(near)
    val got = Similarity.semanticDedupCentroidFor(aug)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 3 * n)
    // exact copies: identical vector ⇒ same cell, same centroid-sim,
    // gap 0 ⇒ ALWAYS one cluster with the base
    (0L until n).foreach { i =>
      assert(got(i) === got(i + n), s"exact copy $i split from base") }
    // near copies (cos ≳ 1-1e-6): allow the rare cell-boundary split
    val nearCaught = (0L until n).count(i => got(i) === got(i + 2 * n))
    assert(nearCaught * 10L >= n * 9L,
      s"near copies caught $nearCaught of $n")
    // deterministic repeat (same session, same seeded build)
    val again = Similarity.semanticDedupCentroidFor(aug)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
    // the whole point of the screen: no corpus×corpus pair join ever
    // forms. The BroadcastNestedLoopJoins present are the intended
    // n×k centroid scoring passes (probeCells: corpus ⨯ broadcast
    // k-row centroid table — bounded by k, not by pair count); what
    // must be absent is an unbroadcast product or an equi-join of the
    // corpus with itself on a pair condition.
    val plan = Similarity.semanticDedupCentroidFor(aug)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // honesty measurement, not a gate: the 1-D screen is built for the
    // duplicate regime; moderate-similarity pairs (tau 0.4 on this
    // near-random corpus) are NOT expected to collapse — record that
    // the screen is conservative there rather than pretending recall
    val exactPairs = Similarity.nearDupPairsExact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val basePart = got.filter(_._1 < n)
    val caught = exactPairs.count { case (a, b) =>
      basePart(a) == basePart(b) }
    info(s"moderate-regime (tau=0.4) pairs co-clustered by the screen: " +
      s"$caught of ${exactPairs.size} — screening targets the " +
      "duplicate regime; use semanticDedupClusters for tau-level dedup")
  }

  test("two-level cell assignment with full coarse probe is EXACTLY " +
    "single-level assignment") {
    val corpus = Similarity.normalized(spark, sf)
    val cents = Similarity.ivfCentroidsDf(corpus, 16).localCheckpoint()
    val single = Similarity.probeCells(corpus, cents, 1)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // coarseProbe = coarseK ⇒ every fine centroid is scored, so the
    // two-level argmax must reproduce the single-level one bit-for-bit
    val two = Similarity.assignCellsTwoLevel(corpus, cents,
        coarseK = 4, coarseProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(two === single)
  }

  test("semanticDedup through the two-level probe keeps pair precision " +
    "1.0 and recall parity with the single-level path") {
    def coPairs(clusters: Map[Long, Long]): Set[(Long, Long)] =
      clusters.groupBy(_._2).values.flatMap { m =>
        val ids = m.keys.toSeq.sorted
        for (i <- ids.indices; j <- i + 1 until ids.size)
          yield (ids(i), ids(j))
      }.toSet
    val exactPairs = coPairs(Components.connectedComponents(
        Similarity.normalized(spark, sf).select(col("vec_id").as("node")),
        Similarity.nearDupPairsExact(spark, sf)
          .select(col("vec_a").as("src"), col("vec_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // twoLevelFrom = 1 forces the two-level assignment at test scale
    val sem = Similarity.semanticDedupClusters(spark, sf, twoLevelFrom = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val semPairs = coPairs(sem)
    assert((semPairs -- exactPairs).isEmpty,
      s"two-level co-clustered pairs not in exact: ${semPairs -- exactPairs}")
    val recall = if (exactPairs.isEmpty) 1.0
      else exactPairs.intersect(semPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"two-level semantic dedup recall $recall")
  }

  test("screened hybrid semantic dedup: planted exact AND near copies " +
    "co-cluster 100%, tau precision 1.0 vs the exact closure, recall " +
    "parity with the unscreened path, deterministic") {
    val base = Similarity.normalized(spark, sf).select("vec_id", "vec")
      .localCheckpoint()
    val n = base.count()
    val copies = base.select((col("vec_id") + n).as("vec_id"), col("vec"))
    val near = base.select((col("vec_id") + 2 * n).as("vec_id"),
      graft.functions.VectorFunctions.normalize(
        zip_with(col("vec"), reverse(col("vec")),
          (a, b) => a + lit(0.001) * b)).as("vec"))
    val aug = base.unionByName(copies).unionByName(near).localCheckpoint()
    val got = Similarity.semanticDedupClustersScreenedFor(aug)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 3 * n) // labels total
    // the composition's claim vs the screen alone: near copies that
    // straddle a cell boundary fall through to the pairwise tau stage
    // (cos ≳ 1-1e-6 ≥ 0.4), so BOTH plant families co-cluster 100% —
    // no ≥90% band needed
    (0L until n).foreach { i =>
      assert(got(i) === got(i + n), s"exact copy $i split from base")
      assert(got(i) === got(i + 2 * n), s"near copy $i split from base")
    }
    // precision 1.0: every screened co-pair is in the exact tau
    // closure (screen merges are near-identity pairs >= tau; pairwise
    // merges are exact-cosine verified)
    def coPairs(clusters: Map[Long, Long]): Set[(Long, Long)] =
      clusters.groupBy(_._2).values.flatMap { m =>
        val ids = m.keys.toSeq.sorted
        for (i <- ids.indices; j <- i + 1 until ids.size)
          yield (ids(i), ids(j))
      }.toSet
    import graft.functions.VectorFunctions.dot
    val exactPairs = aug.as("a")
      .join(aug.as("b"), col("a.vec_id") < col("b.vec_id"))
      .where(dot(col("a.vec"), col("b.vec")) >= 0.4)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val exact = Components.connectedComponents(
        aug.select(col("vec_id").as("node")), exactPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactCo = coPairs(exact)
    val gotCo = coPairs(got)
    assert((gotCo -- exactCo).isEmpty,
      s"screened co-pairs outside the exact closure: ${gotCo -- exactCo}")
    val recall = if (exactCo.isEmpty) 1.0
      else exactCo.intersect(gotCo).size.toDouble / exactCo.size
    assert(recall >= 0.8, s"screened hybrid recall $recall")
    // determinism (seeded builds, same session)
    val again = Similarity.semanticDedupClustersScreenedFor(aug)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("trainingShardsSemantic: gate flags all pass; packed totals " +
    "reconcile and the semantic stage only removes") {
    val gate = graft.ops.Corpus.trainingShardsSemanticGate(spark, sf)
      .collect().head
    assert(gate.getInt(0) === 1, "exact copies not all co-clustered")
    assert(gate.getInt(1) === 1, "near copies not all co-clustered")
    assert(gate.getInt(2) === 1, "packed docs != composed survivor set")
    assert(gate.getInt(3) === 1, "semantic shards not a subset")
    val sem = graft.ops.Corpus.trainingShardsSemantic(spark, sf).collect()
    assert(sem.nonEmpty)
    // payload token counts reconcile per shard (the trainingShards
    // payload contract holds through the composition)
    sem.foreach { r =>
      assert(r.getAs[String]("payload").split(" ", -1).length.toLong ===
        r.getAs[Long]("shard_tokens"))
    }
  }

  // ----- end-to-end composed pipeline -----

  test("trainingShards: shard token totals, doc counts, and payloads " +
    "reconcile with the survivor set") {
    val shards = graft.ops.Corpus.trainingShards(spark, sf).collect()
    // survivors = governed ∩ quality-filtered, recomputed independently
    val docs = graft.core.Tables.documents(spark, sf)
    val survivors = docs.select("doc_id", "text")
      .join(graft.ops.Decontaminate.governedCorpus(spark, sf)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(graft.ops.TextStats.qualityFiltered(spark, sf)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .collect()
    assert(shards.map(_.getAs[Long]("n_docs")).sum === survivors.length)
    val totalTokens = survivors
      .map(_.getString(1).split(" ", -1).length.toLong).sum
    assert(shards.map(_.getAs[Long]("shard_tokens")).sum === totalTokens)
    // each payload is its member docs joined by single spaces, so its
    // whitespace token count equals the shard's token total
    shards.foreach { r =>
      assert(r.getAs[String]("payload").split(" ", -1).length.toLong ===
        r.getAs[Long]("shard_tokens"))
    }
    // budget respected: every shard's PREDECESSOR content fits 4096
    // (the overhang doc that closes a shard may run past it)
    val sorted = shards.sortBy(_.getAs[Long]("shard_id"))
    assert(sorted.map(_.getAs[Long]("shard_id")).toSeq ===
      sorted.indices.map(_.toLong))
  }

  test("trainingShardsMixed: row/token totals reconcile with the " +
    "mixed survivor set; repeats of a doc scatter across shards") {
    val shards = graft.ops.Corpus.trainingShardsMixed(spark, sf).collect()
    val docs = graft.core.Tables.documents(spark, sf)
    val survivors = docs.select("doc_id", "text", "source")
      .join(graft.ops.Decontaminate.governedCorpus(spark, sf)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(graft.ops.TextStats.qualityFiltered(spark, sf)
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val mixed = graft.ops.Mix.corpusMixFor(survivors)
      .join(docs.select("doc_id", "text"), "doc_id").collect()
    assert(shards.map(_.getAs[Long]("n_rows")).sum === mixed.length)
    val totalTokens = mixed
      .map(_.getAs[String]("text").split(" ", -1).length.toLong).sum
    assert(shards.map(_.getAs[Long]("shard_tokens")).sum === totalTokens)
    shards.foreach { r =>
      assert(r.getAs[String]("payload").split(" ", -1).length.toLong ===
        r.getAs[Long]("shard_tokens"))
    }
    // the epoch salt scatters: at least one multi-epoch doc's repeats
    // land in more than one shard (vacuous only if nothing upsampled,
    // which the src0 weight of 2.5 prevents)
    val multi = mixed.groupBy(_.getAs[Long]("doc_id"))
      .filter(_._2.length > 1).keys.toSet
    assert(multi.nonEmpty, "no upsampled docs — weights not applied?")
    // scatter: multi-epoch docs' keys carry the epoch inside the md5,
    // so repeats sort far apart — assert at least one doc's epochs land
    // > n/4 positions apart in key order (shards follow key order)
    val keys = graft.ops.Mix.corpusMixFor(survivors)
      .select(col("doc_id"),
        concat(md5(concat(lit("graft:0:"), col("doc_id").cast("string"),
            lit(":"), col("epoch").cast("string"))),
          lit(":"), col("doc_id").cast("string"),
          lit(":"), col("epoch").cast("string")).as("k"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("k"))).toSeq
    val ordered = keys.map(_._2).sorted.zipWithIndex.toMap
    val spread = keys.groupBy(_._1).filter(_._2.length > 1).values.exists {
      g =>
        val pos = g.map(x => ordered(x._2))
        pos.max - pos.min > keys.length / 4
    }
    assert(spread, "epoch-salted keys do not scatter repeats")
  }

  test("trainingShardsChunked matches a naive in-memory recompute " +
    "(chunk, cross-doc dedup, pack) and the dedup stage is exercised") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // survivor set recomputed independently (same semi-joins)
    val docs = graft.core.Tables.documents(spark, sf)
    val survivors = docs.select("doc_id", "text")
      .join(graft.ops.Decontaminate.governedCorpus(spark, sf)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(graft.ops.TextStats.qualityFiltered(spark, sf)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // naive model: non-overlapping chunks per survivor. Window 16, not
    // the registered default 64: on this synthetic corpus the docs
    // sharing 64-token boilerplate are near-dups of each other, so the
    // upstream DOCUMENT-grain dedup already collapsed them and the
    // chunk stage would be vacuous (nothing removed). At window 16 two
    // duplicate chunks survive governance — the stage provably fires.
    val w = 16
    val chunks = survivors.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val iMax = if (toks.length > w) (toks.length - w + w - 1) / w else 0
      (0 to iMax).map { i =>
        (id, i.toLong, toks.slice(i * w, math.min(i * w + w, toks.length))
          .mkString(" "))
      }
    }
    // cross-doc exact dedup at chunk grain: min (doc, chunk) per text
    val kept = chunks.groupBy(_._3).map { case (_, g) =>
      g.minBy(c => (c._1, c._2))
    }.toSeq
    assert(kept.size < chunks.length,
      "no duplicate chunks in the survivor corpus — the dedup stage " +
        "is vacuous at this grain; pick a window that exercises it")
    // pack: md5-permuted doc order, chunk order within doc
    val keyed = kept.map { case (id, cid, text) =>
      val k = md5hex(s"graft:0:$id") + ":" + f"$id%012d" + ":" + f"$cid%06d"
      (k, text, text.split(" ", -1).length.toLong)
    }.sortBy(_._1)
    val cum = keyed.scanLeft(0L)(_ + _._3).tail
    val naive = keyed.zip(cum).map { case ((k, text, tw), c) =>
      ((c - tw) / 4096L, (k, text, tw))
    }.groupBy(_._1).map { case (sid, g) =>
      val inOrder = g.map(_._2).sortBy(_._1)
      (sid, (inOrder.length.toLong, inOrder.map(_._3).sum,
        inOrder.map(_._2).mkString(" ")))
    }
    val got = graft.ops.Corpus.trainingShardsChunked(spark, sf, window = w)
      .collect()
      .map(r => (r.getAs[Long]("shard_id"),
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("shard_tokens"),
          r.getAs[String]("payload")))).toMap
    assert(got.keySet === naive.keySet)
    naive.foreach { case (sid, exp) =>
      assert(got(sid) === exp, s"shard $sid diverges from naive model")
    }
  }

  test("trainingShardsChunked: no exchange in the dedup decision " +
    "carries chunk text, and text never rides the prefix-sum shuffle") {
    // the only text-bearing shuffles allowed in the whole plan are the
    // final shard groupBy and the (doc_id, chunk_id) re-attach join —
    // the fp-window dedup decision and the pack range pass are slim.
    // The pack pass hides behind packIntoShards' bounded cache, so the
    // collector descends into AQE roots and cached subplans.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def allExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => allExchanges(a.executedPlan)
      case i: InMemoryTableScanExec => allExchanges(i.relation.cachedPlan)
      // an already-executed AQE subtree (the pack cache materialized
      // during construction) wraps its exchanges in query stages
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allExchanges(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allExchanges(r.child)
      case e: ShuffleExchangeExec =>
        e +: e.children.flatMap(allExchanges)
      case other => other.children.flatMap(allExchanges)
    }
    val plan = graft.ops.Corpus.trainingShardsChunked(spark, sf)
      .queryExecution.executedPlan
    val exchanges = allExchanges(plan)
    assert(exchanges.nonEmpty, s"no exchanges found:\n$plan")
    val textBearing = exchanges.filter(
      _.output.exists(a => a.name.contains("chunk_text") || a.name == "text"))
    // anything keyed by fp (dedup decision) or range-partitioned by
    // the pack key must not carry text
    exchanges.foreach { e =>
      val key = e.outputPartitioning.toString
      val slim = key.contains("fp#") || (key.contains("rangepartitioning") &&
        key.contains("k#"))
      if (slim)
        assert(!e.output.exists(a =>
          a.name.contains("chunk_text") || a.name == "text" ||
            a.name == "toks"),
          s"text crosses a slim-keyed exchange: ${e.output.map(_.name)}")
    }
    // and the dedup decision exchange (keyed by fp) must exist + be slim
    val fpEx = exchanges.filter(_.outputPartitioning.toString.contains("fp#"))
    assert(fpEx.nonEmpty, "fp-window dedup exchange not found; " +
      s"exchanges seen: ${exchanges.map(e =>
        e.outputPartitioning.toString + " -> " + e.output.map(_.name))}; " +
      s"leaf classes: ${(plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collectLeaves().map(_.getClass.getName)}")
    fpEx.foreach { e =>
      assert(e.output.map(_.name).toSet
        .subsetOf(Set("fp", "doc_id", "chunk_id", "w0")),
        s"dedup exchange payload not slim: ${e.output.map(_.name)}")
    }
    // text-bearing exchanges exist only at the re-attach join and the
    // shard groupBy — both keyed by ids, never fp or the range key
    assert(textBearing.forall { e =>
      val k = e.outputPartitioning.toString
      k.contains("doc_id#") || k.contains("shard_id#")
    }, "text rides an exchange other than re-attach/shard-groupBy")
  }

  // ----- deterministic corpus shuffle -----

  test("corpusShuffle is a permutation, matches the single-task global " +
    "window, and is deterministic") {
    val a = Pack.corpusShuffle(spark, sf)
    val n = graft.core.Tables.documents(spark, sf).count()

    val rows = a.collect()
    assert(rows.length === n)
    // positions are exactly 1..n
    assert(rows.map(_.getAs[Long]("shuffle_pos")).sorted.toSeq
      === (1L to n).toSeq)
    // shards bounded
    assert(rows.forall { r =>
      val s = r.getAs[Long]("shard"); s >= 0 && s < 8 })

    // distributed prefix-sum order == naive global ROW_NUMBER order
    val naive = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        concat(md5(concat(lit("graft:0:"), col("doc_id").cast("string"))),
          lit(":"), col("doc_id").cast("string")).as("k"))
      .withColumn("pos", row_number().over(Window.orderBy("k")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val mism = a.join(naive, "doc_id")
      .where(col("shuffle_pos") =!= col("pos")).count()
    assert(mism === 0L)

    // deterministic across invocations
    val b = Pack.corpusShuffle(spark, sf)
    assert(a.exceptAll(b).count() === 0L)

    // a different seed actually permutes differently
    val other = Pack.corpusShuffle(spark, sf, seed = 1)
    val same = a.select("doc_id", "shuffle_pos")
      .intersect(other.select("doc_id", "shuffle_pos")).count()
    assert(same < n, s"seed 1 left all $n positions unchanged")
  }
}
