package graft

import graft.core.Session

/** Per-round benchmark: every registered query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Measurement notes:
  *  - Each query is forced through the `noop` sink — full plan
  *    execution and row materialization, no driver collect and no
  *    count-only shortcuts.
  *  - One session-warmup pass (tiny action + one cheap query) runs
  *    first so JVM/codegen startup isn't billed to the first query.
  *  - Streaming throughput (events rows/s through the §2.4 aggregate
  *    with Trigger.AvailableNow) is reported alongside wall-clocks.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // session warmup: JIT, codegen, parquet reader init
    spark.range(1000000).selectExpr("sum(id)").collect()
    force(SparkEntry.queries("q_distinct_types")(spark, sfDir))

    // SPARK_GRAFT_BENCH_SKIP: comma-separated query names to leave
    // out of the board — used by the decade/2-decade scale runs to
    // exclude the LABELED quadratic oracles and md5 portability twins
    // (their scale-path siblings stay in). Default: run everything.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // loud on a typo'd/renamed skip name: a silently-unskipped
    // quadratic oracle costs hours (or an OOM) on a decade board
    val unknownSkips = skip.diff(SparkEntry.queries.keySet)
    require(unknownSkips.isEmpty,
      s"SPARK_GRAFT_BENCH_SKIP names not in the registry: " +
        s"${unknownSkips.toSeq.sorted.mkString(",")}")
    if (skip.nonEmpty)
      System.err.println(s"[bench] skipping ${skip.size} queries: " +
        skip.toSeq.sorted.mkString(","))

    // best-of-2 per query, taken across two SEPARATED full passes over
    // the board (pass A runs every query once, then pass B repeats).
    // Adjacent duplicate runs — the old form — give no protection
    // against time-LOCALIZED noise: a single multi-second host event
    // (GC/page-flush burst) straddles both back-to-back runs of 2-5
    // consecutive cheap queries and the board records a phantom 4-15×
    // "regression" for an alphabetical window (observed twice: the r10
    // media family, the r11 q_corpus_mix..q_cube window — neither
    // reproducible in isolation). Separated passes keep the same total
    // work and still time cold plans (plans aren't cached across
    // runs); one-off JIT costs land in pass A and min() picks the
    // steady pass, exactly as before.
    // SPARK_GRAFT_BENCH_STREAMONLY=1 empties the board and runs ONLY
    // the streaming-throughput section — the sbt-bound part — so a
    // scale vintage can refresh its stream numbers without re-paying
    // a multi-hour per-query board (the sbt-free board supplies those)
    val streamOnly =
      sys.env.get("SPARK_GRAFT_BENCH_STREAMONLY").contains("1")
    val board = (if (streamOnly) Seq.empty
       else SparkEntry.queries.toSeq.sortBy(_._1))
      .filterNot { case (n, _) => skip(n) }
    def onePass(): Map[String, Double] = board.map { case (name, fn) =>
      val t = try {
        val t0 = System.nanoTime()
        force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
      // drop any cache the query built (LSH/IVF corpus caches) so
      // later queries aren't timed under accumulated memory pressure
      spark.catalog.clearCache()
      name -> t
    }.toMap
    // SPARK_GRAFT_BENCH_PASSES=1 runs a single pass — the knob for the
    // multi-hour scale boards (sf10: two separated passes cost ~3 h of
    // wall for a board whose consumers are decade RATIOS read at the
    // >10x-triage threshold; single-pass noise is well inside that).
    // Default stays 2 (min across separated passes, the r11 cold-plan
    // discipline) for every driver-contract sf0.1 run.
    // tolerant parse: a malformed or non-positive value falls back to
    // the 2-pass default instead of killing the board after warmup
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(2)
    val passA = onePass()
    val passB = if (passes > 1) onePass() else passA
    val results = board.map { case (name, _) =>
      val (a, b) = (passA(name), passB(name))
      name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }

    // SPARK_GRAFT_BENCH_NOSTREAM=1 skips the streaming-throughput
    // section (stream_* fields report -1), so a multi-hour scale board
    // pays only for the per-query rows; measure the stream separately
    // (SPARK_GRAFT_BENCH_STREAMONLY=1, or RunOne q_stream_agg).
    val noStream = sys.env.get("SPARK_GRAFT_BENCH_NOSTREAM").contains("1")

    // streaming throughput + per-micro-batch latency: pace the file
    // stream into multiple batches and read batch durations from the
    // query's progress events (BASELINE.md bench obligations)
    val (streamSec, rowsPerSec, batchDurations) = if (noStream) {
      // no events count here: it would pay a full events scan per
      // board solely to feed fields that report -1 anyway
      (-1.0, -1.0, Seq.empty[Double])
    } else {
      val nEvents = graft.core.Tables.events(spark, sfDir).count()
      // split into multiple files so maxFilesPerTrigger yields real
      // micro-batches (the source table is a single parquet file)
      val chunkDir = graft.ops.Scratch.dir("graft-bench-stream")
      graft.core.Session.withConf(spark,
          "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        graft.core.Tables.events(spark, sfDir)
          .repartition(8)
          .write.mode("overwrite").parquet(chunkDir)
      }
      val t0 = System.nanoTime()
      val name = "bench_stream"
      val agg = graft.streaming.StreamAggregator.dailyAggExact(
        graft.streaming.StreamAggregator.replayStream(spark,
          chunkDir, maxFilesPerTrigger = Some(2)))
      // one state store and rename-only local checkpoint commits, fixed
      // at start (StreamAggregator.withStreamShuffle): per-batch state
      // and log commits, not aggregation, dominate a bounded-key stream
      val q = graft.streaming.StreamAggregator.withStreamShuffle(spark) {
        agg.writeStream
          .outputMode("complete").format("memory").queryName(name)
          .option("checkpointLocation",
            graft.ops.Scratch.dir("graft-bench-ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, nEvents / sec, q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(_.batchDuration.toDouble / 1000.0))
    }
    val avgBatchSec =
      if (batchDurations.nonEmpty) batchDurations.sum / batchDurations.size
      else streamSec
    // setup (first batch carries stream/checkpoint/codegen init) vs
    // steady state (what a long-running stream actually costs per batch)
    val firstBatchSec = batchDurations.headOption.getOrElse(streamSec)
    val steadyBatchSec =
      if (batchDurations.size > 1) batchDurations.tail.sum / (batchDurations.size - 1)
      else firstBatchSec

    // golden parity replay wall-clock (only when the reference data is
    // mounted): full hotel-weather pipeline, match asserted
    val refPath = "/root/reference/m13sparkstreaming/hotel-weather"
    val (goldenSec, goldenMatch) =
      if (new java.io.File(refPath).isDirectory) {
        val g0 = System.nanoTime()
        val got = graft.engine.HotelWeather.goldenPipeline(spark, refPath)
          .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
        ((System.nanoTime() - g0) / 1e9,
          got == graft.engine.HotelWeather.goldenTop10)
      } else (-1.0, false)

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum

    // Round-over-round deltas, computed mechanically instead of by
    // judge-side JSON surgery: ratio of this run's time to the
    // previous full artifact's (same file we are about to overwrite),
    // per common query, plus the common-query total ratio. > 1 = this
    // run is slower. The previous artifact is our own single-line
    // write, so a bounded regex parse of its "queries" object is safe.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "BENCH_full_latest.json")
    // without the suffix every replaceAll below is a no-op: the SF
    // sidecar, the _stream sidecar and the driver-contract file all
    // collapse onto ONE path and the different-SF guard never fires —
    // fail loud instead of silently clobbering the baseline
    require(fullPath.endsWith(".json"),
      s"SPARK_GRAFT_BENCH_FULL must end in .json, got $fullPath")
    // deltas are only meaningful against the SAME scale factor — and a
    // local sf0.01 iteration run must never CLOBBER the driver's sf0.1
    // baseline either (that would silently empty the next driver
    // delta). So each SF keeps its own sidecar latest file
    // (BENCH_full_latest_sf0.01.json, …) used for prev-lookup and
    // always rewritten; the un-suffixed fullPath is the driver
    // contract and is only overwritten by a run at the same SF it
    // already holds (or when absent/unreadable).
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    val sfPath = fullPath.replaceAll("\\.json$", s"_$sfBase.json")
    def readQueries(path: String): Map[String, Double] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isReadable(p)) Map.empty
      else {
        val text = java.nio.file.Files.readString(p)
        val sameSf = """"sf":"([^"]*)"""".r.findFirstMatchIn(text)
          .exists(_.group(1) == sfDir)
        if (!sameSf) Map.empty
        else {
          val obj = """"queries":\{([^}]*)\}""".r
            .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
          """"([A-Za-z0-9_]+)":(-?[0-9.Ee+-]+)""".r.findAllMatchIn(obj)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    }
    val prev: Map[String, Double] = {
      val side = readQueries(sfPath)
      if (side.nonEmpty) side else readQueries(fullPath)
    }
    val deltas = results.collect {
      case (name, t) if t > 0 && prev.getOrElse(name, -1.0) > 0 =>
        name -> t / prev(name)
    }
    // Locale.ROOT, never the f-interpolator: under a comma-decimal
    // default locale (de_DE) "%.3f" emits "1,003" and the JSON line —
    // and the next run's regex parse of it — silently breaks
    def f3(r: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(r))
    val deltaJson = deltas.sortBy(-_._2)
      .map { case (k, r) => "\"" + k + "\":" + f3(r) }
      .mkString("{", ",", "}")
    val commonNow = deltas.map { case (n, _) => results.toMap.apply(n) }.sum
    val commonPrev = deltas.map { case (n, _) => prev(n) }.sum
    val totalDelta =
      if (commonPrev > 0) f3(commonNow / commonPrev) else "-1"

    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"delta_vs_prev":$deltaJson,"delta_total_common":$totalDelta,"delta_common_queries":${deltas.size},"stream_rows_per_sec":$rowsPerSec,"stream_sec":$streamSec,"stream_avg_batch_sec":$avgBatchSec,"stream_first_batch_sec":$firstBatchSec,"stream_steady_batch_sec":$steadyBatchSec,"stream_batches":${batchDurations.size},"golden_replay_sec":$goldenSec,"golden_match":$goldenMatch,"sf":"$sfDir"}"""
    println(line)
    // The stdout line gets truncated in round artifacts (BENCH_rNN.json
    // historically cut off mid-`queries`, hiding 34/88 timings) — so the
    // SAME line is also written untruncated to a committed file. The
    // round snapshot copies it to BENCH_full_rNN.json.
    // a STREAMONLY run has an empty queries object — writing it to the
    // sidecar/full artifacts would wipe their per-query baselines, so
    // it gets its own `_stream` sidecar and touches nothing else
    if (streamOnly) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        sfPath.replaceAll("\\.json$", "_stream.json")), line + "\n")
    } else {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(sfPath),
        line + "\n")
      // only take over the driver-contract file when it is absent or
      // already holds this SF — a different-SF baseline stays intact
      val fp = java.nio.file.Paths.get(fullPath)
      val fullHoldsOtherSf = java.nio.file.Files.isReadable(fp) &&
        """"sf":"([^"]*)"""".r
          .findFirstMatchIn(java.nio.file.Files.readString(fp))
          .exists(_.group(1) != sfDir)
      // SPARK_GRAFT_BENCH_TAKEOVER=1 forces the write (e.g. after the
      // canonical SF itself changes and the old baseline must retire)
      if (!fullHoldsOtherSf ||
          sys.env.get("SPARK_GRAFT_BENCH_TAKEOVER").contains("1"))
        java.nio.file.Files.writeString(fp, line + "\n")
    }
    spark.stop()
  }
}
