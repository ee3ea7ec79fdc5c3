package graft

import graft.core.Session

/** Time a single registered query against a data dir — the triage
  * loop for per-query scaling work (`BENCH_full_latest_sf1.json`
  * ratios): `sbt "runMain graft.RunOne q_embed_near_dup_lsh
  * /tmp/sf1"`. Same session shape and noop-sink discipline as
  * [[Bench]] — with one DEFAULT divergence to know when reproducing a
  * board row: with SPARK_GRAFT_CPUS unset, RunOne runs local[32] (the
  * repo's floor convention, every SCALE.md floor row) while Bench
  * defaults to local[4]; set the env var to the board's value when
  * the regression under triage could be parallelism-shaped. The cpus
  * used are printed in every output row so floors self-describe.
  * Prints best-of-2 like the bench row it reproduces. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: RunOne <query> [sfDir] [cpus]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = Session.build(cpus.toInt)
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    // `name` may be a comma-separated sequence: each runs in order in
    // the SAME JVM/session (bench-board conditions) — the A/B tool for
    // "query X is only slow when it runs after query Y" effects.
    // GRAFT_RUNONE_RUNS>2 prints each query's whole run sequence —
    // separates the JIT/codegen floor from the steady-state cost when
    // a cheap query regresses on the board (the bench bills best-of-2,
    // so a floor shift and a real regression look identical there).
    // tolerant parse (the Bench PASSES discipline): a malformed or
    // non-positive value falls back to 2 instead of killing the
    // triage run after the warmup has been paid
    val n = sys.env.get("GRAFT_RUNONE_RUNS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(2)
    // GRAFT_AB_CONF="conf.key=valA|valB": run each query n times under
    // A and n under B, INTERLEAVED (A B A B …) in one session — the
    // same-host same-JIT A/B that survives host drift, which separate
    // sessions minutes apart do not (observed 2x drift between two
    // back-to-back RunOne sessions in r17).
    val ab = sys.env.get("GRAFT_AB_CONF").map { s =>
      val Array(k, vs) = s.split("=", 2)
      val Array(a, b) = vs.split("\\|", 2)
      (k, a, b)
    }
    // GRAFT_RUNONE_STAGES=1: print per-stage wall/tasks after each
    // run — the "which stage is slow" instrument (guide §7.1) for a
    // UI-less sandbox.
    if (sys.env.get("GRAFT_RUNONE_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          // job-level callSite survives the SQLExecution thread hop
          // that blanks stage names ("withThreadLocalCaptured") — map
          // each stage back to its job's callSite for attribution
          private val jobSite =
            new java.util.concurrent.ConcurrentHashMap[Int, String]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val p = Option(js.properties)
            val site = p.flatMap(x =>
                Option(x.getProperty("spark.job.description")))
              .orElse(p.flatMap(x =>
                Option(x.getProperty("callSite.short"))))
              .getOrElse("?")
            js.stageIds.foreach(s => jobSite.put(s, site))
            ()
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val i = sc.stageInfo
            val ms = for {
              a <- i.completionTime; b <- i.submissionTime
            } yield a - b
            val m = i.taskMetrics
            if (ms.exists(_ >= 100))
              println(f"[stage] ${ms.get}%6d ms run=${m.executorRunTime}%5d " +
                f"deser=${m.executorDeserializeTime}%4d " +
                f"gc=${m.jvmGCTime}%4d tasks=${i.numTasks}%4d " +
                s"stage=${i.stageId} " +
                s"job=${jobSite.getOrDefault(i.stageId, "?")} " +
                s"${i.name.takeWhile(_ != '\n').take(60)}")
          }
        })
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query $q"))
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      ab match {
        case Some((k, a, b)) =>
          // ABBA order: alternating who goes first removes the
          // "A always pays the colder JIT/page-cache" bias that a
          // fixed AB AB order bakes in (observed ~0.3 s phantom wins)
          val (ra, rb) = (1 to math.max(2, n)).map { i =>
            def run(v: String): Double =
              graft.core.Session.withConf(spark, k -> v) {
                val t = once(); spark.catalog.clearCache(); t
              }
            if (i % 2 == 1) { val ta = run(a); (ta, run(b)) }
            else { val tb = run(b); (run(a), tb) }
          }.unzip
          println(f"[runone-ab] $q $k: $a=${ra.min}%.2f s vs " +
            f"$b=${rb.min}%.2f s  (A ${ra.map(t => f"$t%.2f").mkString(" ")}" +
            s" | B ${rb.map(t => f"$t%.2f").mkString(" ")})")
        case None =>
          val runs = (1 to n).map { _ =>
            val t = once(); spark.catalog.clearCache(); t
          }
          println(f"[runone] $q $sfDir cpus=$cpus best=${runs.min}%.2f s " +
            s"(runs ${runs.map(t => f"$t%.2f").mkString(" / ")})")
      }
    }
    spark.stop()
  }
}
