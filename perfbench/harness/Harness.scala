package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.core.Tables
import graft.streaming.{IncrementalProducer, StreamAggregator}

/** One benchmark run in one JVM: set up, then drive one workload in a
  * closed loop with a single client until `--seconds` have elapsed, and
  * write everything measured to `<out>/result.json` (plus
  * `<out>/trace.json` in traced mode). `perfbench/run.py` launches it,
  * checks the batch outputs against the DuckDB oracle and prints the
  * metrics.
  *
  * The program is only ever called through public functions:
  * `IncrementalProducer.dropDayFrom`, `StreamAggregator`,
  * `SparkEntry.queries` and `spark.sql` over the live sink. Per-layer
  * numbers come from Spark's own listener APIs ([[Layers]]).
  *
  * Honest cost: every timed batch call and every stream replay runs in
  * a fresh Spark application (stop + rebuild outside the timed span,
  * then a tiny warm action), so no session memo or cached index from an
  * earlier call can serve a later one while the JIT stays warm. The
  * application id of every timed unit is recorded; `run.py` fails the
  * run if two share one. */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, cores: Int, setups: Int,
      plant: String, queries: Seq[String])

  /** The notebook's cell-3 query (per-key best day by distinct count,
    * top 10) over a live complete-mode sink. */
  def top10Sql(sink: String): String =
    s"""SELECT event_type, day, distinct_users, avg_value, max_value, min_value
       |FROM (SELECT *, ROW_NUMBER() OVER (
       |        PARTITION BY event_type
       |        ORDER BY distinct_users DESC, day DESC) AS row_num
       |      FROM $sink) ranked
       |WHERE row_num = 1
       |ORDER BY distinct_users DESC, event_type LIMIT 10""".stripMargin

  // ---- session ---------------------------------------------------------

  /** The settings `graft.Bench` builds its session with. */
  def newSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "1024")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  // ---- run state -------------------------------------------------------

  final class Run(val conf: Conf) {
    val spans = new Spans(conf.trace)
    val layers = ArrayBuffer.empty[Layers]
    val setups = ArrayBuffer.empty[Double]
    val appIds = ArrayBuffer.empty[String]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val replays = ArrayBuffer.empty[Map[String, Any]]
    val orders = ArrayBuffer.empty[Seq[String]]
    var spark: SparkSession = _
    var layer: Layers = _

    /** Fresh application: stop the old one, build a new session, run a
      * tiny warm action, attach the listeners (traced mode only). */
    def restart(): Unit = {
      if (spark != null) {
        stopSession(spark)
        if (layer != null) layers += layer
      }
      spark = newSession(conf.cores)
      spark.range(0, 16, 1, 1).selectExpr("sum(id)").collect()
      layer = if (conf.trace) Layers.attach(spark) else null
    }

    def finish(): Unit = {
      if (spark != null) {
        stopSession(spark)
        if (layer != null) layers += layer
        spark = null
        layer = null
      }
    }
  }

  // ---- set-up ----------------------------------------------------------

  /** One set-up: fresh session, stage the inputs the workload reads, and
    * a warm action on the code paths its timed calls use. The first
    * set-up of a run also warms the JIT on the workload itself (eight
    * drops, or one untimed call of every query) so that timed calls do
    * not pay for compiling the code they share. */
  def setupOnce(run: Run, workload: String, jit: Boolean): Unit = {
    val c = run.conf
    run.restart()
    val spark = run.spark
    if (workload == "stream_replay") {
      val events = Tables.events(spark, c.data).cache()
      events.count()
      val days = IncrementalProducer.eventDays(spark, c.data)
      val dir = Files.createTempDirectory("perfbench-warm")
      replay(run, events, days.take(if (jit) 8 else 1), Long.MaxValue, dir,
        warm = true)
      events.unpersist()
    } else {
      val q = SparkEntry.queries("q_distinct_types")(spark, c.data)
      q.write.format("noop").mode("overwrite").save()
      if (jit) for (name <- c.queries)
        scala.util.Try(SparkEntry.queries(name)(spark, c.data)
          .write.format("noop").mode("overwrite").save())
    }
  }

  // ---- stream_replay ---------------------------------------------------

  /** Drops `days` one at a time into a fresh watched dir with a
    * long-running HLL++ complete-mode memory-sink query over it, running
    * the cell-3 top-10 after each drop. Stops early (after a whole drop)
    * once `deadline` passes. Unless `warm`, checks the result and records
    * the drops in `run.ops` and the replay in `run.replays`. */
  def replay(run: Run, events: DataFrame, days: Seq[String], deadline: Long,
      base: Path, warm: Boolean): Unit = {
    val spark = run.spark
    val idx = run.replays.size
    val watch = base.resolve("watch")
    Files.createDirectories(watch)
    val ckpt = base.resolve("ckpt").toString
    val sink = s"daily_agg_${if (warm) "warm" else idx.toString}"
    val processedAt = new Timestamp(1700000000000L)
    val span = if (warm) -1 else run.spans.open("replay", -1, s"r$idx")
    val drops = ArrayBuffer.empty[Map[String, Any]]
    var q: StreamingQuery = null
    var dropped = 0L
    var i = 0
    try {
      while (i < days.size && (i == 0 || now() < deadline)) {
        val day = days(i)
        val callId = s"${if (warm) "warm" else s"r$idx"}.d$i"
        val d0 = now()
        if (run.layer != null) run.layer.open()
        val sDrop = run.spans.open("drop", span, callId)
        val rows = IncrementalProducer.dropDayFrom(spark, events,
          watch.toString, day, processedAt)
        val d1 = now()
        run.spans.close(sDrop)
        if (q == null) {
          q = StreamAggregator.withStreamShuffle(spark) {
            StreamAggregator.dailyAgg(
              StreamAggregator.replayStream(spark, s"$watch/day=*"))
              .writeStream.outputMode("complete").format("memory")
              .queryName(sink).option("checkpointLocation", ckpt)
              .trigger(Trigger.ProcessingTime(0L))
              .start()
          }
        }
        val sBatch = run.spans.open("batch", span, callId)
        q.processAllAvailable()
        val d2 = now()
        run.spans.close(sBatch)
        val sTop = run.spans.open("top10", span, callId)
        spark.sql(top10Sql(sink)).collect()
        val d3 = now()
        run.spans.close(sTop)
        if (run.layer != null) run.layer.close()
        dropped += rows
        drops += Map("replay" -> idx, "day" -> day, "first" -> (i == 0),
          "rows" -> rows, "latency_ms" -> (d3 - d0) / 1e6,
          "drop_ms" -> (d1 - d0) / 1e6, "batch_ms" -> (d2 - d1) / 1e6,
          "top10_ms" -> (d3 - d2) / 1e6)
        i += 1
      }
    } finally if (q != null) q.stop()
    run.spans.close(span)
    if (warm) return

    // correctness, outside every timed span: the stream read each dropped
    // row once, and the final sink equals batch dailyAgg over the dropped
    // files; the top-10 equals the batch top-10
    val rowsRead = q.recentProgress.map(_.numInputRows).sum
    val batches = q.recentProgress.length
    val expected = StreamAggregator.dailyAgg(
      IncrementalProducer.readBack(spark, watch.toString))
    expected.createOrReplaceTempView(s"${sink}_expected")
    val problems = ArrayBuffer.empty[String]
    if (rowsRead != dropped)
      problems += s"stream read $rowsRead rows, $dropped dropped"
    problems ++= Check.sameAgg(spark.table(sink).collect(),
      expected.collect(), "sink", ordered = false)
    problems ++= Check.sameAgg(spark.sql(top10Sql(sink)).collect(),
      spark.sql(top10Sql(s"${sink}_expected")).collect(), "top10",
      ordered = true)
    if (run.conf.plant == "wrong_expected" && idx == 0)
      problems ++= Check.sameAgg(spark.table(sink).collect(),
        Check.perturb(expected.collect()), "planted", ordered = false)
    val files = Files.walk(watch).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
    val ok = problems.isEmpty
    drops.foreach(d => run.ops += (d + ("ok" -> ok)))
    run.replays += Map("app_id" -> spark.sparkContext.applicationId,
      "drops" -> drops.size, "rows_dropped" -> dropped,
      "rows_read" -> rowsRead, "batches" -> batches,
      "files_written" -> files.length,
      "bytes_written" -> files.map(Files.size(_)).sum,
      "ok" -> ok, "problems" -> problems.toSeq)
  }

  def streamReplay(run: Run): Unit = {
    val c = run.conf
    val rng = new Random(c.seed)
    val t0 = now()
    val deadline = t0 + (c.seconds * 1e9).toLong
    while (now() < deadline) {
      run.restart()
      val spark = run.spark
      run.appIds += spark.sparkContext.applicationId
      val events = Tables.events(spark, c.data).cache()
      events.count()
      val days = rng.shuffle(IncrementalProducer.eventDays(spark, c.data))
      run.orders += days
      val base = Files.createTempDirectory("perfbench-replay")
      replay(run, events, days, deadline, base, warm = false)
    }
    run.finish()
  }

  // ---- batch workloads -------------------------------------------------

  def batchPasses(run: Run, names: Seq[String]): Unit = {
    val c = run.conf
    val registry = SparkEntry.queries
    val rng = new Random(c.seed)
    val t0 = now()
    val deadline = t0 + (c.seconds * 1e9).toLong
    var pass = 0
    var passNs = 0L
    // whole passes only, and no pass that would end past the deadline
    while (pass == 0 || now() + passNs <= deadline) {
      val p0 = now()
      val order = rng.shuffle(names)
      run.orders += order
      val passDir = Paths.get(c.out, s"pass$pass")
      Files.createDirectories(passDir)
      Check.writeOracleSql(passDir, names)
      for (name <- order) {
        val callId = s"p$pass.$name"
        val sRestart = run.spans.open("restart", -1, callId)
        val r0 = now()
        // the planted fault skips one restart: two timed calls then
        // share an application, which the honest-cost guard must catch
        if (!(c.plant == "dup_app_id" && pass == 0 && name == order(1)))
          run.restart()
        val restart = secs(r0, now())
        run.spans.close(sRestart)
        val spark = run.spark
        val appId = spark.sparkContext.applicationId
        run.appIds += appId
        val sCall = run.spans.open("call", -1, callId)
        var build = Double.NaN
        var exec = Double.NaN
        var err: String = null
        if (run.layer != null) run.layer.open()
        val a = now()
        try {
          val sBuild = run.spans.open("build", sCall, callId)
          val df = registry(name)(spark, c.data)
          val b = now()
          run.spans.close(sBuild)
          // the result is written where the oracle compare reads it, so
          // the output checked is the output timed
          val sExec = run.spans.open("exec", sCall, callId)
          df.write.mode("overwrite").parquet(passDir.resolve(name).toString)
          val e = now()
          run.spans.close(sExec)
          build = secs(a, b)
          exec = secs(b, e)
        } catch {
          case t: Throwable =>
            err = s"${t.getClass.getSimpleName}: ${t.getMessage}"
              .take(500)
        }
        run.spans.close(sCall)
        if (run.layer != null) run.layer.close()
        run.ops += Map("name" -> name, "pass" -> pass, "app_id" -> appId,
          "build_s" -> build, "exec_s" -> exec, "wall_s" -> (build + exec),
          "restart_s" -> restart,
          "ok" -> (err == null), "error" -> Option(err).getOrElse(""))
      }
      passNs = now() - p0
      pass += 1
    }
    run.finish()
  }

  // ---- main ------------------------------------------------------------

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("out"),
      m.getOrElse("cores", "4").toInt, m.getOrElse("setups", "3").toInt,
      m.getOrElse("plant", "none"),
      m.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq)
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val run = new Run(c)
    if (c.workload == "prime") {
      // loads the classes every workload uses, for the class-data archive
      setupOnce(run, "stream_replay", jit = false)
      setupOnce(run, "curation_batch", jit = false)
      run.finish()
      sys.exit(0)
    }
    val jvmStart = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    // set-up k times; the first one is counted from process start
    for (k <- 0 until c.setups) {
      val s = run.spans.open("setup", -1, s"setup$k")
      val t0 = now()
      setupOnce(run, c.workload, jit = k == 0)
      val t = secs(t0, now())
      run.spans.close(s)
      run.setups += (if (k == 0)
        (System.currentTimeMillis() - jvmStart) / 1e3 else t)
    }
    // set-up sessions are not measured per layer
    run.layers.clear()
    run.layer = null
    val t0 = now()
    c.workload match {
      case "stream_replay" => streamReplay(run)
      case _ => batchPasses(run, c.queries)
    }
    val measured = secs(t0, now())
    val out = Map[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "seconds" -> c.seconds,
      "trace" -> c.trace, "cores" -> c.cores, "measured_s" -> measured,
      "setup_s" -> run.setups.toSeq, "app_ids" -> run.appIds.toSeq,
      "ops" -> run.ops.toSeq, "replays" -> run.replays.toSeq,
      "orders" -> run.orders.toSeq,
      "peak_rss_mb" -> Rss.peakMb(),
      "layers" -> (if (c.trace) Layers.merge(run.layers.toSeq) else Map.empty))
    Files.writeString(Paths.get(c.out, "result.json"), Json(out))
    if (c.trace)
      Files.writeString(Paths.get(c.out, "trace.json"), run.spans.json)
    sys.exit(0)
  }
}
