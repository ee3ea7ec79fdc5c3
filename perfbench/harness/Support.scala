package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out when the run ends: name,
  * start, end (ns, monotonic), parent span and call id. A no-op when
  * tracing is off. */
final class Spans(enabled: Boolean) {
  private val names = ArrayBuffer.empty[String]
  private val parents = ArrayBuffer.empty[Int]
  private val calls = ArrayBuffer.empty[String]
  private val starts = ArrayBuffer.empty[Long]
  private val ends = ArrayBuffer.empty[Long]

  def open(name: String, parent: Int, callId: String): Int =
    if (!enabled) -1
    else {
      names += name; parents += parent; calls += callId
      starts += System.nanoTime(); ends += -1L
      names.size - 1
    }

  def close(id: Int): Unit = if (id >= 0) ends(id) = System.nanoTime()

  def json: String = Json(names.indices.map(i => Map(
    "id" -> i, "name" -> names(i), "parent" -> parents(i),
    "call" -> calls(i), "start_ns" -> starts(i), "end_ns" -> ends(i))))
}

/** Per-application counters from Spark's listener APIs: scheduler
  * (jobs, stages, tasks and their metrics), query-planning phases,
  * micro-batch progress, and file-listing counters. One instance per
  * session; read after the session stops, which drains the bus. Every
  * count keeps its time, so that only work inside a timed window (one
  * drop or one call) is counted, not staging or correctness checks. */
final class Layers extends SparkListener {
  private val counts = ArrayBuffer.empty[(Long, String, Double)]
  private def add(t: Long, k: String, v: Double): Unit = counts += ((t, k, v))
  private val stageSpans = ArrayBuffer.empty[(Long, Long)]
  private val windows = ArrayBuffer.empty[(Long, Long)]
  val batches = ArrayBuffer.empty[Map[String, Double]]
  private var opened = (0L, 0L, 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { add(e.time, "jobs", 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      for (s <- e.stageInfo.submissionTime; t <- e.stageInfo.completionTime) {
        add(t, "stages", 1)
        stageSpans += ((s, t))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = e.taskInfo.finishTime
    add(t, "tasks", 1)
    if (e.reason != Success) add(t, "task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(t, "executor_run_s", m.executorRunTime / 1e3)
      add(t, "executor_cpu_s", m.executorCpuTime / 1e9)
      add(t, "gc_s", m.jvmGCTime / 1e3)
      add(t, "deser_s", m.executorDeserializeTime / 1e3)
      add(t, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(t, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(t, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(t, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(t, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      if (m.inputMetrics.recordsRead == 0 &&
          m.shuffleReadMetrics.recordsRead == 0)
        add(t, "empty_tasks", 1)
    }
  }

  /** Opens the window of one timed unit. File listing runs on the calling
    * thread, so its counters are read directly at both ends. */
  def open(): Unit = synchronized {
    opened = (System.currentTimeMillis(),
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount)
  }

  def close(): Unit = synchronized {
    val (t0, files, listings) = opened
    windows += ((t0, System.currentTimeMillis()))
    add(t0, "files_discovered",
      (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files).toDouble)
    add(t0, "parallel_listings",
      (HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount -
        listings).toDouble)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Layers.this.synchronized {
        add(System.currentTimeMillis(), "planning_ms",
          qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
      }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Layers.this.synchronized {
        val p = e.progress
        val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
          .asScala.map { case (k, v) => s"d.$k" -> v.doubleValue }.toMap
        val st = p.stateOperators.headOption.map(s => Map(
          "state_rows_total" -> s.numRowsTotal.toDouble,
          "state_rows_updated" -> s.numRowsUpdated.toDouble,
          "state_memory_bytes" -> s.memoryUsedBytes.toDouble,
          "state_commit_ms" -> s.commitTimeMs.toDouble,
          "state_partitions" -> s.numShufflePartitions.toDouble))
          .getOrElse(Map.empty)
        batches += (d ++ st + ("input_rows" -> p.numInputRows.toDouble))
      }
  }

  /** Counts inside the timed windows, with the driver gap: per window,
    * its wall time minus the part covered by running stages. */
  def totals: Map[String, Double] = synchronized {
    def inside(t: Long) = windows.exists { case (s, e) => t >= s && t <= e }
    val c = scala.collection.mutable.Map.empty[String, Double]
    for ((t, k, v) <- counts if inside(t)) c(k) = c.getOrElse(k, 0.0) + v
    var gap = 0.0
    for ((ws, we) <- windows) {
      val clipped = stageSpans.map { case (s, t) =>
        (math.max(s, ws), math.min(t, we)) }.filter { case (s, t) => t > s }
        .sortBy(_._1)
      var covered = 0L
      var end = ws
      for ((s, t) <- clipped) {
        val s1 = math.max(s, end)
        if (t > s1) { covered += t - s1; end = t }
      }
      gap += ((we - ws) - covered) / 1e3
    }
    c("driver_gap_s") = gap
    c.toMap
  }
}

object Layers {
  def attach(spark: SparkSession): Layers = {
    val l = new Layers
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l.qeListener)
    spark.streams.addListener(l.streamListener)
    l
  }

  /** Sums over sessions; micro-batch records are concatenated. */
  def merge(all: Seq[Layers]): Map[String, Any] = {
    val sums = all.map(_.totals).foldLeft(Map.empty[String, Double]) {
      (acc, m) => m.foldLeft(acc) { case (a, (k, v)) =>
        a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
    Map("counters" -> sums, "batches" -> all.flatMap(_.batches))
  }
}

object Check {
  private def key(r: Row): String = s"${r.get(0)}|${r.get(1)}"

  /** Stream result vs batch expectation for (event_type, day,
    * distinct_users, avg_value, max_value, min_value) rows: the same
    * groups in the same number; distinct count, max and min exact; avg
    * within 1e-12 relative. */
  def sameAgg(got: Array[Row], exp: Array[Row], tag: String,
      ordered: Boolean): Seq[String] = {
    val g = if (ordered) got.toSeq else got.toSeq.sortBy(key)
    val e = if (ordered) exp.toSeq else exp.toSeq.sortBy(key)
    if (g.size != e.size) return Seq(s"$tag: ${g.size} rows vs ${e.size}")
    g.zip(e).flatMap { case (a, b) =>
      val avgA = a.getDouble(3)
      val avgB = b.getDouble(3)
      val avgOk = avgA == avgB ||
        math.abs(avgA - avgB) <= 1e-12 * math.max(math.abs(avgB), 1e-300)
      if (key(a) != key(b) || a.getLong(2) != b.getLong(2) || !avgOk ||
          a.getDouble(4) != b.getDouble(4) || a.getDouble(5) != b.getDouble(5))
        Some(s"$tag: got $a expected $b")
      else None
    }.take(3)
  }

  /** A wrong expectation for the self-test: one distinct count off by
    * one. */
  def perturb(rows: Array[Row]): Array[Row] = rows.zipWithIndex.map {
    case (r, 0) => Row(r.get(0), r.get(1), r.getLong(2) + 1, r.get(3),
      r.get(4), r.get(5))
    case (r, _) => r
  }

  /** The oracle SQL of `names`, in the layout `tools/check_oracle.py`
    * reads next to the outputs. */
  def writeOracleSql(dir: Path, names: Seq[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json(names.map(n => n -> sql(n)).toMap))
  }
}

object Rss {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(f)) return -1.0
    scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and
  * booleans. Non-finite numbers become null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
