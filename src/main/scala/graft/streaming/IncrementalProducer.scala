package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Session, Tables}

/** Scala port of the reference producer's *semantics*
  * (`src/main/python/upload.py:80-106` in
  * Mamba369x/M13_SparkStreaming_PYTHON_AZURE): enumerate day partitions,
  * sort chronologically, and per day read → stamp a constant
  * `processed_date` → overwrite-write into the watched directory, so a
  * downstream file stream sees exactly one day per drop. The reference
  * paces with `time.sleep(1)`; tests instead interleave drops with
  * stream triggers (write-then-trigger, SURVEY §7 hard-point a), so no
  * sleeping here.
  *
  * The testdata `events` table has no physical day partitioning, so days
  * are derived from `ts` and each drop is written under
  * `day=YYYY-MM-DD/`. Hive-style path encoding mirrors the reference's
  * manual `os.path.join(year=, month=, day=)` layout (`upload.py:68-74`).
  */
object IncrementalProducer {

  /** Distinct event days, chronologically sorted (the reference sorts
    * its day dirs by parsed date, `upload.py:92-98`). The collect is
    * bounded by #days, not #rows — driver-safe at any scale. */
  def eventDays(spark: SparkSession, sourceDir: String): Seq[String] = {
    val days = Tables.events(spark, sourceDir)
      .select(to_date(col("ts")).cast("string").as("day"))
      .distinct()
      .collect()
      .map(_.getString(0))
    days.sorted.toSeq
  }

  /** Write one day's slice into the watched dir. Returns rows written. */
  def dropDay(spark: SparkSession, sourceDir: String, targetDir: String,
      day: String, processedAt: Timestamp): Long =
    dropDayFrom(spark, Tables.events(spark, sourceDir), targetDir, day,
      processedAt)

  /** [[dropDay]] over an already-loaded (possibly cached) events
    * frame — the form [[replay]] uses so N days cost one source scan. */
  def dropDayFrom(spark: SparkSession, events: DataFrame,
      targetDir: String, day: String, processedAt: Timestamp): Long = {
    // Row count observed on the write itself (Observation rides the
    // write job's metrics) — a separate count() would scan the day twice.
    val obs = org.apache.spark.sql.Observation()
    // INT96 is Spark's legacy timestamp encoding (the reference data was
    // written with it, upload.py:33); the drops use standard micros so
    // any reader — including our own file stream — gets INT64. Scoped to
    // this write: the caller's session keeps its own encoding.
    Session.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      events
        .where(to_date(col("ts")) === lit(day))
        .withColumn("processed_date", lit(processedAt))
        .observe(obs, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).parquet(s"$targetDir/day=$day")
    }
    obs.get("rows").asInstanceOf[Long]
  }

  /** Full chronological replay (the `upload.py` main loop), optionally
    * calling `onDrop` between days — the test seam where the stream
    * trigger runs. */
  def replay(spark: SparkSession, sourceDir: String, targetDir: String,
      onDrop: String => Unit = _ => ()): Long = {
    val t0 = new Timestamp(System.currentTimeMillis())
    // ONE source scan for the whole replay: each dropDay filters the
    // events table by day, so an uncached source is re-scanned once
    // per distinct day — O(days × corpus) on a year-long fixture. The
    // cache keeps the per-day write-then-trigger interleaving intact.
    val src = graft.core.Tables.events(spark, sourceDir).cache()
    try eventDays(spark, sourceDir).map { day =>
      val n = dropDayFrom(spark, src, targetDir, day, t0)
      onDrop(day)
      n
    }.sum
    finally src.unpersist()
  }

  /** Schema of the dropped files (events + processed_date + day). */
  def readBack(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(targetDir)
}
