package graft.streaming

import org.apache.spark.sql.streaming.Trigger

import graft.core.Session
import graft.ops.Scratch

/** Runnable end-to-end demo of the reference's full loop, CONCURRENT
  * like the original (`upload.py` sleeps 1 s per day against a live
  * stream; here the pacing is the drop work itself): an always-on
  * ProcessingTime stream aggregates while the producer drops days into
  * the watched directory, and the cell-3 SQL is executed against the
  * LIVE memory table mid-stream — then once more after a final drain.
  * Usage:
  *   sbt "runMain graft.streaming.ReplayDemo [sfDir]"
  */
object ReplayDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val watched = Scratch.dir("graft-replay-demo")
    println(s"[demo] live replay of $sfDir events into $watched")
    val t0 = new java.sql.Timestamp(System.currentTimeMillis())
    val days = IncrementalProducer.eventDays(spark, sfDir)

    // first day must exist before the stream starts watching
    IncrementalProducer.dropDay(spark, sfDir, watched, days.head, t0)
    val agg = StreamAggregator.dailyAgg(
      StreamAggregator.replayStream(spark, s"$watched/day=*"))
    val query = StreamAggregator.startMemorySink(spark, agg,
      "result_df_query", Trigger.ProcessingTime("500 milliseconds"))

    val cell3 =
      """SELECT event_type, day, distinct_users FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY event_type
        |    ORDER BY distinct_users DESC, day DESC) AS row_num
        |  FROM result_df_query)
        |WHERE row_num = 1
        |ORDER BY distinct_users DESC LIMIT 10""".stripMargin

    var produced = 0L
    days.tail.zipWithIndex.foreach { case (day, i) =>
      produced += IncrementalProducer.dropDay(spark, sfDir, watched, day, t0)
      if ((i + 1) % 10 == 0) {
        // the reference queries the live sink while the stream runs
        val top = spark.sql(cell3).collect()
        println(s"[demo] after ${i + 2} days (stream still running): " +
          s"top=${top.headOption.map(r => s"${r.get(0)}:${r.get(2)}").getOrElse("-")}")
      }
    }
    query.processAllAvailable()
    println(s"[demo] produced $produced rows over ${days.size} days; " +
      s"${query.recentProgress.count(_.numInputRows > 0)} non-empty micro-batches")
    println(s"[demo] aggregate has ${spark.table("result_df_query").count()} " +
      "(event_type, day) groups")
    spark.sql(cell3).show(truncate = false)
    query.stop()
    spark.stop()
  }
}
