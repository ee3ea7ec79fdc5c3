package graft.engine

import graft.core.Session

/** Runnable golden-parity check: replays the reference pipeline over
  * the reference's own hotel-weather dataset and diffs the top-10
  * against the notebook's embedded output (BASELINE.md). Exit 0 on
  * exact match. Usage: sbt "runMain graft.engine.GoldenReplay [path]"
  */
object GoldenReplay {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      "/root/reference/m13sparkstreaming/hotel-weather")
    val spark = Session.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val t0 = System.nanoTime()
    val got = HotelWeather.goldenPipeline(spark, path)
      .collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .toSeq
    val sec = (System.nanoTime() - t0) / 1e9
    got.zipAll(HotelWeather.goldenTop10, ("<missing>", -1L), ("<missing>", -1L))
      .foreach { case ((gc, gn), (ec, en)) =>
        val mark = if ((gc, gn) == (ec, en)) "ok " else "DIFF"
        println(f"[golden] $mark got=$gc%-12s $gn%4d  expected=$ec%-12s $en%4d")
      }
    println(f"[golden] end-to-end ${sec}%.2f s; match=${got == HotelWeather.goldenTop10}")
    // cells 5-6: per-city time-series export hook
    val agg = HotelWeather.cityDayAgg(HotelWeather.read(spark, path))
    val series = HotelWeather.citySeries(agg, HotelWeather.top10(spark, agg))
    println(s"[golden] per-city series rows: ${series.count()} over " +
      s"${series.select("city").distinct().count()} cities")
    // the reference's actual shape: streaming replay (cells 1-3)
    val s0 = System.nanoTime()
    val streamedTop = HotelWeather.goldenPipelineStreaming(spark, path,
      maxFilesPerTrigger = Some(300))
      .select("city", "distinct_hotels").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val streamSec = (System.nanoTime() - s0) / 1e9
    println(f"[golden] streaming replay ${streamSec}%.2f s; " +
      s"match=${streamedTop == HotelWeather.goldenTop10}")
    spark.stop()
    if (got != HotelWeather.goldenTop10 ||
      streamedTop != HotelWeather.goldenTop10) sys.exit(1)
  }
}
