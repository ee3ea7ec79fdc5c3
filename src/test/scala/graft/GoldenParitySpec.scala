package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.HotelWeather
import graft.prep.GeoJoin

/** SURVEY §5.1: replay the reference's own pipeline over the
  * reference's own dataset and compare against the notebook's embedded
  * golden output. Skipped when the reference dataset isn't present. */
class GoldenParitySpec extends AnyFunSuite with SharedSpark {

  val refData = "/root/reference/m13sparkstreaming/hotel-weather"
  def refPresent: Boolean = new java.io.File(refData).isDirectory

  test("golden replay: cell-3 top-10 matches the embedded output") {
    assume(refPresent, "reference dataset not available")
    val got = HotelWeather.goldenPipeline(spark, refData)
      .select("city", "distinct_hotels").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === HotelWeather.goldenTop10)
  }

  test("golden replay through the STREAMING path (cells 1-3 faithful)") {
    assume(refPresent, "reference dataset not available")
    val got = HotelWeather.goldenPipelineStreaming(spark, refData,
      maxFilesPerTrigger = Some(300))
      .select("city", "distinct_hotels").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === HotelWeather.goldenTop10)
  }

  test("golden replay: 4,324 (city, wthr_date) groups, 767 cities") {
    assume(refPresent, "reference dataset not available")
    val agg = HotelWeather.cityDayAgg(HotelWeather.read(spark, refData))
    assert(agg.count() === 4324L)
    assert(agg.select("city").distinct().count() === 767L)
  }

  test("HLL estimates stay in the 3*rsd band of exact counts (ref data)") {
    assume(refPresent, "reference dataset not available")
    val hw = HotelWeather.read(spark, refData)
    val exact = hw.groupBy("city", "wthr_date")
      .agg(count_distinct(col("id")).as("exact_n"))
    val joined = HotelWeather.cityDayAgg(hw)
      .join(exact, Seq("city", "wthr_date"))
    val bad = joined.where(
      abs(col("distinct_hotels") - col("exact_n")) >
        greatest(lit(1.0), col("exact_n") * 3 * 0.05)).count()
    assert(bad === 0)
  }

  test("per-city series covers exactly the top-10 cities, date-ordered") {
    assume(refPresent, "reference dataset not available")
    val agg = HotelWeather.cityDayAgg(HotelWeather.read(spark, refData))
    val top = HotelWeather.top10(spark, agg)
    val series = HotelWeather.citySeries(agg, top).cache()
    val cities = series.select("city").distinct().collect()
      .map(_.getString(0)).toSet
    assert(cities === HotelWeather.goldenTop10.map(_._1).toSet)
    // ordered within city: wthr_date strings sort chronologically
    val paris = series.where(col("city") === "Paris")
      .select("wthr_date").collect().map(_.getString(0))
    assert(paris.sameElements(paris.sorted))
  }

  test("golden pipeline, batch and streaming, on synthetic partitioned " +
    "data with ties: identical total-order top-10, session conf unchanged") {
    import spark.implicits._
    // 20 cities over three year=/month=/day= partitions; each city's
    // best day (the 2nd) has best(i) hotels: 9, 8 8 (a tie, as in the
    // golden output), 7, then 16 cities tied at 5, so the LIMIT keeps 6
    // of those 16 and only a total order says which
    val cities = (0 until 20).map(i => f"City$i%02d")
      .sortBy(c => (c.hashCode * 31) % 7) // count rank ≠ name order
    def best(i: Int): Long = Seq(9L, 8L, 8L, 7L).lift(i).getOrElse(5L)
    val rows = for {
      (city, i) <- cities.zipWithIndex
      day <- 1 to 3
      h <- 0L until (if (day == 2) best(i) else best(i) - 1)
    } yield ("addr", 20.0 + day, 68.0 + day, city, "US", "9q8y", s"$city-h$h",
      37.7, -122.4, s"hotel $h", f"2017-08-$day%02d", 2017, 8, day)
    val base = java.nio.file.Files.createTempDirectory("graft-hw")
    val dir = base.resolve("hotel-weather").toString
    rows.toDF("address", "avg_tmpr_c", "avg_tmpr_f", "city", "country",
        "geoHash", "id", "latitude", "longitude", "name", "wthr_date",
        "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(dir)
    val before = spark.conf.getAll
    def top(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
      df.select("city", "wthr_date", "distinct_hotels").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // the top-10's window shuffles by city and sorts each partition by
    // city, whatever order the source or the sink delivered the rows in.
    // On data this small AQE coalesces that shuffle to ONE partition, so
    // ties would come out by name with or without the `city` sort key.
    // Keeping all 8 partitions (as at scale) makes the LIMIT merge tied
    // cities from several partitions in task-completion order, so only
    // the sort key picks and orders them by name.
    def uncoalesced[T](body: => T): T = graft.core.Session.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)
    try {
      val batch = uncoalesced(top(HotelWeather.goldenPipeline(spark, dir)))
      val streamed = uncoalesced(top(HotelWeather.goldenPipelineStreaming(
        spark, dir, maxFilesPerTrigger = Some(1))))
      val expected = cities.zipWithIndex
        .map { case (c, i) => (c, "2017-08-02", best(i)) }
        .sortBy { case (c, _, n) => (-n, c) }.take(10)
      assert(batch === expected)
      assert(streamed === batch)
      assert(spark.conf.getAll === before)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("geohash-prefix join reconstructs hotel-weather shape") {
    // synthetic hotels + weather with overlapping 4-char geohash cells
    import spark.implicits._
    val hotels = Seq(
      ("h1", "Hotel A", "1 Main St", "Paris", "FR", "u09t1234"),
      ("h2", "Hotel B", "2 Side St", "Paris", "FR", "u09t9999"),
      ("h3", "Hotel C", "3 Far St", "Lyon", "FR", "u05kaaaa"))
      .toDF("id", "address", "name", "city", "country", "geoHash")
    val weather = Seq(
      ("u09tzzzz", 21.5, 70.7, "2017-08-01", 48.85, 2.35),
      ("u09tzzzz", 23.0, 73.4, "2017-08-02", 48.85, 2.35),
      ("xyzw0000", 5.0, 41.0, "2017-08-01", 0.0, 0.0))
      .toDF("geoHash", "avg_tmpr_c", "avg_tmpr_f", "wthr_date",
        "latitude", "longitude")
    val joined = GeoJoin.hotelWeatherJoin(hotels, weather)
    // h1+h2 match cell u09t on both days; h3 and xyzw have no partner
    assert(joined.count() === 4)
    assert(joined.select("id").distinct().count() === 2)
    assert(joined.columns.toSet.intersect(
      Set("id", "city", "wthr_date", "avg_tmpr_c")).size === 4)
  }
}
