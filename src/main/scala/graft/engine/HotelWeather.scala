package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.core.Schemas
import graft.streaming.StreamAggregator

/** The reference pipeline verbatim, over the reference's own dataset —
  * the golden-parity entry point (SURVEY §5.1).
  *
  * Reference (Mamba369x/M13_SparkStreaming_PYTHON_AZURE): batch/stream
  * read of `m13sparkstreaming/hotel-weather/` → `groupBy(city,
  * wthr_date).agg(approx_count_distinct(id), avg, max, min)`
  * (`notebooks/stream.ipynb:117-122 (cell 1)`) → SQL
  * row_number-per-city top-10 (`notebooks/stream.ipynb:178-187
  * (cell 3)`). The embedded cell-3 output (Paris 444 … Memphis 5) is
  * the golden expectation; Spark's HLL++ is deterministic for a fixed
  * dataset, so exact equality is assertable if the implementation
  * matches Spark 3.3.2's (GoldenParitySpec verifies, with the
  * exact-count fallback band documented in SURVEY §7 hard-point b).
  */
object HotelWeather {

  /** Batch scan with Hive partition discovery (S1). The declared schema
    * has no timestamp column, so no INT96 column is ever read and the
    * producer's LEGACY INT96 write (`upload.py:33`) needs no rebase
    * setting. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.hotelWeather).parquet(path)

  /** Cell-1 aggregate: A1-A5 with the reference's exact column names. */
  def cityDayAgg(hw: DataFrame): DataFrame =
    hw.groupBy(col("city"), col("wthr_date"))
      .agg(
        approx_count_distinct(col("id")).as("distinct_hotels"),
        avg(col("avg_tmpr_c")).as("avg_temperature"),
        max(col("avg_tmpr_c")).as("max_temperature"),
        min(col("avg_tmpr_c")).as("min_temperature"))

  /** Cell-3 top-10: for each city the date with most distinct hotels
    * (latest date tie-break), globally top-10 by that count — the SQL
    * is the reference's, run over a temp view exactly like the memory
    * sink table, plus `city` as the last sort key. Without it, equal
    * counts reach the LIMIT in the window shuffle's partition and task
    * order, so which tied cities make the top-10, and in what order,
    * varies from run to run once that shuffle keeps more than one
    * partition. The embedded golden output lists its ties (New York/San
    * Diego at 6, Houston/Memphis at 5) alphabetically, but that this key
    * reproduces it is unverified until the reference data is present:
    * another of its 767 cities tied at 5 whose name sorts before Memphis
    * would enter the top-10 in Memphis's place. */
  def top10(spark: SparkSession, agg: DataFrame): DataFrame = {
    agg.createOrReplaceTempView("result_df_query")
    spark.sql(
      """SELECT city, wthr_date, distinct_hotels, avg_temperature,
        |       max_temperature, min_temperature
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY city
        |    ORDER BY distinct_hotels DESC, wthr_date DESC) AS row_num
        |  FROM result_df_query)
        |WHERE row_num = 1
        |ORDER BY distinct_hotels DESC, city
        |LIMIT 10""".stripMargin)
  }

  /** Full golden pipeline: read → aggregate → top-10. */
  def goldenPipeline(spark: SparkSession, path: String): DataFrame =
    top10(spark, cityDayAgg(read(spark, path)))

  /** The same pipeline through the STREAMING path — the reference's
    * actual shape (cells 1-3): FileStreamSource over the partitioned
    * dataset (S2) → stateful cityDayAgg (A1-A5) → complete-mode memory
    * sink (K1) → cell-3 SQL over the sink table (S4). Partition-dir
    * columns (year/month/day) are appended to the schema exactly as
    * Auto Loader sees them. */
  def goldenPipelineStreaming(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = StructType(Schemas.hotelWeather.fields ++
      Seq("year", "month", "day").map(StructField(_, IntegerType)))
    val reader = spark.readStream.format("parquet").schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    top10(spark, StreamAggregator.runToMemoryTable(spark,
      cityDayAgg(reader.load(path)), "result_df_query"))
  }

  /** Cells 5-6: per-city time-series extraction. The reference
    * collects the top-10 city list to the driver and re-filters with
    * isin, then slices per city for plotting
    * (`notebooks/stream.ipynb:255-258, 514-518`). Here the list stays
    * in-plan (broadcast semi-join) and the result is the data-export
    * hook replacing matplotlib (SURVEY non-goals): one ordered series
    * of (city, date, hotels, avg/max/min temperature) rows per city. */
  def citySeries(agg: DataFrame, top: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    agg.join(broadcast(top.select("city").distinct()), Seq("city"),
        "left_semi")
      .orderBy(col("city"), col("wthr_date"))
  }

  /** The embedded cell-3 golden output (BASELINE.md): (city,
    * distinct_hotels) in rank order. */
  val goldenTop10: Seq[(String, Long)] = Seq(
    "Paris" -> 444L, "London" -> 250L, "Barcelona" -> 211L,
    "Milan" -> 165L, "Amsterdam" -> 85L, "Paddington" -> 19L,
    "New York" -> 6L, "San Diego" -> 6L, "Houston" -> 5L, "Memphis" -> 5L)
}
