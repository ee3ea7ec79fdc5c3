package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format round-trip support beyond the reference's parquet+memory:
  * CSV and JSON-lines readers/writers with explicit schemas (inference
  * over either format is a full data scan — never acceptable at
  * scale), plus parquet with the project's write defaults.
  *
  * These are thin, deliberate wrappers: options are pinned so every
  * write is re-readable by the paired reader (header on, escaping
  * default, micros timestamps), which is the property the round-trip
  * test asserts.
  */
object Formats {

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  def readCsv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  def readJsonl(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    graft.core.Session.withConf(df.sparkSession,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path)
    }
  }

  def readParquet(spark: SparkSession, schema: StructType,
      path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** ORC: the other columnar format Spark ships natively — same
    * pushdown/pruning machinery as parquet (PushedFilters reach the
    * ORC reader), relevant when interoperating with Hive-era lakes. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, schema: StructType,
      path: String): DataFrame =
    spark.read.schema(schema).orc(path)
}
