package graft

import org.apache.spark.sql.SparkSession

/** One session per suite (guide: lazy val, not per test). Built by the
  * mains' factory, so plan-shape specs assert the same plans the bench
  * times. */
trait SharedSpark {
  lazy val spark: SparkSession = graft.core.Session.build(4, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
  val sf: String = "/root/testdata/sf0.001"
}
