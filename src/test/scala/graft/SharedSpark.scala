package graft

import org.apache.spark.sql.SparkSession

/** One session per suite (guide: lazy val, not per test). Built by the
  * mains' factory, so plan-shape specs assert the same plans the bench
  * times. */
trait SharedSpark {
  lazy val spark: SparkSession = graft.core.Session.build(4, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.warehouse.dir" -> tempDir("graft-warehouse")))
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh, existing temp dir named after `prefix`, deleted with
    * everything under it when the test JVM exits (tests run forked, so
    * once per test run). Exit, not end of test: lazy frames and stopped
    * streams may still list a dir after the test that made it. */
  def tempDir(prefix: String): String = SharedSpark.tempDir(prefix)
}

object SharedSpark {

  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  // deleteQuietly does not follow symlinks out of the dir
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))))

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs.add(d)
    d.getPath
  }
}
