package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the maintenance pass behind every
  * incremental producer. Day-by-day drops (IncrementalProducer) leave
  * one-file-per-trigger layouts; at 100 TB a scan over millions of
  * small files is listing- and open()-bound, not IO-bound. Compaction
  * rewrites a directory into ~targetBytes files.
  *
  * `coalesce` (not `repartition`): narrowing to the target file count
  * needs NO shuffle — each output task reads a handful of input files
  * and streams them through. A shuffle-based rewrite would move every
  * byte twice for no layout benefit (no clustering key here; use
  * bucketed writes when a join key matters — see SCALE.md). */
object Compaction {

  /** Compact `inDir` into ceil(bytes/targetBytes) files at `outDir`.
    * Returns the file count written. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): Int = {
    val bytes = graft.core.Dirs.fs(spark, inDir)
      .getContentSummary(new Path(inDir)).getLength
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir)
      .coalesce(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }
}
