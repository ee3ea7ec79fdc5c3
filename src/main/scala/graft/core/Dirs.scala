package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The filesystem protocol of every persisted store in this engine —
  * the fp and bloom stores, the BM25 and IVF-PQ indexes, the embed
  * vindex — and the one place a store touches a Hadoop `FileSystem`.
  * Hadoop, not java.nio: a store may live on any Hadoop filesystem
  * (hdfs://, s3a://), where a local-path check always reads false.
  *
  * Crash-safe swap ([[swap]]): a store directory is rewritten by
  * writing the new copy durably to `<dir>.compact.tmp`, moving `<dir>`
  * aside to `<dir>.old`, renaming the tmp into place, then deleting
  * `.old` — the data is never held only in executor memory. Between
  * the two renames `<dir>` is briefly absent (a swap is maintenance,
  * not concurrent with reads of the same store), and a crash there or
  * before the final delete leaves `<dir>.old` behind. A leftover `.old`
  * is therefore the one sign of an interrupted swap, and
  * [[requireNoInterruptedSwap]] refuses it loudly: before a read that
  * would see a missing or half-swapped store (and let the next write
  * orphan the history `.old` holds), and before a swap that would
  * overwrite it. A leftover tmp without `.old` is only a torn write of
  * a swap that never started; the next swap deletes it. */
object Dirs {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Scheme-qualified absolute form of `path`: relative and scheme-less
    * spellings of one directory collapse to the same value. */
  def qualified(spark: SparkSession, path: String): Path =
    fs(spark, path).makeQualified(new Path(path))

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Recursive delete; a missing path is a no-op. */
  def delete(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new Path(path), true)
    ()
  }

  /** The small UTF-8 sidecar `name` inside `dir`, read in full (a
    * single `read()` may return a partial buffer), or None when it does
    * not exist. Parsing, and the loud "corrupt" error on content that
    * does not parse, stay with the store that owns the sidecar.
    * Underscore-prefixed names are skipped by parquet readers as
    * metadata, like `_SUCCESS`. */
  def readSidecar(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val p = new Path(dir, name)
    val f = fs(spark, dir)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Create or replace the sidecar `name` inside `dir`. */
  def writeSidecar(spark: SparkSession, dir: String, name: String,
      text: String): Unit = {
    val out = fs(spark, dir).create(new Path(dir, name), true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Whether `dir` holds data: a `*.parquet` file or a `k=v` partition
    * dir. Bare existence is not enough — a zero-row partitioned write
    * (or a crashed or hand-made empty dir) leaves a schema-less
    * directory that fails schema inference on every read. */
  def holdsData(spark: SparkSession, dir: String): Boolean = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    f.exists(p) && f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      if (st.isDirectory) n.contains('=') else n.endsWith(".parquet")
    }
  }

  /** The stage and commit dirs of batch `batchId` of the batch-
    * partitioned table at `dir`: `<dir>.staging/<id>` and
    * `<dir>/ingest_batch=<id>`. */
  def stagedBatch(spark: SparkSession, dir: String,
      batchId: Long): (Path, Path) = {
    val q = qualified(spark, dir)
    (new Path(new Path(q.getParent, q.getName + ".staging"), batchId.toString),
      new Path(q, s"ingest_batch=$batchId"))
  }

  /** Commit a complete stage into the table at `dir` by one atomic
    * rename, then refresh `dir` in the catalog: the rename is a raw
    * FileSystem mutation that bypasses the session's metadata and cache
    * invalidation, so a same-session reader that cached a scan of `dir`
    * would otherwise keep serving the pre-commit listing. */
  def commitStaged(spark: SparkSession, stage: Path, commit: Path,
      dir: String): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(commit.getParent)
    require(f.rename(stage, commit),
      s"commit failed: could not rename $stage to $commit")
    spark.catalog.refreshByPath(dir)
  }

  /** Fail loudly when a previous [[swap]] of `dir` was interrupted (see
    * the object doc): `<dir>.old` exists. */
  def requireNoInterruptedSwap(spark: SparkSession, dir: String): Unit = {
    val q = qualified(spark, dir)
    val old = sibling(q, ".old")
    if (fs(spark, dir).exists(old))
      throw new IllegalStateException(
        s"$q: a previous swap was interrupted, leftover $old. Recover " +
          s"by hand before reading or rewriting: if $q is missing, move " +
          s"${sibling(q, ".compact.tmp")} (the complete new copy) or $old " +
          s"into place; if $q is complete, delete $old.")
  }

  /** Replace `dir` by what `write` writes to the tmp path it is given,
    * through the crash-safe swap of the object doc, then refresh `dir`
    * in the catalog (the renames bypass Spark's own invalidation). */
  def swap(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    requireNoInterruptedSwap(spark, dir)
    val f = fs(spark, dir)
    val q = qualified(spark, dir)
    val (tmp, old) = (sibling(q, ".compact.tmp"), sibling(q, ".old"))
    f.delete(tmp, true)
    write(tmp.toString)
    require(f.rename(q, old), s"swap: failed to move $q aside")
    require(f.rename(tmp, q),
      s"swap: failed to move $tmp into place (previous copy kept at $old)")
    f.delete(old, true)
    spark.catalog.refreshByPath(dir)
  }

  private def sibling(q: Path, suffix: String): Path =
    new Path(q.getParent, q.getName + suffix)
}
