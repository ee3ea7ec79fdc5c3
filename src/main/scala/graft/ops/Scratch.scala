package graft.ops

import org.apache.spark.sql.SparkSession

/** Session-scoped scratch directories for gate queries that BUILD a
  * persisted artifact (IVF-PQ index, BM25 index) before probing it.
  *
  * Two problems this solves at once:
  *  - **Double builds**: `q_ann_ivfpq` and `q_ann_ivfpq_recall` both
  *    probe the same scratch index; without a cache each gate re-ran
  *    the full k-means + PQ train + partitioned write (~15% of the
  *    sf0.1 bench). The build now runs ONCE per (session, key) — its
  *    cost stays visible in whichever gate touches it first, and the
  *    recall row measures the probe, not a second identical build.
  *  - **Temp-dir leaks**: every invocation used to mint a fresh
  *    `createTempDirectory` with no cleanup, accumulating full index
  *    copies under /tmp across driver/bench/recall runs. Cached dirs
  *    are deleted by a JVM shutdown hook.
  *
  * Keys include the Spark application id, so a fresh session (a new
  * driver run, a new bench) rebuilds from scratch — caching never
  * crosses a process boundary, and correctness never depends on it:
  * the cache only collapses REPEATS of a deterministic build inside
  * one JVM. A failed build stores nothing (the builder runs OUTSIDE
  * the map and only a successful result is published), so a retry
  * rebuilds cleanly. Entries are never evicted before JVM exit: the
  * directories must outlive the lazy plans that read them, and no
  * end-of-query hook exists to delete them earlier.
  *
  * Only directories live here. DataFrames are never cached across
  * queries: a frame one query reads more than once is materialized
  * with a local `localCheckpoint()` in the function that owns the
  * reads, and its blocks are released once that frame is unreachable.
  *
  * Concurrency: lookups deliberately do NOT use `computeIfAbsent` —
  * builds are REENTRANT on this map (the delete-gate index copies the
  * shared gate index), and the JDK contract forbids a mapping
  * function from touching its own map mid-computation: when two keys
  * land in one hash bin that can livelock or corrupt the bin.
  * Instead: check, build outside the map, publish with `putIfAbsent`.
  * Builds are deterministic, so the rare lost race just discards an
  * identical duplicate (the loser's temp dir is deleted on the
  * spot). */
object Scratch {

  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** The scratch path for `key`, building it via `build` on first use
    * in this session. `build` receives the path to populate; the
    * returned path is the populated artifact. */
  def cached(spark: SparkSession, key: String, prefix: String)(
      build: String => Unit): String = {
    val fullKey = spark.sparkContext.applicationId + ":" + key
    val hit = dirs.get(fullKey)
    if (hit != null) return hit
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        dirs.values.forEach { d =>
          // the cached path is <tmpbase>/index — remove the whole
          // temp base the gate minted
          deleteRecursively(new java.io.File(d).getParentFile)
        }))
    val base = java.nio.file.Files.createTempDirectory(prefix)
    val path = base.toString + "/index"
    // a FAILED build must not leak its partial index: the dir is not
    // yet registered in `dirs`, so the shutdown hook cannot reach it —
    // clean up before rethrowing (a retry then rebuilds cleanly)
    try build(path)
    catch { case e: Throwable =>
      deleteRecursively(base.toFile)
      throw e
    }
    val prior = dirs.putIfAbsent(fullKey, path)
    if (prior != null) {
      // lost a race to an identical build — drop the duplicate
      deleteRecursively(base.toFile)
      prior
    } else path
  }
}
