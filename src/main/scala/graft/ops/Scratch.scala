package graft.ops

/** Per-call scratch directories: index builds of gate queries, stream
  * checkpoints and chunk copies of the mains.
  *
  * Every call mints a fresh temp base, so nothing is shared between
  * calls and no key exists: a query that builds an artifact pays for
  * its own build, and a rewritten input directory is always read
  * anew. The base is registered for recursive deletion at JVM exit
  * BEFORE the caller writes into it, so a failed build's partial
  * directory goes the same way as a finished one. Deletion waits for
  * exit because the lazy plans that read a directory outlive the call
  * that built it. */
object Scratch {

  private val bases =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    bases.forEach(b => deleteRecursively(b))))

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** A fresh `<temp base>/index` path, named after `prefix`. The path
    * itself does not exist yet: parquet writers, streaming checkpoints
    * and Hadoop copies create it. */
  def dir(prefix: String): String = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toFile
    bases.add(base)
    base.getPath + "/index"
  }
}
