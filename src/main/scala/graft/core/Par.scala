package graft.core

/** Overlap INDEPENDENT Spark actions from the driver — optimization
  * guide §2.6: "Spark's scheduler happily runs several jobs at once
  * inside one application; actions are only sequential because your
  * driver code calls them sequentially."
  *
  * The multi-action gate queries (drift gates, planted-structure
  * gates, churn instruments) chain 2-5 independent job DAGs — stale
  * probe vs fresh probe, caught(exact) vs caught(near), fresh rank vs
  * stale rank — and each DAG's tail leaves most of a 32-core box
  * idle. Submitting them from separate driver threads lets the next
  * chain's tasks back-fill the current chain's stragglers; FIFO
  * scheduling gives exactly that back-fill behaviour.
  *
  * Only for actions that are truly independent AND whose shared
  * inputs are already materialized (localCheckpoint'd / persisted):
  * two thunks over a lazy shared input would each compute it.
  * Threads, not an ExecutionContext: the thunks BLOCK on Spark
  * actions, so a shared bounded pool risks starvation, and at
  * a-few-per-query frequency thread creation is free. Failures
  * propagate: the first thrown error rethrows on the caller after
  * every thread finishes. */
object Par {

  def all[T](thunks: (() => T)*): Seq[T] = {
    // The caller thread's active session propagates to the worker
    // threads so session-dependent code inside a thunk (implicits,
    // SparkSession.active) behaves as if called inline.
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    val results = new Array[Any](thunks.size)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() =>
        try {
          session.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
          results(i) = f()
        } catch { case e: Throwable => err.compareAndSet(null, e) })
      t.setName(s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    if (err.get() != null) throw err.get()
    results.toSeq.map(_.asInstanceOf[T])
  }

  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = all(() => a.asInstanceOf[Any], () => b.asInstanceOf[Any])
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Run `body` with a Spark job description (guide §1.5 "label your
    * jobs") — thread-local, restored afterwards, so library internals
    * can label without leaking the description to the caller. */
  def labeled[T](spark: org.apache.spark.sql.SparkSession, d: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(d)
    try body finally sc.setJobDescription(prev)
  }

  def three[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = all(() => a.asInstanceOf[Any], () => b.asInstanceOf[Any],
      () => c.asInstanceOf[Any])
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
