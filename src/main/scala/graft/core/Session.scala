package graft.core

import org.apache.spark.sql.SparkSession

/** The one place the engine's Spark session is configured. Every main
  * and the test suites build through [[build]], so the bench board, the
  * correctness dump and the plan-shape specs all plan under the same
  * optimizer settings. */
object Session {

  /** A `local[cores]` session: shuffle partitions = cores, UTC, AQE on,
    * UI off, log level WARN, plus the two measured settings below.
    * `extra` is applied last, so a caller that really needs a different
    * value (the test trait's partition count, ScaleUp's timestamp
    * encoding) overrides just that key. */
  def build(cores: Int,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val engine = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      // InferFiltersFromGenerate excluded (r17, measured): for every
      // Generate in this engine the generator input is a COMPUTED array
      // (shingles, band structs, bin sequences — never a stored column),
      // so the inferred `size(e)>0 AND isnotnull(e)` filter re-inlines
      // the whole array expression and predicate pushdown drags it
      // below the scan-spread exchange, where it re-evaluates the
      // expensive interpreted HOF per row in the single scan task —
      // 2-3 redundant shingle-array builds per document that drop
      // nothing the Generate would not drop anyway (explicit
      // size(toks)>=n guards already run at the scan). Same
      // pessimization at any scale; q_split_leakage 3.0 -> 1.2 s
      // in-session A/B. Semantics-preserving (optimizer rule).
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
      // r18: partitioned-index probes (vindex / IVF-PQ cells) read
      // directories with 100-4000 partition dirs; past the default
      // threshold (32) Spark launches a DISTRIBUTED listing job — one
      // task per path, ~60 ms deser each, twice per probe — that
      // costs more than listing a few hundred dirs on the driver.
      // 1024 keeps listing driver-side for every bounded index layout
      // while genuinely huge tables still list in parallel.
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
      "spark.ui.enabled" -> "false")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config(engine ++ extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `settings` in `spark`'s session conf, then put back
    * exactly what the caller had: each key's explicit value, or no value
    * where the caller set none (so `spark.conf.getAll` is unchanged). The
    * one scoped form of a session-conf change: a bare `conf.set` would
    * leak into every later plan and write of the caller's session. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val explicit = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
