package graft
import graft.core.Session

/** Dump `explain("formatted")` for registered queries — the plan
  * evidence tool for the optimization rounds. Env knobs so plan
  * captures match the bench conditions:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.01)
  *   SPARK_GRAFT_CPUS     master local[N] + shuffle partitions (8)
  *   GRAFT_PLAN_DIR       when set, write one <query><suffix>.txt per
  *                        query into this dir instead of stdout
  *   GRAFT_PLAN_SUFFIX    file suffix (default "_before")
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.get("GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "_before")
    outDir.foreach(d => java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(d)))
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q1_pricing_summary","q_revenue_by_region","q_revenue_by_priority",
      "q_events_daily_agg","q_minhash_lsh_pairs","q_ann_topk",
      "q_asof_join","q_topk_best_day","q_stream_join","q_pack_shards",
      "q_trailing_spend")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/$n$suffix.txt"), plan)
          println(s"[planaudit] wrote $d/$n$suffix.txt")
        case None =>
          println(s"########## $n")
          println(plan)
      }
    }
    spark.stop()
  }
}
