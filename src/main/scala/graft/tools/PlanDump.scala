package graft.tools

import graft.SparkEntry

/** Print the formatted physical plan of one inventory query — the
  * .explain feedback loop (ReuseExchange present? filters pushed?
  * WholeStageCodegen spans?) without hand-writing a scratch main each
  * time. AQE final plans differ from this static view; for those, run
  * the query and read the UI/QueryLoop instead.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <query> [exec]
  * With `exec`, the query is RUN first and the final adaptive plan
  * (stage reuse, AQE join demotions) is printed instead of the static
  * one.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val exec = args.length > 2 && args(2) == "exec"
    val spark = graft.core.Session.local()
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (exec) {
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    } else df.explain("formatted")
    spark.stop()
  }
}
