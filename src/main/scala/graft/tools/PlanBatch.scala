package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dump `.explain("formatted")` for a comma-separated list of inventory
  * queries into one file each — the plans/<round>/ evidence artifacts
  * (judge-checkable plan claims) without paying a JVM + SparkSession per
  * query like PlanDump does.
  *
  * Usage: runMain graft.tools.PlanBatch <sfDir> <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<query>_<suffix>.txt per query; a query whose plan
  * cannot be built writes the failure text instead of aborting the batch.
  */
object PlanBatch {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.tools.PlanBatch <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, list) = args.take(4)
    val unknown = list.split(",").map(_.trim).filter(_.nonEmpty)
      .filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown queries: ${unknown.mkString(", ")} (not in SparkEntry.queries)")
      sys.exit(2)
    }
    val spark = graft.core.Session.local()
    new File(outDir).mkdirs()
    for (name <- list.split(",").map(_.trim).filter(_.nonEmpty)) {
      val out = new File(outDir, s"${name}_$suffix.txt")
      val text =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"PLAN UNAVAILABLE: ${e.getClass.getName}: ${e.getMessage}"
        }
      val w = new PrintWriter(out)
      try w.println(text) finally w.close()
      println(s"[plan] $name -> ${out.getPath}")
    }
    spark.stop()
  }
}
