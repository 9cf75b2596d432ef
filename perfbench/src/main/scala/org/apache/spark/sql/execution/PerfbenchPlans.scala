package org.apache.spark.sql.execution

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Walks an executed physical plan, through adaptive wrappers, query
  * stages, reused exchanges and subqueries, so the traced run can read
  * every operator's SQL metrics after the action ran. */
object PerfbenchPlans {
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def go(p: SparkPlan): Unit = if (!seen.containsKey(p)) {
      seen.put(p, ())
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case r: ReusedExchangeExec => go(r.child)
        case _ =>
      }
      p.children.foreach(go)
      p.subqueries.foreach(go)
    }
    go(root)
    out.toSeq
  }
}
