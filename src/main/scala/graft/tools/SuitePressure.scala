package graft.tools

import scala.jdk.CollectionConverters._

import graft.{Bench, ScaleUp, SparkEntry}

/**
 * In-suite vs isolated gap attribution (VERDICT r14 next #8):
 * `q3_top_revenue` ran 7.2 s inside the sf1 bench suite vs 3.5 s
 * steady-state isolated, `q_assoc_rules` 7.8 vs 6.1 s — a 2x that is
 * either a real resource leak (pinned RDD blocks, codegen-cache
 * eviction, heap pressure) or page-cache physics (the suite's other
 * queries evict the targets' parquet pages between reps). This probe
 * separates those mechanically in ONE JVM:
 *
 *  1. run the bench sf1 suite in bench order (cold + 2 warm passes,
 *     same `fn(spark, dir).count()` execution), recording per-rep wall
 *     time, GC-time delta (GarbageCollectorMXBeans — the JVM's own
 *     ledger of where stop-the-world time went), and used heap;
 *  2. immediately after the suite — same JVM, same heap debris, same
 *     codegen caches — re-run the target queries 5x back-to-back.
 *
 * Reading: if the tail reps drop to steady-state, the in-suite gap is
 * POSITIONAL (what ran before evicted pages/caches) and the JVM state
 * carried across the suite is exonerated; the gc_ms split then says
 * whether the positional cost is GC (heap churn from the neighbors) or
 * IO (page-cache eviction — physics, not a bug). If the tail stays
 * slow, the suite leaked something real into the JVM and the heap
 * numbers point at it. Findings land in BASELINE.md.
 */
object SuitePressure {

  private val targets = Seq("q3_top_revenue", "q_assoc_rules")

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  private def heapMb: Long = {
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    val dir = args.headOption.getOrElse(
      ScaleUp.ensure(spark, "/root/testdata/sf0.1", "/tmp/graft_sf1"))

    def rep(name: String): (Double, Long, Long) = {
      val g0 = gcMs
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, gcMs - g0, heapMb)
    }

    val inSuite = scala.collection.mutable.Map.empty[String, List[(Double, Long, Long)]]
    for (pass <- 0 until 3; name <- Bench.sf1Suite
         if SparkEntry.queries.contains(name)) {
      val r = rep(name)
      if (targets.contains(name))
        inSuite(name) = inSuite.getOrElse(name, Nil) :+ r
      System.err.println(f"[pass$pass] $name%-24s ${r._1}%7.2f s gc=${r._2}%5d ms heap=${r._3}%5d MB")
    }
    val tail = targets.map { name =>
      name -> (0 until 5).map(_ => rep(name)).toList
    }.toMap
    def fmt(rs: List[(Double, Long, Long)]): String =
      rs.map { case (w, g, h) => f"""{"wall":$w%.2f,"gc_ms":$g,"heap_mb":$h}""" }
        .mkString("[", ",", "]")
    println("{" + targets.map { n =>
      s""""$n":{"in_suite":${fmt(inSuite.getOrElse(n, Nil))},"tail_isolated":${fmt(tail(n))}}"""
    }.mkString(",") + "}")
    spark.stop()
  }
}
