package graft.tools

import graft.SparkEntry

/** Diagnostic runner: execute one inventory query N times in a single
  * JVM and print per-rep wall times — separates JIT/codegen warm-up
  * from steady-state and from run-order effects that a full-suite bench
  * can't isolate (e.g. the r6 sf1 warm-pass anomaly investigation).
  *
  * `query` may be a comma-separated LIST: each query runs `reps` times
  * in order, all in one session — the control-query methodology
  * (run a suspected suite-pressure victim after a heavy neighbor and
  * compare against its solo steady state).
  *
  * Usage: runMain graft.tools.QueryLoop <sfDir> <query[,query...]> [reps]
  */
object QueryLoop {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = graft.core.Session.local()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[queryloop] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}
