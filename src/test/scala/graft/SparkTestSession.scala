package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  /** Run `f` and count the Spark jobs it started. The bus is drained
    * before the listener is added (earlier events are not counted) and
    * after `f` returns (every job start it caused is). */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.TestListenerBus.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
