package org.apache.spark

/** Listener-bus access for the benchmark's traced run: events reach
  * listeners asynchronously, so the tracer waits for the bus to drain
  * before it attributes what arrived to the request that just ended. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
