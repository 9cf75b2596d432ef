package org.apache.spark

/** Listener-bus access for tests: events reach listeners
  * asynchronously, so a test that counts them waits for the bus to
  * drain instead of sleeping. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
