package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to know that
  * every event of an operation has been delivered before it reads the
  * listener's tallies. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
