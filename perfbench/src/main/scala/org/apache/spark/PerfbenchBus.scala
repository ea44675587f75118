package org.apache.spark

/** Listener-bus access the public API does not offer. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
