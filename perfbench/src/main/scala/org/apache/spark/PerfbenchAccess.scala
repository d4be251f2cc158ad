package org.apache.spark

/** The listener bus is Spark-private; the traced mode needs to wait until
 *  every posted event has reached its listener before reading totals. */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
