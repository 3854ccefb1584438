package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so span
  * counts read after an action include all of its task-end events. The
  * bus is `private[spark]`, hence this one-method shim in Spark's package. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
