package org.apache.spark

/** Test-only access to the driver's listener bus: a listener's view
  * of an action is complete only after the bus drained, and
  * `waitUntilEmpty` is package-private to Spark. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
