package org.apache.spark

/** The listener bus drain the benchmark needs before it reads its
  * listener's counters: `waitUntilEmpty` is private[spark], so the
  * one-line accessor lives inside the package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
