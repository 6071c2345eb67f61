package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener snapshot taken after an action includes all of its tasks. */
object Q10BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
