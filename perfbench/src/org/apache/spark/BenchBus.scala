package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete listener data after a drain. The wait is only
  * reachable from Spark's own package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
