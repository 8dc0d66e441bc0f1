package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, so the
  * benchmark reads its counts after every event has been delivered. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
