package org.apache.spark

/** Test access to the package-private listener bus: waits until every
  * queued event has been delivered, so counts gathered by a listener are
  * complete when read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
