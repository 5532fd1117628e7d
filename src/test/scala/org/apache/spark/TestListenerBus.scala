package org.apache.spark

/** Test access to the listener bus: events reach listeners
  * asynchronously, so a count taken right after an action must drain
  * the bus first.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
