package org.apache.spark

/** The benchmark reads its listener's sums only after every posted event
  * has been delivered. Spark keeps the listener bus drain package-private,
  * so this one-line bridge lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
