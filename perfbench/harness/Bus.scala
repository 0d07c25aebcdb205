package org.apache.spark

/** Listener events reach listeners asynchronously; counters read right
  * after an action must first wait for the bus to drain. The drain call
  * is internal to Spark, hence this shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
