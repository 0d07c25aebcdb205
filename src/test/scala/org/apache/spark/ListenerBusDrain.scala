package org.apache.spark

/** Test access to the driver's listener bus, which is Spark-internal. */
object ListenerBusDrain {
  /** Blocks until every listener has handled every event posted so far. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
