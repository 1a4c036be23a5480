package org.apache.spark

/** Spark keeps the listener bus package-private: `graft.Probe jobs` waits
  * for every event of a query to reach its listeners before reading counts. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
