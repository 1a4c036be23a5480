package org.apache.spark

/** Access to the SparkContext's listener bus, which Spark keeps package-private:
  * the traced run waits for every event of a query to reach its listeners
  * before it reads that query's counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
