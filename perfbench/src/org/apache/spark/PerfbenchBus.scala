package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it
  * before it reads what its listener saw.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
