package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads what its listener recorded. `listenerBus` is
  * package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
