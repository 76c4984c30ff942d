package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * listener's counters only after the bus has drained. `listenerBus` is
  * package-private, hence this accessor in Spark's package.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
