package org.apache.spark

/** The listener bus is package-private; the benchmark needs it drained
  * before it reads per-span task totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
