package org.apache.spark

/** The listener bus is package-private; specs that count Spark jobs drain
  * it before they read their listener's totals. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
