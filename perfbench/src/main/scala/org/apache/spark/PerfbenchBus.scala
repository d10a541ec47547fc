package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it so every finished task is attributed before spans are summarised. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
