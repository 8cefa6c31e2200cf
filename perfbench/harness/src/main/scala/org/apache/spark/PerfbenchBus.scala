package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark needs
  * it to read complete counters after a phase ends. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
