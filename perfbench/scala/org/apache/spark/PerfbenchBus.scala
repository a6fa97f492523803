package org.apache.spark

/** The listener bus is package-private; the benchmark needs it to know
  * that every job and task event of a traced span has been delivered to
  * its listener before the span's numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
