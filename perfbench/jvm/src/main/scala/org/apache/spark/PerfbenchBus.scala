package org.apache.spark

/** Drains the listener bus so every event of the jobs that already ran has
  * reached the benchmark's listener before a pass's totals are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
