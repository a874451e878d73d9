package org.apache.spark

/** The driver's listener bus drain is private to Spark. The benchmark
  * waits for every queued event before it reads its listener counters,
  * so the counters of an operation are complete when they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
