package org.apache.spark

/** Lets the benchmark wait until its SparkListener has seen every event
  * posted so far, so per-span counts are complete when they are read. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
