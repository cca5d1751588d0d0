package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it so
  * that counters read after an action include that action's events. */
object PerfBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
