package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener counts include the actions it just ran (the drain is
  * private to Spark). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
