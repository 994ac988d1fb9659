package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, so traced runs can read
  * every event of an op before the next op starts. */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
