package org.apache.spark.fossilbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * listener's totals cover all work finished before the call (the bus is
  * asynchronous and has no public flush). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
