package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener-bus drain: a run attributes
  * listener events to the operation that caused them by draining the bus
  * between operations (outside every timed interval).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
