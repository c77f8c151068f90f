package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * span's job and task counts are complete when the span closes. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
