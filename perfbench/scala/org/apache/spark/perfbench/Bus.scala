package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass's listener records are complete when the pass is closed.
  * Lives in an `org.apache.spark` package because the bus is
  * `private[spark]`.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
