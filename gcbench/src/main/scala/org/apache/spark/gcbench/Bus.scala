package org.apache.spark.gcbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read after an action include that action. Lives in Spark's
  * package because the bus is not public API. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
