package org.apache.spark.vecbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced call's counters are complete when the benchmark reads them. The
  * bus is `private[spark]`, hence this one-line bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
