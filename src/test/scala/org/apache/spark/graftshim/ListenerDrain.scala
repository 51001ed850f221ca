package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so a
  * spec's listener counts are complete when it reads them. The bus is
  * `private[spark]`, hence this bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
