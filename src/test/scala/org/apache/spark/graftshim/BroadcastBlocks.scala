package org.apache.spark.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** Broadcast values the driver's block manager still holds, task binaries
  * (byte arrays) aside: a broadcast nothing released stays counted here
  * until the ContextCleaner finds it. The block manager is
  * `private[spark]`, hence this bridge in Spark's package. */
object BroadcastBlocks {
  def apply(sc: SparkContext): Int = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.count(id => bm.getLocalValues(id).exists(r =>
      !r.data.toList.headOption.exists(_.isInstanceOf[Array[Byte]])))
  }
}
