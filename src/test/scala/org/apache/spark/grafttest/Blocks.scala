package org.apache.spark.grafttest

import org.apache.spark.SparkContext
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Same-package access to the driver's BlockManager, so a test can count the
  * broadcast values and RDD blocks an operator leaves behind. */
object Blocks {
  /** Broadcast values of class `cls` held in the driver's memory store. */
  def broadcastValues(sc: SparkContext, cls: Class[_]): Int = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true // the value; pieces carry a field
      case _ => false
    }.count(id => bm.memoryStore.getValues(id).exists(_.exists(cls.isInstance)))
  }

  /** RDD blocks (cached or checkpointed partitions) held by the local
    * BlockManager. */
  def rddBlocks(sc: SparkContext): Int =
    sc.env.blockManager.getMatchingBlockIds {
      case _: RDDBlockId => true
      case _ => false
    }.size
}
