package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.storage.BlockId

/** Test-only access to Spark internals (`private[spark]`). */
object GraftTestBridge {
  /** The broadcast blocks the driver's block manager holds now. */
  def broadcastBlocks(sc: SparkContext): Set[BlockId] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).toSet
}
