package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's block manager. */
object BlockShim {
  /** The ids of the broadcasts with a block on the driver. */
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
