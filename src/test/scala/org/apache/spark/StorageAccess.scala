package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** The `private[spark]` block-manager view, for specs that check what an
  * operator leaves in executor storage. */
object StorageAccess {
  /** Ids of the RDDs that hold at least one block right now. */
  def rddsWithBlocks(): Set[Int] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(rdd, _) => rdd }.toSet
}
