package org.apache.spark

import org.apache.spark.storage.BlockId

/** Test access to this JVM's `private[spark]` block manager. */
object TestBlocks {

  /** Drops block `id` from this JVM's block manager, as the loss of the
    * executor that held it would. Waits while a reader holds its lock.
    */
  def remove(id: BlockId): Unit = SparkEnv.get.blockManager.removeBlock(id)
}
