package org.apache.spark

import org.apache.spark.storage.BlockId

/** Access to the `private[spark]` block manager of this JVM. */
object BlockShim {

  /** `f` over the values of block `id`, if this JVM's block manager holds
    * it; None if it does not. The block's read lock is held while `f`
    * runs, and released whether `f` exhausts the values (the block
    * manager's own iterator releases it then) or stops early or throws:
    * outside a task no completion listener would release it, and a held
    * read lock blocks the block's removal for good.
    */
  def scan[T, R](id: BlockId)(f: Iterator[T] => R): Option[R] = {
    val blocks = SparkEnv.get.blockManager
    blocks.getLocalValues(id).map { block =>
      val data = block.data.asInstanceOf[Iterator[T]]
      var exhausted = false
      val values = new Iterator[T] {
        def hasNext: Boolean = data.hasNext || { exhausted = true; false }
        def next(): T = data.next()
      }
      try f(values)
      finally if (!exhausted) blocks.releaseLock(id)
    }
  }
}
