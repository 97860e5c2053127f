package org.apache.spark

/** Reads the block manager master's storage status, which Spark keeps
  * package-private. */
object StorageProbe {
  /** Ids of the RDDs that hold at least one block in any block manager.
    * Unlike `SparkContext.getPersistentRDDs` (a map with weak values), an
    * RDD the driver has garbage-collected still shows here until its
    * blocks are actually removed. */
  def rddsHoldingBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.keysIterator)
      .flatMap(_.asRDDId)
      .map(_.rddId)
      .toSet
}
