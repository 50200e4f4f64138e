package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The two Spark internals the benchmark reads, which Spark keeps
  * package-private.
  */
object Bus {

  /** Waits until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of RDD blocks (memory and disk) the block-manager master lists
    * now. Unlike `SparkContext.getRDDStorageInfo`, this also counts blocks
    * whose RDD object is no longer reachable, and unlike block-update
    * events it sees blocks removed with their RDD.
    */
  def rddBlockBytes(sc: SparkContext): Long =
    SparkEnv.get.blockManager.master.getStorageStatus
      .map(_.rddBlocks.values.map(b => b.memSize + b.diskSize).sum).sum
}
