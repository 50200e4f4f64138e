package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The block-manager master's view of resident RDD blocks, which Spark
  * keeps package-private. Unlike `SparkContext.getRDDStorageInfo`, it also
  * lists blocks whose RDD object is no longer reachable.
  */
object ResidentBlocks {

  /** Ids of the RDDs that hold at least one block (memory or disk) now. */
  def rddIds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.keys.flatMap(_.asRDDId.map(_.rddId))).toSet
}
