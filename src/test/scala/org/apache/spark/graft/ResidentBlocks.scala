package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}

/** The block-manager master's view of resident RDD blocks, which Spark
  * keeps package-private. Unlike `SparkContext.getRDDStorageInfo`, it also
  * lists blocks whose RDD object is no longer reachable.
  */
object ResidentBlocks {

  /** Ids of the RDDs that hold at least one block (memory or disk) now. */
  def rddIds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.keys.flatMap(_.asRDDId.map(_.rddId))).toSet

  /** The block's result and the ids of the RDDs that stored a block while
    * it ran, read from the block-update events. The listener bus is
    * drained before the listener is added and again before the ids are
    * read, as in [[JobCount]].
    */
  def storedDuring[T](sc: SparkContext)(body: => T): (T, Set[Int]) = {
    sc.listenerBus.waitUntilEmpty()
    val stored = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.storageLevel.isValid) info.blockId.asRDDId.foreach(b => stored.add(b.rddId))
      }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, stored.asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }
}
