package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started while a block runs. The listener bus is
  * drained before the listener is added and again before the count is
  * read, so a job started inside the block is counted even when its start
  * event is delivered after the block returns, and no earlier job leaks
  * in. Jobs other threads start meanwhile are counted too: run the block
  * with nothing else in flight.
  */
object JobCount {

  /** The block's result and the number of jobs started while it ran. */
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
