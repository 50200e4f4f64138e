package org.apache.spark.graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the query executions of the checkpoint actions (`checkpoint`,
  * `localCheckpoint`) a block runs, in the order they ran. Execution
  * listener events arrive on the listener bus, which is drained before
  * the listener is removed. Run the block with nothing else in flight.
  */
object CheckpointPlans {

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName.toLowerCase.endsWith("checkpoint")) seen.synchronized { seen += qe; () }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}
