package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` Column↔Expression conversion — the standard
  * shim any Spark extension library needs to surface custom Catalyst
  * expressions through the public Column API (Spark 4 moved Column to a
  * ColumnNode wrapper; these are the sanctioned classic-mode converters).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `ds`, a checkpoint result (a bare `LogicalRDD`), with its statistics
    * replaced by `stats`: same RDD, same output attributes, same
    * partitioning and constraints. A checkpoint otherwise keeps the
    * optimizer's estimate of the plan it replaced.
    */
  def withStats[T](ds: Dataset[T], stats: Statistics): Dataset[T] = {
    val session = ds.sparkSession.asInstanceOf[classic.SparkSession]
    val r = ds.queryExecution.logical.asInstanceOf[LogicalRDD]
    val plan = r.copy()(session, Some(stats), Some(r.constraints))
    classic.Dataset[T](session, plan)(ds.encoder)
  }
}
