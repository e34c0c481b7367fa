package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one file where the library touches `private[sql]` /
  * `private[spark]` seams, for two uses:
  *  - Column ⇄ Expression conversion for registering the custom
  *    codegen expression ([[graft.functions.DotProductQ]]). Spark 4
  *    removed the public `new Column(expr)` constructor; every serious
  *    extension (Delta, Sedona, ...) bridges through an
  *    `org.apache.spark.sql` subpackage exactly like this.
  *  - Waiting for the listener bus to deliver every posted event, so
  *    [[graft.bench.StageMetrics]] reads exact stage sums instead of
  *    sleeping for them.
  * Nothing else in the codebase reaches into Spark internals.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
