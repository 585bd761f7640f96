package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 moved these conversions behind
  * private[sql] (org.apache.spark.sql.classic.ExpressionUtils); custom
  * Catalyst expressions still need them to surface as user-facing Columns,
  * so this shim lives inside the org.apache.spark.sql namespace. It also
  * answers the private[spark] listener-bus lookup StageProfiler needs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eager conversion: ExpressionUtils.expression wraps the column node in a
    * LAZY ColumnNodeExpression placeholder, which only the classic Dataset
    * path converts during analysis — inside a FunctionRegistry builder it
    * would survive to codegen as Unevaluable. Convert through the session
    * converter instead.
    */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Is `l` registered on `sc`'s listener bus (private[spark])? */
  def hasListener(sc: SparkContext, l: SparkListenerInterface): Boolean =
    sc.listenerBus.listeners.contains(l)
}
