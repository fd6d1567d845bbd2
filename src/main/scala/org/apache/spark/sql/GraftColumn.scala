package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The one accessor from a Catalyst expression to a `Column`: Spark 4
  * keeps `ExpressionUtils.column` package-private, and the engine's
  * query parameters ([[graft.functions.expressions.BoundParam]]) are
  * expressions with no SQL function to call them by.
  */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
}
