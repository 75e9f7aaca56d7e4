package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst expression, for graft expressions whose operand no SQL
  * argument can carry (a driver-collected centroid table bound as a literal).
  * `ExpressionUtils` is `private[sql]`, hence this package. */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
