package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `org.apache.spark.sql` package namespace:
  * Column ⇄ catalyst Expression conversion for graft's custom
  * expressions (the classic ExpressionUtils helpers are private[sql]),
  * and the all-nullable schema a file source reads back.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def asNullable(t: types.StructType): types.StructType = t.asNullable
}
