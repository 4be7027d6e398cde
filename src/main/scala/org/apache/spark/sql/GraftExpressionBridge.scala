package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the private[sql] Column<->Expression converters of Spark
  * 4's classic API, for registering custom Catalyst expressions (e.g.
  * graft.functions.TextMinHash) as Columns. Standard extension
  * technique: the only Spark-internal surface touched is this pair of
  * converters.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
