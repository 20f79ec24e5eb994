package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression bridge for graft's native
  * expressions. Spark 4 keeps both directions `private[sql]`, hence
  * this package. A bare aggregate function is wrapped the way the
  * analyzer wraps a SQL call to one.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e match {
    case agg: AggregateFunction => agg.toAggregateExpression()
    case other => other
  })

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
