package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression, for the graft expressions that hold
  * state no SQL argument can carry (a broadcast query batch), so they
  * cannot be built through the function registry. Spark keeps the
  * conversion package-private; this is its one bridge. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
