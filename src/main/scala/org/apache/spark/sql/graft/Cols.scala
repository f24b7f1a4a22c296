package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between `Column` and Catalyst `Expression` for the engine's
  * custom expressions. Spark 4's converters are `private[sql]`, hence
  * this object's package. Every `graft.functions` accessor builds its
  * expression directly through it; the SQL names live in
  * [[graft.engine.GraftExtensions]] alone.
  */
object Cols {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
