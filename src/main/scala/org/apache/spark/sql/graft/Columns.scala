package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionColumnNode

/** A `Column` over a Catalyst expression of the engine's own: Spark
  * keeps that constructor package-private, so it lives in Spark's
  * package.
  */
object Columns {
  def of(e: Expression): Column = new Column(ExpressionColumnNode(e))
}
