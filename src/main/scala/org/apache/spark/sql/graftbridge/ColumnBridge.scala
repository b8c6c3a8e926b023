package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into the `private[sql]` Column<->Expression converters (Spark 4
  * backs Column with ColumnNode, so library code can no longer construct
  * `new Column(expr)` directly). Lives under org.apache.spark.sql solely
  * to satisfy the access modifier — the standard extension-library trick.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The Column's expression tree now (`expression` defers the
    * conversion to analysis), so a literal argument reads as a Literal. */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
