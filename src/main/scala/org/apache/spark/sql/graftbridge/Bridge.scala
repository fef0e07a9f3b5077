package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column ↔ Expression conversions
  * (Spark 4 moved Column onto ColumnNode; `ExpressionUtils` is the classic
  * bridge). Lives under `org.apache.spark.sql` purely for access — the
  * standard pattern for libraries that build custom Catalyst
  * expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
