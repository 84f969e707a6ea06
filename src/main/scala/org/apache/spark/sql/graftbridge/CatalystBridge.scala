package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, LongType}

/** Spark 4 removed the public Column(Expression) constructor; the
  * supported bridge (ExpressionUtils) is private[sql], so this one-file
  * subpackage re-exports the two conversions the engine needs to expose
  * custom Catalyst expressions as Columns. `AbstractDataType` is
  * private[sql] too, so expressions outside the package that declare
  * implicit-cast input types take theirs from here.
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  val oneLongInput: Seq[AbstractDataType] = Seq(LongType)
}
