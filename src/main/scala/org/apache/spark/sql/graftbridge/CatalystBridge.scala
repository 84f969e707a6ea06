package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.types.{AbstractDataType, LongType}

/** Spark 4 removed the public Column(Expression) constructor; the
  * supported bridge (ExpressionUtils) is private[sql], so this one-file
  * subpackage re-exports the two conversions the engine needs to expose
  * custom Catalyst expressions as Columns. `AbstractDataType` is
  * private[sql] too, so expressions outside the package that declare
  * implicit-cast input types take theirs from here. A frame's logical
  * plan and a frame over a plan cross the same boundary for plan nodes
  * of the engine's own.
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def logicalPlan(df: DataFrame): LogicalPlan = df.asInstanceOf[Dataset[_]].logicalPlan
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  val oneLongInput: Seq[AbstractDataType] = Seq(LongType)
}
