package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils) so graft can register
  * custom Catalyst expressions as Columns, and into `Dataset.ofRows` so
  * a prepared plan can back a new DataFrame. Lives under
  * org.apache.spark.sql.* purely for access; no Spark code is modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new DataFrame in `spark` over an already analyzed `plan`
    * (`Dataset.ofRows`, private[sql]): its QueryExecution finds nothing
    * left to resolve, and its actions optimize, plan and run as any
    * DataFrame's. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `org.apache.spark.sql.types.AbstractDataType` is private[sql];
    * re-exported here so expressions can declare `inputTypes`. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
