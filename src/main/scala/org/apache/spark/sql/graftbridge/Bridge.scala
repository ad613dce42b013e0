package org.apache.spark.sql.graftbridge

import org.apache.spark.internal.config.ConfigEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils) so graft can register
  * custom Catalyst expressions as Columns, into `Dataset.ofRows` so a
  * prepared plan can back a new DataFrame, and into the `private[spark]`
  * conf entry registry for the defaults a prepared plan's key leaves
  * out. Lives under org.apache.spark.sql.* purely for access; no Spark
  * code is modified.
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

  /** The session's explicitly set SQL confs less every entry whose value
    * is its registered default string: a key set to the value it already
    * had by default reads the same as an unset one. A fallback entry's
    * default string names its fallback key, so it never matches and
    * stays. */
  def nonDefaultConfs(spark: SparkSession): Map[String, String] =
    spark.sessionState.conf.getAllConfs.filter { case (key, value) =>
      Option(ConfigEntry.findEntry(key)).forall(_.defaultValueString != value)
    }

  /** `org.apache.spark.sql.types.AbstractDataType` is private[sql];
    * re-exported here so expressions can declare `inputTypes`. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
