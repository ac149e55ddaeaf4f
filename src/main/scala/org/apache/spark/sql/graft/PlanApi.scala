package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one compilation unit that lives inside Spark's package tree: the
  * `private[sql]` hops a library needs to offer custom operators and
  * expressions — wrap a hand-built LogicalPlan as a DataFrame, read a
  * DataFrame's analyzed plan to resolve expressions against, and move
  * between a Column and the Catalyst expression behind it.
  * (The standard extension-library pattern; everything else in graft
  * stays outside the spark namespace.)
  */
object PlanApi {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The session's name resolver — honors spark.sql.caseSensitive, so
    * operators built on PlanApi resolve columns exactly like the
    * DataFrame API does.
    */
  def resolver(spark: SparkSession): (String, String) => Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.analyzer.resolver

  /** A Column over a hand-built Catalyst expression: no session
    * function-registry entry is needed to put one in a plan.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
