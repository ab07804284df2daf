package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft and the classic-mode internals Spark 4 made
  * `private[sql]`. The Expression⇄Column converters let graft ship
  * custom codegen expressions as Columns — the sanctioned extension
  * path (SparkSessionExtensions.injectFunction takes Expression
  * builders too; this is the same surface for direct Column use).
  * [[ofRows]] hands a bounded stream's result from the session it ran
  * in back to the caller's.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `plan` as a DataFrame of `session`. An analyzed plan is taken as
    * is, so this rebinds a Dataset from one session to another. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)
}
