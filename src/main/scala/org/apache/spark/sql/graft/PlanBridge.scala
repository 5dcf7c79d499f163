package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}

/** Minimal bridge into `private[sql]` Spark internals, kept in an
  * `org.apache.spark.sql` subpackage on purpose (the standard pattern
  * used by Spark-native libraries: the touched entry points —
  * `Dataset.ofRows` to wrap a custom [[LogicalPlan]] in a DataFrame and
  * the Column ↔ Expression conversions — have no public equivalent).
  * Planner strategies are not installed here: `graft.GraftExtensions`
  * injects them into every session `graft.GraftSession` builds.
  * Everything else in graft sticks to the public API; keep this file
  * tiny.
  */
object PlanBridge {

  /** Wrap a custom logical plan in a DataFrame (analyzer + optimizer +
    * planner all run as for any built-in node).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Column ↔ Expression bridge (both directions are `private[sql]`). */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
