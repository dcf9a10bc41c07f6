package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, ExpressionUtils, SparkSession}

/** The ONE deliberate use of Spark's package-private surface in this
  * codebase: Scala has no public "logical plan → DataFrame" constructor
  * (`Dataset.ofRows` is `private[sql]`; the pandas-on-Spark and connect
  * frontends use it internally for exactly this purpose), and no public
  * "expression → Column" one either. Everything else in graft sticks to
  * the public API; custom logical plans built by `graft.plans` and the
  * native kernels of `graft.expressions` go through this bridge.
  *
  * Kept to one-line entry points in a dedicated package so the
  * dependency on non-public API is auditable and trivially replaceable if
  * a public constructor ever appears.
  */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)
}
