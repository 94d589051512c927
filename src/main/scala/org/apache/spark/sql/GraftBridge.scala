package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Column/Expression conversion for graft's
  * native Catalyst expressions (Spark 4 detached Column from
  * Expression; extensions convert through ExpressionUtils), and into
  * Dataset construction over a plan graft builds itself. */
object GraftBridge {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** A DataFrame over `plan`, analysed by the session
    * (`sessionState.executePlan`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
