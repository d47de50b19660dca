package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The `private[sql]` doorway the engine needs: turning a constructed
  * [[LogicalPlan]] back into a user-facing [[DataFrame]]
  * (`Dataset.ofRows`), and a constructed Catalyst [[Expression]] to and
  * from a [[Column]] (`classic.ExpressionUtils`). Spark exposes no public
  * equivalent, so — like every extension library that contributes
  * logical plans or expressions — this object lives under
  * `org.apache.spark.sql` to satisfy the access qualifier. Nothing else
  * internal is touched.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
