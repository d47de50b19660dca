package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.util.collection.ExternalAppendOnlyMap

/** The `private[sql]` doorway the engine needs: turning a constructed
  * [[LogicalPlan]] back into a user-facing [[DataFrame]]
  * (`Dataset.ofRows`), and a constructed Catalyst [[Expression]] to and
  * from a [[Column]] (`classic.ExpressionUtils`). Spark exposes no public
  * equivalent, so — like every extension library that contributes
  * logical plans or expressions — this object lives under
  * `org.apache.spark.sql` to satisfy the access qualifier. The one
  * `private[spark]` use is [[recordSpills]]: the task metrics a spilling
  * map's owner reports, as `org.apache.spark.Aggregator` does.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Adds a filled `ExternalAppendOnlyMap`'s spill bytes and peak memory
    * to the running task's metrics, as `Aggregator` does for its own. */
  def recordSpills(map: ExternalAppendOnlyMap[_, _, _]): Unit =
    Option(TaskContext.get()).foreach { c =>
      c.taskMetrics().incMemoryBytesSpilled(map.memoryBytesSpilled)
      c.taskMetrics().incDiskBytesSpilled(map.diskBytesSpilled)
      c.taskMetrics().incPeakExecutionMemory(map.peakMemoryUsedBytes)
    }
}
