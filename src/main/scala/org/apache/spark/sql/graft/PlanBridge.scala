package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge into the private[sql] Dataset constructors so graft's custom
  * logical operators (graft.plans) can surface as user DataFrames, and
  * into the private[spark] listener bus and task scheduler. Lives under
  * org.apache.spark.sql.* purely for access; no Spark internals are
  * modified.
  */
object PlanBridge {
  /** The analyzed logical plan backing a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wrap a logical plan as a DataFrame on the given session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until every posted listener event is delivered, so counts a
    * listener keeps are complete when read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Tasks the scheduler still counts as running, over all executors. A
    * task leaves the count when its executor reports it ended, after its
    * own cleanup ran. */
  def runningTasks(sc: SparkContext): Int = sc.taskScheduler match {
    case t: org.apache.spark.scheduler.TaskSchedulerImpl => t.runningTasksByExecutors.values.sum
    case _ => 0
  }
}
