package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._

/** Bridge into `private[sql]` Dataset constructors — the standard pattern for
  * Spark extensions that introduce custom logical operators (the public
  * Column/Dataset API in Spark 4 wraps plan nodes, so building a DataFrame
  * from a LogicalPlan requires this package-private hop) — and into the
  * `private[spark]` listener bus and executor-metrics getter.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Block until every listener event posted so far has been delivered:
    * the bus is asynchronous, so a listener read right after an action can
    * miss that action's last stage and task events.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Spark's executor-metrics poller starts one `getconf PAGESIZE` process
    * per JVM, the first time it runs; running that start now keeps it out of
    * a later measurement of the processes some work starts. Without a
    * running SparkContext there is no poller (and the getter cannot start).
    */
  def initProcessMetrics(): Unit =
    if (org.apache.spark.SparkEnv.get != null)
      org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo: Unit
}
