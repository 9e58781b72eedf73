package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Access bridge into the two `private[spark]` members the graft engine
  * needs: wrapping an already-analyzed `LogicalPlan` back into a
  * `DataFrame` (custom logical-plan operators), and draining the
  * asynchronous listener bus (`graft.QueryMetrics`). Everything else the
  * engine touches is public API. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every listener has seen every event posted so far (Spark
    * delivers listener events on a separate thread). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
