package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** The package-private Spark seams the engine needs, each one
  * forwarding call with no logic of its own. The bridge lives in the
  * `org.apache.spark.sql` namespace — the standard extension-library
  * pattern (Delta Lake, Iceberg and friends ship the same shim).
  */
object GraftBridge {
  /** A custom [[LogicalPlan]] node as a `DataFrame`, for whole-operator
    * Catalyst extensions (`classic.Dataset.ofRows` is `private[sql]`).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Blocks until every listener has handled the events posted so far
    * (at most 10 s, then a `TimeoutException`). Spark delivers job events
    * and completes `Observation`s on this asynchronous bus, after the
    * action that caused them has returned.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
