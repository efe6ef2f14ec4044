package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to the `private[sql]` Dataset constructor — the
  * standard seam every Spark extension library uses to wrap a custom
  * LogicalPlan node into a public DataFrame. Lives in the
  * `org.apache.spark.sql` namespace solely for that access (and for the
  * listener bus and CacheManager the profiler reads); contains no logic.
  */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column <-> Expression seam (same rationale: the classic converter
    * is `private[sql]`), used to wrap native Catalyst expressions into
    * Columns without a per-session function registry.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Blocks until every listener has seen every event posted so far
    * (the listener bus is `private[spark]`).
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Plans registered with the session's CacheManager. */
  def cacheEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
