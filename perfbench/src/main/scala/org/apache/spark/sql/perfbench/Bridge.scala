package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Access to two Spark internals the benchmark reads from outside the
  * program: the listener bus, drained before a measurement window
  * closes so every event of the window has been seen, and the
  * CacheManager, whose registrations a query may leave behind.
  */
object Bridge {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  def cacheEntries(spark: SparkSession): Int =
    spark.asInstanceOf[ClassicSession].sharedState.cacheManager.numCachedEntries
}
