package org.apache.spark.jobcount

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block starts. Lives under `org.apache.spark`
  * to reach the listener bus, which is drained before and after the
  * block so every job start of the block, and no other, is seen.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, jobs, _) = withStages(spark)(body)
    (out, jobs)
  }

  /** The block's result, the jobs it started and the stages it ran. A
    * stage a job skips, because an earlier job already wrote its shuffle
    * output, is never submitted and is not counted.
    */
  def withStages[T](spark: SparkSession)(body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }
}
