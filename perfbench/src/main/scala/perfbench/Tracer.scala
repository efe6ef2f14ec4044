package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** What Spark did inside one measurement window. */
final case class Window(
    wallS: Double,
    taskCpuS: Double,
    gcS: Double,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    taskSkew: Double,
    jobs: Int,
    smj: Int)

/** The benchmark's own listener: task metrics per stage and the final
  * physical plan of every SQL execution, attributed to the window that
  * was open when the stage was submitted. Windows never overlap: the
  * benchmark runs one job at a time and drains the listener bus before
  * it closes a window.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private final class Acc {
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var jobs = 0
    var smj = 0
    val stageTaskMs = new java.util.HashMap[Int, ArrayBuffer[Long]]()
  }

  @volatile private var open: Acc = null
  private val stageAcc = new ConcurrentHashMap[Int, Acc]()

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    Bridge.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` in a fresh window; returns its result and the window. */
  def measure[T](body: => T): (T, Window) = {
    Bridge.drain(spark)
    val acc = new Acc
    open = acc
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    Bridge.drain(spark)
    open = null
    (out, acc.synchronized(summary(acc, wall)))
  }

  private def summary(a: Acc, wall: Double): Window = {
    // skew of the stage that took the most task time: the slowest task
    // over the median task of that stage
    var skew = 1.0
    var heaviest = -1L
    a.stageTaskMs.values().forEach { ms =>
      val total = ms.sum
      if (ms.length >= 2 && total > heaviest) {
        heaviest = total
        val sorted = ms.sorted
        val median = math.max(1L, sorted(sorted.length / 2))
        skew = sorted.last.toDouble / median
      }
    }
    Window(wall, a.cpuNs / 1e9, a.gcMs / 1e3, a.shuffleWrite, a.spill, skew, a.jobs, a.smj)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val a = open
    if (a != null) a.synchronized { a.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val a = open
    if (a != null) stageAcc.put(e.stageInfo.stageId, a)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAcc.get(e.stageId)
    val m = e.taskMetrics
    if (a != null && m != null) a.synchronized {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.stageTaskMs.computeIfAbsent(e.stageId, _ => new ArrayBuffer[Long]()) +=
        e.taskInfo.duration
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val a = open
    if (a != null) {
      val n = Tracer.sortMergeJoins(qe.executedPlan)
      a.synchronized { a.smj += n }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** SortMergeJoins in a final (post-AQE) physical plan. */
  def sortMergeJoins(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => sortMergeJoins(a.executedPlan)
    case s: QueryStageExec => sortMergeJoins(s.plan)
    case r: ReusedExchangeExec => sortMergeJoins(r.child)
    case c: CommandResultExec => sortMergeJoins(c.commandPhysicalPlan)
    case p =>
      (if (p.isInstanceOf[SortMergeJoinExec]) 1 else 0) +
        p.children.map(sortMergeJoins).sum + p.subqueries.map(sortMergeJoins).sum
  }
}
