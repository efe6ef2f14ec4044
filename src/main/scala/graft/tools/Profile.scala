package graft.tools

import graft.{Bench, SparkEntry}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The per-query profiler. Times SparkEntry queries by Bench's own
  * method (`Bench.session`, one warm-up pass over the sf0.001 sibling,
  * best of SPARK_GRAFT_TRIALS timed `count()`s, the persistent-RDD sweep
  * after each query) and writes `PROFILE.json`, one object per query,
  * with what Spark did in the best trial.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<sf dir> [SPARK_GRAFT_CPUS=4] [SPARK_GRAFT_TRIALS=2] \
  *     sbt "runMain graft.tools.Profile [query ...]"
  * No query names profiles all of `SparkEntry.queries`. The shuffle-writer
  * A/B is two runs, `SPARK_BYPASS_THRESHOLD=1` against `200` (build.sbt);
  * every row records the threshold in effect. The run ends by naming
  * the queries that left CacheManager entries behind.
  */
object Profile {

  /** Final-plan operators counted per query: Spark node name -> field. */
  private val PlanOps: Seq[(String, String)] = Seq(
    "Exchange" -> "exchanges",
    "SortMergeJoin" -> "sort_merge_joins",
    "BroadcastHashJoin" -> "broadcast_hash_joins",
    "InMemoryTableScan" -> "in_memory_table_scans",
    "Scan ExistingRDD" -> "existing_rdd_scans")

  /** What Spark did while one trial ran. */
  private[graft] final class Window {
    var jobs, stages = 0
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    val ops = mutable.Map[String, Int]().withDefaultValue(0)
    /** The cached relations whose plans `ops` holds, by identity. */
    val cached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  }

  /** Attributes every job, stage, task and SQL execution to the open
    * window. Trials run one at a time and the listener bus is drained
    * before a window opens and before it closes, so nothing leaks across.
    */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    @volatile var open: Window = null
    private def record(f: Window => Unit): Unit = {
      val w = open
      if (w != null) w.synchronized(f(w))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = record(_.jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = record(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record { w =>
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.diskBytesSpilled
      }
      w.taskMs += e.taskInfo.duration
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(w => countOps(qe.executedPlan, w))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Adds the `PlanOps` nodes of a final (post-AQE) physical plan to
    * `w.ops`, query stages, subqueries and cached plans (once per window)
    * included. A reused exchange ran once, where it was first planned, so
    * its subtree is not counted again.
    */
  private[graft] def countOps(plan: SparkPlan, w: Window): Unit = plan match {
    case a: AdaptiveSparkPlanExec => countOps(a.executedPlan, w)
    case s: QueryStageExec => countOps(s.plan, w)
    case c: CommandResultExec => countOps(c.commandPhysicalPlan, w)
    case _: ReusedExchangeExec => ()
    case m: InMemoryTableScanExec =>
      w.ops(m.nodeName) += 1
      if (w.cached.add(m.relation.cacheBuilder)) countOps(m.relation.cachedPlan, w)
    case p =>
      if (PlanOps.exists(_._1 == p.nodeName)) w.ops(p.nodeName) += 1
      p.children.foreach(countOps(_, w))
      p.subqueries.foreach(countOps(_, w))
  }

  private final case class Trial(wallS: Double, rows: Long, w: Window)

  /** Frees every block a query left persisted, as Bench does after each
    * query. CacheManager registrations stay.
    */
  private def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Bench's warm-up: each query once over the sf0.001 sibling of `sfDir`,
    * failures ignored, then the sweep.
    */
  private def warmUp(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    val sib = new File(new File(sfDir).getParent, "sf0.001")
    if (sib.isDirectory)
      for (n <- names) try SparkEntry.queries(n)(spark, sib.getPath).count()
      catch { case _: Throwable => () }
    else System.err.println(s"[profile] no sf0.001 sibling of $sfDir; no warm-up pass")
    sweep(spark)
  }

  /** One query's profile row: best of `trials` timed counts at `sfDir`
    * and what Spark did in that trial, plus the CacheManager entries
    * before the first trial and after the last (the sweep leaves
    * registrations in place). A query that throws gets its error class
    * in place of the measurements.
    */
  def profile(spark: SparkSession, name: String, sfDir: String,
      trials: Int): Seq[(String, Any)] = {
    val sc = spark.sparkContext
    val head = Seq("query" -> name, "sf" -> new File(sfDir).getName,
      "cpus" -> sc.defaultParallelism, "trials" -> trials,
      "bypass_merge_threshold" ->
        sc.getConf.getInt("spark.shuffle.sort.bypassMergeThreshold", 200))
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val cacheBefore = PlanBridge.cacheEntries(spark)
      val best = (1 to trials).map { _ =>
        PlanBridge.drainListenerBus(spark)
        val w = new Window
        rec.open = w
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        PlanBridge.drainListenerBus(spark)
        rec.open = null
        sweep(spark)
        Trial(wall, rows, w)
      }.minBy(_.wallS)
      val w = best.w
      val ms = w.taskMs.sorted
      head ++ Seq(
        "rows" -> best.rows, "wall_s" -> best.wallS,
        "task_cpu_s" -> w.cpuNs / 1e9, "gc_s" -> w.gcMs / 1e3,
        "jobs" -> w.jobs, "stages" -> w.stages,
        "shuffle_read_bytes" -> w.shuffleRead, "shuffle_write_bytes" -> w.shuffleWrite,
        "spill_bytes" -> w.spill,
        "task_ms_max" -> ms.lastOption.getOrElse(0L),
        "task_ms_median" -> (if (ms.isEmpty) 0L else ms(ms.length / 2))) ++
        PlanOps.map { case (node, field) => field -> w.ops(node) } ++
        Seq("cache_before" -> cacheBefore, "cache_after" -> PlanBridge.cacheEntries(spark))
    } catch {
      case e: Throwable =>
        sweep(spark)
        head :+ ("error" -> e.getClass.getName)
    } finally {
      rec.open = null
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }

  /** The queries whose row left more CacheManager entries than it found. */
  def cacheLeaks(rows: Seq[Seq[(String, Any)]]): Seq[String] = rows.map(_.toMap)
    .filter(r => r.contains("cache_after") &&
      r("cache_after").asInstanceOf[Int] > r("cache_before").asInstanceOf[Int])
    .map(_("query").toString)

  private def json(row: Seq[(String, Any)]): String = row.map { case (k, v) =>
    val value = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double => "%.3f".formatLocal(java.util.Locale.ROOT, d)
      case other => other.toString
    }
    "\"" + k + "\":" + value
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name the sf directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    warmUp(spark, names, sfDir)
    val rows = mutable.ArrayBuffer[Seq[(String, Any)]]()
    for (n <- names) {
      rows += profile(spark, n, sfDir, trials)
      System.err.println(s"[profile] ${rows.size}/${names.size} ${json(rows.last)}")
      // rewritten after every query, so an interrupted run keeps its rows
      Files.writeString(Paths.get("PROFILE.json"),
        rows.map(json).mkString("[\n", ",\n", "\n]\n"))
    }
    val leaks = cacheLeaks(rows.toSeq)
    System.err.println(s"[profile] cache_after > cache_before: " +
      (if (leaks.isEmpty) "none" else leaks.mkString(" ")))
    spark.stop()
  }
}
