package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit, when}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Owned materialization: the one way a frame is checkpointed, the one
  * way its blocks are released, the one way a frame is cached for a
  * scope, and the one round loop of the iterative operators (connected
  * components, PageRank, HITS, k-core, label propagation).
  *
  * Mode: `localCheckpoint` by default — fastest, but UNRECOVERABLE on
  * executor loss (the job fails instead of recomputing). On a real
  * cluster set `graft.checkpoint.reliable=true` and `sc.setCheckpointDir`
  * to a fault-tolerant FS: checkpoints then cut lineage through files
  * and survive executor loss, the multi-hour 10^12-edge setting.
  */
object Rounds {

  /** `df` materialized eagerly: later readers never re-run its lineage. */
  def checkpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("graft.checkpoint.reliable").exists(_.toBoolean)) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "graft.checkpoint.reliable=true needs sc.setCheckpointDir(...)")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Unpersists the blocks behind frames returned by [[checkpoint]]: the
    * RDD the frame's `LogicalRDD` wraps, so a foreign cache that first
    * materialized in the same action (which diffing `getPersistentRDDs`
    * would catch) is never touched. A frame derived from a checkpoint
    * releases nothing; a reliable checkpoint's data is files, which the
    * context cleaner reclaims.
    */
  def release(frames: DataFrame*): Unit = frames.foreach(_.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  })

  /** Runs `use` over `df` persisted at MEMORY_AND_DISK and unpersists it
    * afterwards, also when `use` throws. A frame whose plan is already
    * cached on entry (an enclosing scope over the same plan, or a cache
    * the caller owns) is used as it is: the CacheManager keys entries by
    * plan, so only the scope that registered the plan releases it. `use`
    * returns a collected value or a frame that no longer reads the
    * cache, i.e. one that ends in [[checkpoint]].
    */
  def cached[A](df: DataFrame)(use: DataFrame => A): A =
    if (df.storageLevel != StorageLevel.NONE) use(df)
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try use(df) finally df.unpersist(blocking = false)
    }

  /** The shuffle width of frames pre-partitioned for every round's join. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** What ends a round loop before `maxIters`, and the count it needs
    * observed on each new frontier's own checkpoint pass.
    */
  sealed abstract class Until(private[Rounds] val counted: Option[Column])
  /** Every one of the `maxIters` rounds runs. */
  case object AllRounds extends Until(None)
  /** Stops after the first round whose frontier has no row where
    * `changed` holds.
    */
  final case class NoneChanged(changed: Column) extends Until(Some(count(when(changed, 1))))
  /** Stops after the first round that reproduces its input, a set of
    * distinct rows: equal row counts, and only then an empty `except`.
    */
  case object SameRows extends Until(Some(count(lit(1))))

  /** Runs rounds of `step` from `init`; returns the last frontier and the
    * rounds run. `step` gets the frontier and a `materialize` (a
    * [[checkpoint]]) for the round's intermediates; its result is
    * checkpointed as the next frontier, after which the intermediates and
    * the superseded frontier (`init` too, if a checkpoint) are released.
    * Frames the step closes over stay the caller's. A stopping rule that
    * has not fired by `maxIters` fails the loop.
    */
  def iterate(init: DataFrame, maxIters: Int, until: Until = AllRounds)(
      step: (DataFrame, DataFrame => DataFrame) => DataFrame): (DataFrame, Int) = {
    var frontier = init
    var frontierRows = -1L
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val intermediates = ArrayBuffer.empty[DataFrame]
      val raw = step(frontier, df => { val cp = checkpoint(df); intermediates += cp; cp })
      val obs = Observation()
      val next = checkpoint(until.counted.fold(raw)(n => raw.observe(obs, n.as("n"))))
      converged = until match {
        case AllRounds => false
        case NoneChanged(_) => obs.get("n") == 0L
        case SameRows =>
          val prevRows = if (frontierRows < 0) frontier.count() else frontierRows
          frontierRows = obs.get("n").asInstanceOf[Long]
          frontierRows == prevRows && next.except(frontier).isEmpty
      }
      release(intermediates.toSeq :+ frontier: _*)
      frontier = next
      rounds += 1
    }
    require(converged || until == AllRounds, s"round loop did not converge in $maxIters rounds")
    (frontier, rounds)
  }
}
