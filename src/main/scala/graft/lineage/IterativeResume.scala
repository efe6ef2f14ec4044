package graft.lineage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Restart-safe iterative computation — the property a multi-hour
  * 100 TB iterative job (PageRank, label propagation, Lloyd's) must
  * have: every round's state COMMITS to storage, so a driver loss
  * costs at most the in-flight round, and the resumed run replays
  * completed rounds from the table instead of recomputing them.
  * Reading each round back from parquet also cuts the lineage chain —
  * this is the durable sibling of the localCheckpoint rounds of
  * `graft.Rounds.iterate` (which trade executor-loss recovery for
  * speed; this trades a write per round for full restartability).
  *
  * Layout: round k lives at `<root>/round=<k>`; a round counts as
  * committed only when Spark's committer has written its `_SUCCESS`
  * marker, so a crash mid-write leaves a non-committed directory that
  * the resume logic ignores and the rewrite overwrites.
  */
object IterativeResume {

  private def roundPath(root: String, k: Int) = s"$root/round=$k"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def committed(spark: SparkSession, root: String, k: Int): Boolean =
    fs(spark, root).exists(new Path(roundPath(root, k), "_SUCCESS"))

  /** Highest round r such that rounds 0..r are ALL committed (a gap
    * means later directories are stale leftovers of an older run).
    */
  def lastCommitted(spark: SparkSession, root: String, iters: Int): Option[Int] =
    (0 to iters).takeWhile(committed(spark, root, _)).lastOption

  def readRound(spark: SparkSession, root: String, k: Int): DataFrame =
    spark.read.parquet(roundPath(root, k))

  /** Runs `step` from the last committed round up to `iters`,
    * committing every round; `init` only evaluates when round 0 is not
    * already committed. Returns round `iters` read from storage.
    */
  def run(
      spark: SparkSession,
      root: String,
      iters: Int,
      init: => DataFrame,
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    val start = lastCommitted(spark, root, iters) match {
      case None =>
        init.write.mode("overwrite").parquet(roundPath(root, 0))
        0
      case Some(k) => k
    }
    for (k <- (start + 1) to iters) {
      step(readRound(spark, root, k - 1), k)
        .write.mode("overwrite").parquet(roundPath(root, k))
    }
    readRound(spark, root, iters)
  }
}
