package graft.lineage

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Single-pass pipeline telemetry via `Dataset.observe` — the metrics
  * a 100 TB job must NOT pay a second scan for: row counts, byte
  * totals, null tallies ride along the write as accumulator-backed
  * observed aggregates and are read on the driver after the action
  * completes. This is the Spark-native replacement for the
  * "write, then re-read to count" anti-pattern; `Lineage.runResumable`
  * takes its `processed` count from the metrics-table append this way,
  * and the resume pass its input fingerprint from a discarded pass.
  */
object Observe {

  /** Runs `write` over `df` and returns the observed metrics of the
    * SAME pass (no second scan). `write` must run exactly one action on
    * the frame it is given. Metric expressions must be aggregates
    * (count/sum/min/max/...).
    */
  def writeWithMetrics(df: DataFrame, metrics: (String, Column)*)(
      write: DataFrame => Unit): Map[String, Any] = {
    require(metrics.nonEmpty, "at least one observed metric required")
    val obs = Observation()
    val named = metrics.map { case (n, c) => c.as(n) }
    write(df.observe(obs, named.head, named.tail: _*))
    obs.get
  }

  /** Overwrites `path` with `df` as parquet; returns the observed
    * metrics of that pass.
    */
  def writeWithMetrics(
      df: DataFrame,
      path: String,
      metrics: (String, Column)*): Map[String, Any] =
    writeWithMetrics(df, metrics: _*)(_.write.mode("overwrite").parquet(path))
}
