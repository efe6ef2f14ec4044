package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch heavy hitters (Cormode & Muthukrishnan, "An
  * improved data stream summary: the count-min sketch and its
  * applications", J. Algorithms 2005): d independent hash rows of w
  * counters; point estimate = min over rows of the hashed cell, an
  * OVERestimate by at most eps*N (eps = e/w) with probability
  * 1 - delta (delta = e^-d). The sketch is mergeable (cell-wise sum).
  *
  * Everything is exact 64-bit integer arithmetic over the shared
  * portable hash (row i salts with "cms{i}"), so the DuckDB oracle
  * replays estimates bit-for-bit, and the emitted
  * `overestimate = est - exact` column is the op's own error audit —
  * the no-silent-caps posture applied to sketch error: a consumer sees
  * exactly how much each reported count is inflated, instead of
  * trusting an opaque summary.
  *
  * Scale shape: the cell table is groupBy((row, col)) sum — map-side
  * partial sums collapse each partition to <= d*w rows, and the final
  * table is d*w rows REGARDLESS of input size, so the estimate join
  * broadcasts it. The candidate side here is the distinct-value table
  * (needed anyway to report exact error); a pure streaming consumer
  * would keep only the d*w cells.
  */
object Cms {

  /** (row, col, cnt): the d x w sketch cells over `valueCol`
    * occurrences (each input row contributes 1 to one cell per sketch
    * row).
    */
  def cells(df: DataFrame, valueCol: String, d: Int, w: Int,
      salt: String = "cms"): DataFrame =
    df.select(col(valueCol).as("v"))
      .filter(col("v").isNotNull)
      .select(col("v"), explode(sequence(lit(0), lit(d - 1))).as("row"))
      .select(col("row"), (hashFor(salt) % lit(w.toLong)).as("col"))
      .groupBy(col("row"), col("col"))
      .agg(count(lit(1)).as("cnt"))

  /** Heavy hitters with error audit: (value, est_count, exact_count,
    * overestimate) for every distinct value whose CMS estimate is at
    * least `minCount`. est_count >= exact_count always (gated in
    * CmsSpec); CMS guarantees no false negatives at the threshold.
    */
  def heavyHitters(df: DataFrame, valueCol: String, d: Int = 4,
      w: Int = 1024, minCount: Long, salt: String = "cms"): DataFrame = {
    // One pass over the (possibly expensive) input: the cell table is
    // derived from the distinct-value counts instead of [[cells]]'s
    // occurrence stream — cell(row, col) = Σ over values hashing there
    // of their occurrence count, identical by commutativity — so the
    // input is scanned once and the portable hash runs d times per
    // DISTINCT value rather than d times per occurrence (the previous
    // shape also re-ran the upstream explode for the cells branch).
    // The hashed probe frame serves both the cell aggregation and the
    // estimate join; checkpointed because both read it.
    val vals = df.select(col(valueCol).as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("exact_count"))
    val probes = graft.Rounds.checkpoint(
      vals
        .select(col("v"), col("exact_count"),
          explode(sequence(lit(0), lit(d - 1))).as("row"))
        .select(col("v"), col("exact_count"), col("row"),
          (hashFor(salt) % lit(w.toLong)).as("col")))
    val cellTable = probes.groupBy(col("row"), col("col"))
      .agg(sum(col("exact_count")).as("cnt"))
    probes
      .join(broadcast(cellTable), Seq("row", "col"))
      .groupBy(col("v"))
      .agg(min(col("cnt")).as("est_count"), max(col("exact_count")).as("exact_count"))
      .filter(col("est_count") >= minCount)
      .select(col("v").as(valueCol), col("est_count"), col("exact_count"),
        (col("est_count") - col("exact_count")).as("overestimate"))
  }

  /** Row-i probe hash: the same salted60("{salt}{row}" || v) both the
    * cell build and the probe use — `row` rides as a column so one
    * expression serves all d rows.
    */
  private def hashFor(salt: String) =
    graft.PortableHash.md5Hash60(
      concat(lit(salt), col("row").cast("string"), col("v").cast("string")))
}
