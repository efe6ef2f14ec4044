package graft.lineage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction planner — the table-maintenance pass that
  * keeps a 100 TB table readable. Long-running ingestion leaves
  * partitions littered with KB-sized files; scans then pay a task per
  * file. The planner assigns every file to a rewrite bin of
  * approximately `targetBytes` so one compaction job per bin rewrites
  * them into right-sized files (the same planning shape as Iceberg's
  * binpack rewrite strategy).
  *
  * Packing rule (deterministic, engine-portable): within each
  * partition, order files by (size desc, id asc) — big files first, so
  * bins after the first few are packed from homogeneous small files —
  * then cut bins by cumulative size: bin = floor(cum_before / target).
  * A file larger than `targetBytes` lands alone in its own bin(s)
  * boundary-wise; the planner never splits a file (compaction rewrites
  * whole files).
  *
  * Scale shape: this runs over the FILE INVENTORY (metadata — one row
  * per file, millions of rows for a 100 TB table, not the data).
  * One shuffle on the partition key, one window sort within it; every
  * partition plans independently, so the planner itself scales out
  * with the table's partition count.
  */
object Compaction {

  def plan(
      files: DataFrame,
      partCol: String,
      idCol: String,
      sizeCol: String,
      targetBytes: Long): DataFrame = {
    val w = Window.partitionBy(col(partCol))
      .orderBy(col(sizeCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("__cum", sum(col(sizeCol)).over(w))
      .withColumn("bin",
        expr(s"CAST((__cum - $sizeCol) div ${targetBytes}L AS INT)"))
      .drop("__cum")
  }
}
