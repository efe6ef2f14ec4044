package graft.lineage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Merge-on-read equality deletes (Iceberg v2 delete files): a delete
  * commits a small file of DELETED KEYS instead of rewriting the data
  * files that contain them — O(deleted keys) write cost on a 100 TB
  * table, with readers applying the deletes as an anti-join at scan
  * time. The periodic `compactDeletes` rewrite folds accumulated
  * deletes into the data (copy-on-write) and clears the delete files,
  * bounding the read-time anti-join.
  *
  * Delete files live under `_graft_deletes/` — an underscore directory
  * both `spark.read.parquet(table)` and the catalog's data-file
  * listing already treat as hidden, so delete keys can never be
  * mistaken for rows. Readers therefore list the directory's files
  * through the catalog instead of handing Spark the hidden path.
  */
object MorDeletes {
  private def delDir(table: String) = s"$table/_graft_deletes"

  /** Commit an equality-delete file of `keyCol` values, written in the
    * catalog's codec like its data files.
    */
  def commitDelete(keys: DataFrame, table: String, keyCol: String): Unit =
    ParquetCatalog.writer(keys.select(col(keyCol))).parquet(delDir(table))

  private def deleteKeys(spark: SparkSession, table: String): Option[DataFrame] =
    ParquetCatalog.readDataFiles(spark, delDir(table)).map(_.distinct())

  /** The merge-on-read current view: committed rows minus every key an
    * equality-delete file names.
    */
  def readCurrent(spark: SparkSession, table: String, keyCol: String): DataFrame = {
    val cur = ParquetCatalog.readCurrent(spark, table)
    deleteKeys(spark, table) match {
      case Some(keys) => cur.join(keys, Seq(keyCol), "left_anti")
      case None => cur
    }
  }

  /** Fold the deletes into the data (copy-on-write rewrite snapshot)
    * and clear the delete files; time travel to pre-rewrite snapshots
    * still sees the deleted rows, exactly like any other rewrite.
    */
  def compactDeletes(spark: SparkSession, table: String, keyCol: String): Unit = {
    val applied = readCurrent(spark, table, keyCol)
    ParquetCatalog.overwrite(applied, table)
    val p = new org.apache.hadoop.fs.Path(delDir(table))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }
}
