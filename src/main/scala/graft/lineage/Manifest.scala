package graft.lineage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iceberg-manifest-style column statistics: per-file (min, max,
  * null-count, value-count, bounded NDV) for the columns a scan
  * filters on — the metadata that lets a 100 TB query plan skip files
  * without opening them.
  *
  * No Iceberg runtime is on the classpath (see `ParquetCatalog`), so
  * "file" is a deterministic logical bucket — the portable 60-bit hash
  * of the row id mod `numFiles` — which makes the manifest itself an
  * oracled query instead of a side effect of a write. On a real table
  * the same aggregation keyed by `input_file_name()` (or the catalog's
  * manifest read path) produces the physical version; the pruning
  * logic below is identical either way.
  *
  * Scale posture: manifest size is O(files), never O(rows). NDV is
  * exact count(distinct) here because the gate needs engine-identical
  * values, which costs a second map-side-combined exchange keyed on
  * (file, cat) to dedup values before the (file)-keyed stats exchange
  * (plan-gated in PlanSpec); at 10^12 rows swap in the mergeable KMV
  * sketch ([[graft.operators.Kmv]]) per bucket and the plan drops back
  * to one exchange.
  */
object Manifest {

  /** Per-file stats manifest: (file, n_rows, n_nulls, min_val,
    * max_val, min_id, max_id, ndv_cat), one row per non-empty logical
    * file, keyed by hash(salt || id) % numFiles.
    */
  def fileStats(df: DataFrame, idCol: String, numCol: String,
      catCol: String, numFiles: Int, salt: String = "manifest"): DataFrame = {
    require(numFiles >= 1, s"numFiles must be positive: $numFiles")
    df.groupBy(
        pmod(graft.PortableHash.salted60(col(idCol), salt), lit(numFiles.toLong))
          .as("file"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(lit(1)).minus(count(col(numCol))).as("n_nulls"),
        min(col(numCol)).as("min_val"),
        max(col(numCol)).as("max_val"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"),
        countDistinct(col(catCol)).as("ndv_cat"))
  }

  /** Manifest-driven pruning decision for `lo <= numCol <= hi`: the
    * manifest rows with a `kept` flag — a file survives iff its
    * [min_val, max_val] range overlaps [lo, hi] (null-stat files are
    * kept: no evidence to skip on). `sum(kept)` over this output is
    * the files-read count of the pruned scan.
    */
  def pruneForRange(manifest: DataFrame, lo: Long, hi: Long): DataFrame =
    manifest.withColumn("kept",
      coalesce(col("max_val") >= lit(lo) && col("min_val") <= lit(hi), lit(true))
        .cast("int"))
}
