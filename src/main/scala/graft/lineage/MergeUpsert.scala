package graft.lineage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE INTO semantics (the lakehouse upsert: Iceberg/Delta
  * `MERGE WHEN MATCHED UPDATE / WHEN MATCHED AND tombstone DELETE /
  * WHEN NOT MATCHED INSERT`) as a single full-outer join — the
  * copy-on-write rewrite a catalog executes under that statement,
  * expressed engine-side so corpus versioning works through the
  * `ParquetCatalog` without an Iceberg runtime.
  *
  * Scale posture: ONE co-partitioned shuffle per side on the merge key
  * (elided entirely when the target table is bucketed on it — the
  * normal layout for a repeatedly-merged corpus). The source delta is
  * usually orders of magnitude smaller than the target; a full-outer
  * join cannot broadcast, but AQE's skew handling applies and the
  * target side moves each row exactly once. Deletes of absent keys
  * are no-ops, matching SQL MERGE.
  */
object MergeUpsert {

  /** Upsert `source` into `target` on `keyCol`. Both frames must share
    * the target's schema; `source` additionally carries boolean
    * `deleteCol` marking tombstones. Source keys must be unique
    * (checked nowhere — enforce upstream like any MERGE): matched
    * non-tombstone rows take the source's values, matched tombstones
    * drop the row, unmatched source rows insert, untouched target rows
    * carry over. Output has exactly the target's columns.
    */
  def merge(target: DataFrame, source: DataFrame, keyCol: String,
      deleteCol: String = "_deleted"): DataFrame = {
    val outCols = target.columns
    require(!outCols.contains(deleteCol),
      s"target must not contain the tombstone column $deleteCol")
    val joined = target.alias("t")
      .join(source.alias("s"), col(s"t.$keyCol") === col(s"s.$keyCol"),
        "full_outer")
    val hasSrc = col(s"s.$keyCol").isNotNull
    joined
      .filter(!(hasSrc && col(s"s.$deleteCol")))
      .select(outCols.toIndexedSeq.map(c =>
        when(hasSrc, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)
  }
}
