package graft.lineage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-version diff: which documents were added, removed, or
  * modified between two table states — the audit step before promoting
  * a re-crawled / re-extracted corpus version to training, and the
  * input to incremental downstream work (only re-embed / re-dedup the
  * 'added' + 'modified' set). Pairs with [[ParquetCatalog.readAsOf]]:
  * diff(readAsOf(t, s1), readAsOf(t, s2), ...) audits two snapshots of
  * one catalog table (DomainCapSpec exercises that integration).
  *
  * Scale shape: each side reduces to (id, checksum) — bytes never
  * cross the shuffle, only 32-byte digests — then one full-outer
  * equi-join on the id. Unchanged documents (the overwhelming majority
  * between adjacent snapshots) are filtered out immediately after the
  * join, so the output is delta-sized, not corpus-sized.
  */
object SnapshotDiff {

  /** (id, change) for every id whose state differs between v1 and v2;
    * change in 'added' (only v2), 'removed' (only v1), 'modified'
    * (both, checksum differs). Ids with equal checksums are absent.
    */
  def diff(v1: DataFrame, v2: DataFrame, idCol: String,
      checksumCol: String): DataFrame = {
    val a = v1.select(col(idCol), col(checksumCol).as("__c1"))
    val b = v2.select(col(idCol), col(checksumCol).as("__c2"))
    a.join(b, Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("__c1").isNull, "added")
          .when(col("__c2").isNull, "removed")
          .when(col("__c1") =!= col("__c2"), "modified"))
      .filter(col("change").isNotNull)
      .select(col(idCol), col("change"))
  }
}
