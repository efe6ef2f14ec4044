package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental (continual-ingestion) near-dedup: dedup a NEW batch of
  * documents against an already-ingested index AND within itself, the
  * way a production pipeline ingests a fresh crawl against last
  * month's corpus — without ever re-pairing index docs against each
  * other (that work is already done and must not be repeated at
  * 10^12-doc scale).
  *
  * Semantics: a batch doc is a duplicate iff some partner with a
  * banded MinHash collision verifies at >= threshold estimated
  * Jaccard, where partners are (a) ANY index doc or (b) an
  * EARLIER batch doc (smaller id) — the first-occurrence-wins rule
  * that makes the batch's own internal dups deterministic. Each dup
  * reports its smallest qualifying partner, the partner's side, and
  * the verified similarity.
  *
  * Scale shape: identical to minhashNearDups' banding — one shingle
  * shuffle, k partial mins, a bare-key band join (capped buckets) —
  * except the probe side is ONLY the batch's bands: the index
  * contributes its (pre-computable, storable) band keys, never pairs
  * within itself. With |batch| << |index| the join output is bounded
  * by batch fan-out, not index size.
  */
object Incremental {

  /** Deterministic batch membership on the doc-id column (the test
    * fixture's stand-in for "arrived after the last ingest"): portable
    * hash pct. Production callers pass their own membership column.
    */
  def isNewDoc(id: Column, salt: String = "incr", pctNew: Int = 20): Column =
    graft.PortableHash.salted60(id, salt) % 100 < pctNew

  /** (doc_id, dup_of, dup_source, n_match, est_jaccard): one row per
    * batch doc that duplicates the index ('index') or an earlier batch
    * doc ('batch'). dup_of = the smallest qualifying partner id.
    */
  def dedupBatchAgainstIndex(docs: DataFrame, idCol: String, textCol: String,
      isNew: Column, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 10000): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val minMatch = math.ceil(threshold * k).toLong
    graft.Rounds.cached(Dedup.minhashSignatures(docs, idCol, textCol, n, k)) { sigsTagged =>
      val side = docs.select(col(idCol).as("id"), isNew.as("is_new")).distinct()
      // the probe self-join below needs each row's bucket size for the
      // cap (see Pairs' scaladoc for why this site is not a Pairs block)
      val banded = Dedup.bandedKeys(sigsTagged, bands, k / bands)
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "band_hash")))
        .filter(col("bsz") <= maxBucketSize)
        .drop("bsz")
        .join(side, "id")
      val a = banded.filter(col("is_new")).as("a")
      val b = banded.as("b")
      val cand = a.join(b,
          col("a.band") === col("b.band") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.id") =!= col("b.id") &&
            (!col("b.is_new") || col("b.id") < col("a.id")))
        .select(col("a.id").as("new_id"), col("b.id").as("partner"),
          col("b.is_new").as("partner_new"))
        .distinct()
      val verified = cand
        .join(sigsTagged.select(col("id").as("new_id"), col("sig").as("sig_a")), "new_id")
        .join(sigsTagged.select(col("id").as("partner"), col("sig").as("sig_b")), "partner")
        .withColumn("n_match",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
            when(x === y, 1).otherwise(0)), _ === 1)).cast("long"))
        .filter(col("n_match") >= minMatch)
        .select(col("new_id"), col("partner"), col("partner_new"), col("n_match"))
      val w = Window.partitionBy(col("new_id")).orderBy(col("partner").asc)
      val out = verified
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("new_id").as("doc_id"), col("partner").as("dup_of"),
          when(col("partner_new"), lit("batch")).otherwise(lit("index"))
            .as("dup_source"),
          col("n_match"),
          (col("n_match").cast("double") / k).as("est_jaccard"))
      graft.Rounds.checkpoint(out)
    }
  }
}
