package graft.dedup

import graft.PortableHash
import graft.textops.TextOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
  * MOSS scheme): per document, hash every k-token shingle, slide a
  * window of w consecutive hashes, and select each window's minimum
  * (rightmost occurrence on ties). The selected set is a deterministic,
  * position-aware fingerprint with the paper's guarantee: any two
  * documents sharing a run of at least w + k - 1 tokens share at least
  * one fingerprint — unlike MinHash (whole-doc similarity) this detects
  * LOCAL overlap, and unlike the exact-substring pass it emits a
  * bounded ~1/w density sample instead of every window.
  *
  * Scale posture: entirely record-local HOF columns over the scan
  * (shingle -> portable md5 hash -> window min via slice/array_min) —
  * zero shuffles to fingerprint a corpus; the one distinct at the end
  * is per-(doc, pos, fp). Matching blocks the postings on fp with
  * [[Pairs]], the capped generator the other near-dup operators share.
  * The portable hash makes the DuckDB oracle replay selections
  * bit-for-bit.
  */
object Winnow {

  /** (doc_id, pos, fp): selected fingerprints, pos = 0-based token
    * offset of the chosen k-gram. Docs with fewer than k tokens emit
    * nothing; docs with fewer than w shingle hashes yield one window
    * (the whole hash sequence).
    *
    * One native codegen'd expression per row ([[graft.functions.WinnowFpExpr]]):
    * tokenize, hash shingle byte-ranges, winnow-select, adjacent-dedup
    * — which equals the per-doc distinct of all window selections
    * (equal selections form contiguous window runs; proof on the
    * expression), so the old plan's distinct() EXCHANGE over every
    * selection row is gone. WinnowSpec pins row-set equality against
    * [[fingerprintsHof]], the pre-round-6 HOF + distinct formulation.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    val sel = org.apache.spark.sql.graft.PlanBridge.column(
      graft.functions.WinnowFpExpr(
        org.apache.spark.sql.graft.PlanBridge.expression(col("__t")), k, w))
    graft.Parallelize.bySplits(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")), "doc_id")
      .select(col("doc_id"), explode(sel).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** The pre-round-6 HOF + distinct formulation — kept as the spec
    * cross-check anchor for [[fingerprints]] (WinnowSpec asserts both
    * emit the identical row set).
    */
  private[graft] def fingerprintsHof(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    // The hash array MUST be bound to its own projection before the
    // window transform references it: inlined syntactically, every one
    // of the m window lambdas would re-evaluate all m md5 hashes —
    // O(m^2) digests per document (measured: 56 s for q_winnow at
    // sf0.1 vs <1 s bound). CollapseProject's cost guard keeps the two
    // projections separate because `hs` is non-cheap and referenced
    // more than once.
    val hashes: Column =
      transform(TextOps.shinglesOfText(col("__t"), k),
        s => PortableHash.md5Hash60(s))
    val withHs = graft.Parallelize.bySplits(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")), "doc_id")
      .select(col("doc_id"), hashes.as("hs"))
    val hs = col("hs")
    // window j covers hashes [j, j+w); slice clamps the final windows,
    // and greatest(m-w, 0) keeps one whole-sequence window when m < w
    val windows = transform(
      sequence(lit(0), greatest(size(hs) - w, lit(0))),
      j => {
        val win = slice(hs, j + 1, lit(w))
        val mn = array_min(win)
        // rightmost occurrence of the min: position from the end via
        // the reversed slice (array_position is 1-based, first match)
        val pos = j + (size(win) - array_position(reverse(win), mn))
        struct(pos.cast("int").as("pos"), mn.as("fp"))
      })
    // a doc with no shingles (fewer than k tokens) must emit nothing,
    // not one garbage window over the empty hash array
    val sel = when(size(hs) > 0, windows)
      .otherwise(array().cast("array<struct<pos:int,fp:bigint>>"))
    withHs
      .select(col("doc_id"), explode(sel).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
      .distinct()
  }

  /** Distinct (fp, doc_id) postings: a doc may select one fp at
    * several positions, but shares it with another doc once.
    */
  private def postings(fps: DataFrame): DataFrame =
    fps.select(col("fp"), col("doc_id").as("id")).distinct()

  /** Local-overlap candidate pairs: documents sharing at least
    * `minShared` winnowing fingerprints — each shared fp witnesses a
    * shared token run, so unlike MinHash (whole-doc similarity) the
    * pairs surface documents that merely SHARE PASSAGES. The postings
    * are blocked on fp by [[Pairs]] (never all-pairs): an fp selected
    * by more than `maxFpFreq` docs (site chrome, license boilerplate)
    * is dropped whole, auditable via [[droppedFingerprints]], and
    * n_shared counts the distinct fps a pair shares. Returns (id_a,
    * id_b, n_shared).
    */
  def candidatePairs(fps: DataFrame, minShared: Int = 2,
      maxFpFreq: Int = 10000): DataFrame =
    Pairs.of(Pairs.blocks(postings(fps), Seq("fp"), col("id"), maxFpFreq))
      .filter(col("n_shared") >= minShared)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("n_shared"))

  /** No-silent-caps audit: the fingerprints candidatePairs' maxFpFreq
    * drops, with their document frequency ([[Pairs.overCap]] over the
    * same postings; the posture shared with the LSH / ngram / simhash /
    * substring caps).
    */
  def droppedFingerprints(fps: DataFrame, maxFpFreq: Int = 10000): DataFrame =
    Pairs.overCap(postings(fps), Seq("fp"), maxFpFreq).withColumnRenamed("bsz", "df")
}
