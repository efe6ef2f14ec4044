package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.textops.TextOps

/** Sparse lexical document similarity — top-k most similar documents
  * per document by an idf-weighted sparse dot product over the
  * inverted index: the retrieval path that needs NO embeddings (the
  * ANN family's lexical complement, and the classic related-documents
  * / duplicate-triage query when an embedding column doesn't exist).
  *
  * Score(a, b) = sum over shared terms t of tf_a(t) * tf_b(t) *
  * idf_micro(t), with idf_micro = floor(ln(N/df) * 1e6 + 0.5) held as
  * an integer (micro-nats — the q_bm25/bigram-LM discipline, immune
  * to the 1-ulp StrictMath-vs-libm ln divergence). Every per-pair sum
  * is therefore INTEGER arithmetic — order-immune under any shuffle,
  * no float-fold ordering contract needed. Overflow headroom: tf
  * products are bounded by max doc length squared and idf_micro by
  * ln(N)*1e6 (~2e7 at N=1e9), comfortably inside a long for real
  * corpora.
  *
  * Scale posture: the pair generator is the inverted-index self-join
  * — postings lists joined per TERM, never doc-by-doc — with a
  * [minDf, dfCap] document-frequency band bounding fan-out at
  * vocab * dfCap^2 (df=1 terms can't contribute a pair; above-cap
  * terms are stopwords whose postings would square into the shuffle;
  * the same explicit band the n-gram/LSH dedups declare). Pairs are
  * generated once in canonical (a < b) orientation and mirrored
  * AFTER the aggregation, halving the join; the final top-k is a
  * rank-limit window (row_number <= k), which Spark pushes down as
  * WindowGroupLimit so each map task forwards at most k rows per doc.
  */
object LexicalSim {

  /** (doc_id, neighbor_id, score, rank): for each document the k
    * lexically closest others under the integer idf-weighted dot
    * product, rank 1-based by (score desc, neighbor_id asc).
    */
  def topKSimilar(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Long = 2L, dfCap: Long = 100L): DataFrame = {
    require(k >= 1 && minDf >= 2 && dfCap >= minDf,
      s"bad k=$k minDf=$minDf dfCap=$dfCap")
    val tf = graft.Parallelize.bySplits(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")), "doc_id")
      .select(col("doc_id"), explode(TextOps.tokens(col("__t"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, dfCap))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val w = tf.join(dfr, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        floor(log(col("n_docs").cast("double") / col("df")) * 1e6 + 0.5)
          .cast("long").as("idfm"))
    // both self-join sides carry the IDENTICAL column set on purpose:
    // canonically-equal term exchanges collapse to one ReusedExchange
    // beyond the broadcast regime (plan-gated), so the corpus is
    // tokenized and aggregated ONCE — shipping b's unused idfm through
    // the shuffle is far cheaper than a second tokenize pass
    val pairs = w.alias("a")
      .join(w.alias("b"), col("a.term") === col("b.term") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf") * col("a.idfm")).as("score"))
    // mirror by exploding both orientations of each pair row: one read
    // of the aggregate, where a union of two reads would re-run the
    // whole term self-join + aggregation per branch
    pairs
      .select(explode(array(
        struct(col("id_a"), col("id_b"), col("score")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b"), col("score")))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id_a"))
          .orderBy(col("score").desc, col("id_b").asc)))
      .filter(col("rank") <= k)
      .select(col("id_a").as("doc_id"), col("id_b").as("neighbor_id"),
        col("score"), col("rank"))
  }
}
