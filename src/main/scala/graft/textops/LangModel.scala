package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained statistical language model operators: add-one-smoothed
  * bigram log-likelihood scoring (the perplexity-style quality filter a
  * CCNet-shaped pipeline runs where no external KenLM is available — the
  * model IS the corpus's own bigram table) and PMI collocation mining.
  *
  * Scale posture: training is two map-side-combined count shuffles
  * (bigram types, then left-unigram marginals); scoring re-joins each
  * document's bigram occurrences against the count tables — plain
  * equi-joins that AQE's skew-join split handles when a stopword left
  * token ("the …") concentrates a probe partition. Nothing is collected
  * to the driver; the single scalar (vocabulary size) rides along as a
  * broadcast 1-row cross join, exactly like CorpusStats.tfidf.
  *
  * Cross-engine determinism: per-bigram log-probabilities are
  * discretized to integer micro-nats (floor(lp*1e6) as BIGINT) BEFORE
  * the per-document sum, so the aggregate is integer-exact and immune
  * to float summation order — the DuckDB oracle replays the identical
  * formula and hashes bit-equal (same trick as BudgetSelect's
  * floor-discretized score).
  */
object LangModel {

  /** (doc_id, w1, w2): one row per adjacent token pair occurrence.
    * Built from two shifted slices zipped into a struct — `toks`
    * appears only in row-level slice arguments (2 evaluations/row),
    * never captured inside a per-element lambda (the HOF-CSE hazard:
    * a captured split() re-evaluates on EVERY element).
    */
  def bigramPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spread = graft.Parallelize.bySplits(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")), "doc_id")
    val toks = TextOps.tokens(col("__t"))
    val len = greatest(size(toks) - 1, lit(0))
    val pairs = zip_with(
      slice(toks, lit(1), len),
      slice(toks, lit(2), len),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    spread
      .select(col("doc_id"), explode(pairs).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Skip-gram co-occurrence counts — the word-embedding training-data
    * primitive (word2vec/GloVe consume exactly these): (w1, w2, cnt)
    * for every ordered token pair within `window` positions (w1
    * earlier, so the pair orientation is position-deterministic and no
    * canonicalization is needed), thresholded at `minCount`.
    *
    * Scale posture: pair generation is RECORD-LOCAL, one zip of shifted
    * token slices per offset — never a positional self-join of the
    * exploded token table (which would shuffle the corpus once to
    * build positions and again for the band join); fan-out per doc is
    * <= window * tokens. One map-side-combined count shuffle total.
    * The relational oracle replays the positional self-join instead —
    * the plan this construction avoids.
    */
  def skipgramCounts(docs: DataFrame, idCol: String, textCol: String,
      window: Int, minCount: Long): DataFrame = {
    require(window >= 1 && minCount >= 1, s"bad window=$window minCount=$minCount")
    val spread = graft.Parallelize.bySplits(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")), "doc_id")
    // The token array MUST be bound to its own projection before the
    // pair expression references it — the HOF-CSE hazard bigramPairs'
    // scaladoc names: inlined syntactically, a nested-transform
    // formulation re-ran the whole split() in every element_at()
    // lambda, O(n^2 * window) splits per doc (measured: 70.7
    // task-CPU-s for q_skipgram at sf0.1 vs ~3 bound). CollapseProject's
    // cost guard keeps the projections separate because __toks is
    // non-cheap and referenced more than once.
    val withToks = spread.select(TextOps.tokens(col("__t")).as("__toks"))
    // offset d pairs token i with token i + d: two slices of __toks
    // shifted by d, zipped (the bigramPairs construction, once per
    // offset, unrolled on the driver) — no lambda captures __toks, and
    // a doc shorter than d + 1 tokens gives d's slices no elements
    val toks = col("__toks")
    val pairs = flatten(array((1 to window).map { d =>
      val len = greatest(size(toks) - d, lit(0))
      zip_with(slice(toks, lit(1), len), slice(toks, lit(1 + d), len),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }: _*))
    withToks
      .select(explode(pairs).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** The trained model: corpus-wide bigram type counts (w1, w2, c12),
    * optionally thresholded. This is the dumpable model artifact — the
    * scoring join consumes exactly these counts.
    */
  def bigramCounts(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L): DataFrame =
    bigramPairs(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)

  /** Per-document add-one-smoothed bigram log-likelihood in integer
    * micro-nats: for each adjacent pair, lp = ln((c12+1)/(c1+V)) with
    * c1 = occurrences of w1 as a bigram left token and V = corpus
    * distinct-token count; output (doc_id, n_bigrams,
    * lp_micro_sum = sum floor(lp*1e6)). Low (more negative) mean
    * scores flag out-of-distribution / junk documents — the filter
    * consumer divides lp_micro_sum by n_bigrams.
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Per-doc bigram TYPE counts, materialized once: the raw pair
    // stream was previously read twice (the c12 aggregation and the
    // scoring join-back), re-running tokenize+zip+explode over the
    // whole corpus per read. Aggregating to (doc_id, w1, w2, k) first
    // is lossless — every occurrence of a bigram within a doc carries
    // the identical lp_micro, so summing k * lp_micro equals summing
    // lp_micro over occurrences, and n_bigrams = sum(k) — and both c12
    // and the join-back now read the compact checkpointed frame.
    val g = graft.Rounds.checkpoint(
      bigramPairs(docs, idCol, textCol)
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k")))
    val c12 = g.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    // score at the TYPE level first (c12 join c1 join V over the small
    // bigram-type table), then attach to the per-doc frame with ONE
    // (w1, w2) equi-join — the previous shape joined the per-doc frame
    // (the largest frame here) twice, shuffling it by (w1, w2) and then
    // again by w1. lp_micro is a pure function of (c12, c1, v), so the
    // per-type value is identical either way.
    val typeScore = c12
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        floor(log((col("c12") + lit(1.0)) / (col("c1") + col("v"))) * 1e6)
          .cast("long").as("lp_micro"))
    g
      .join(typeScore, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("lp_micro")).as("lp_micro_sum"))
  }

  /** PMI collocations: bigram types with c12 >= minCount scored by
    * pointwise mutual information ln(c12*N / (c1*c2)), where c1/c2 are
    * the token's occurrence counts as bigram left/right element and N
    * the corpus bigram total. Output is deliberately rank-free
    * (doubles hash safely as VALUES; ranking on them could flip on a
    * 1-ulp ln() divergence — same posture as CorpusStats.tfidf).
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 3L): DataFrame = {
    val pairs = bigramPairs(docs, idCol, textCol)
    val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    // N = total bigram occurrences = sum of type counts — derived from
    // c12 instead of a second full tokenize+explode pass over the corpus
    val n = c12.agg(sum(col("c12")).as("n_bg"))
    c12.filter(col("c12") >= minCount)
      .join(c1, Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        log(col("c12").cast("double") * col("n_bg") /
          (col("c1").cast("double") * col("c2"))).as("pmi"))
  }
}
