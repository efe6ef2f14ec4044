package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the embedding
  * COMPRESSION scale path, complementing IVF's scan-fraction path:
  * each D-dim vector splits into M contiguous subvectors; an
  * independent K-entry k-means codebook per subspace encodes every
  * vector as M small codes. At D=64 float dims, M=4 byte codes are a
  * 64x memory cut — 10^9 vectors become ~4 GB of codes cluster-wide,
  * resident where the raw vectors never could be — and query scoring
  * is asymmetric-distance (ADC): one M x K lookup table per query,
  * then M table-adds per item instead of D multiplies. Composes with
  * IVF (scan fewer) as the classic IVFADC layout; here PQ is exercised
  * standalone so the code path is oracle-gated end to end.
  *
  * Spark-first shape: training is [[Ivf.lloyd]], the family's one
  * fixed-point Lloyd loop, over M subspaces with the L2 argmin
  * [[assignSub]]; only the M x K x (D/M) codebook reaches the driver.
  * Scoring is one codes-table scan with a broadcast LUT; the final
  * top-k is the family's one per-query ranker ([[Ann.ranked]]).
  *
  * Fully deterministic, hence DuckDB-replayable (the Ivf.scala
  * contract): lowest-id init, fixed-point centroid sums
  * (order-independent integer accumulation), strict-less L2 argmin
  * (ties keep the lowest code), fixed iteration count, and every
  * scoring dot product accumulated left-to-right in index order then
  * across subspaces in subspace order — bit-identical IEEE on both
  * engines.
  */
object Pq {

  /** codebooks(m)(c) = the c-th codeword of subspace m. */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def numSub: Int = codebooks.length
    def subDim: Int = codebooks(0)(0).length
  }

  /** Strict-less L2 argmin of one subvector against a codebook —
    * ties keep the earliest (lowest) code, the oracle's `c ASC`.
    */
  private[graft] def assignSub(arr: Array[Double], mi: Int, subDim: Int,
      book: Array[Array[Double]]): Int = {
    val off = mi * subDim
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < book.length) {
      val cw = book(c)
      var d = 0.0
      var i = 0
      while (i < subDim) {
        val diff = arr(off + i) - cw(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Per-subspace codebooks: [[Ivf.lloyd]] over `numSub` subspaces of
    * an (id, vec) frame ([[Ann.vecs]]) with [[assignSub]] as the
    * assignment rule, all M codebooks trained in one pass per round.
    * The operators pass the one vector cache they hold.
    */
  def train(spark: SparkSession, vecs: DataFrame, numSub: Int, k: Int,
      iters: Int): Model =
    Model(Ivf.lloyd(spark, vecs, numSub, k, iters,
      (sub, book) => assignSub(sub, 0, sub.length, book)))

  /** Code array of every row of an (id, vec) frame ([[Ann.vecs]]) under
    * a broadcast model.
    */
  def encode(spark: SparkSession, vecs: DataFrame, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.codebooks)
    vecs.select(col("id"), col("vec")).as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val arr = v.toArray
        val m = bc.value.length
        val sd = arr.length / m
        (id, Array.tabulate(m)(mi => assignSub(arr, mi, sd, bc.value(mi))))
      }
      .toDF("id", "codes")
  }

  /** lut(q)(m)(c) = dot(query subvector m, codeword c), each dot
    * accumulated left-to-right — the oracle replays the same order.
    */
  private def lutFor(queryVecs: Array[(Long, Array[Double])],
      model: Model): Array[(Long, Array[Array[Double]])] =
    queryVecs.map { case (qid, qv) =>
      val numSub = model.numSub
      val sd = qv.length / numSub
      qid -> Array.tabulate(numSub, model.codebooks(0).length) { (mi, c) =>
        val cw = model.codebooks(mi)(c)
        var s = 0.0
        var i = 0
        while (i < sd) { s += qv(mi * sd + i) * cw(i); i += 1 }
        s
      }
    }

  /** Sum of LUT entries over subspaces in subspace order — the ADC
    * score, left-associated exactly as the oracle writes it.
    */
  private def adcScore(tab: Array[Array[Double]], cs: Seq[Int]): Double = {
    var s = 0.0
    var mi = 0
    while (mi < cs.length) { s += tab(mi)(cs(mi)); mi += 1 }
    s
  }

  /** ADC top-k: approximate inner product of each query against every
    * encoded vector — sum over subspaces of dot(query subvector,
    * assigned codeword), M lookup-adds per item. Training, the query
    * rows and the codes read one vector cache; scoring reads only the
    * codes, and the small top-k result is checkpointed before the cache
    * is dropped.
    */
  def topK(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, queryIds: Seq[Long], k: Int,
      numSub: Int = 4, kSub: Int = 8, iters: Int = 2): DataFrame = {
    import spark.implicits._
    graft.Rounds.cached(Ann.vecs(emb, idCol, vecCol)) { vecs =>
      val model = train(spark, vecs, numSub, kSub, iters)
      val bcLut = spark.sparkContext.broadcast(lutFor(Ann.queryVecs(vecs, queryIds), model))
      val scored = encode(spark, vecs, model).as[(Long, Seq[Int])]
        .flatMap { case (id, cs) =>
          bcLut.value.iterator
            .filter { case (qid, _) => qid != id }
            .map { case (qid, tab) => (qid, id, adcScore(tab, cs)) }
        }
        .toDF("query_id", "item_id", "adot")
      // checkpointed inside the scope: the result never reads the cache
      graft.Rounds.checkpoint(Ann.neighbors(scored, "adot", k))
    }
  }

  /** IVFADC (the production ANN layout at 10^9+ vectors): the IVF
    * coarse quantizer bounds WHICH items are scored (~nProbe/nList of
    * the corpus per query) and PQ bounds WHAT is read per item (M code
    * bytes + LUT adds, never the raw vector). Candidates are
    * [[Ivf.probed]], as Ivf.topK's; scoring is the same broadcast-LUT
    * ADC as [[topK]]; both codebooks come from [[Ivf.lloyd]], so the
    * composition replays end to end in the oracle. Training, probing
    * and encoding all read the one vector cache, and the small top-k
    * result is checkpointed before it is dropped.
    */
  def topKIvf(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, queryIds: Seq[Long], k: Int,
      nList: Int = 16, nProbe: Int = 4, ivfIters: Int = 3,
      numSub: Int = 4, kSub: Int = 8, pqIters: Int = 2): DataFrame = {
    import spark.implicits._
    graft.Rounds.cached(Ann.vecs(emb, idCol, vecCol)) { vecs =>
      val queryVecs = Ann.queryVecs(vecs, queryIds)
      val candidates = Ivf.probed(spark, vecs, Ivf.train(spark, vecs, nList, ivfIters),
        queryVecs, nProbe)
      val model = train(spark, vecs, numSub, kSub, pqIters)
      val codes = encode(spark, vecs, model).withColumnRenamed("id", "item_id")
      val bcLut = spark.sparkContext.broadcast(lutFor(queryVecs, model).toMap)
      val scored = candidates.join(codes, "item_id")
        .select(col("query_id"), col("item_id"), col("codes"))
        .as[(Long, Long, Seq[Int])]
        .map { case (qid, id, cs) => (qid, id, adcScore(bcLut.value(qid), cs)) }
        .toDF("query_id", "item_id", "adot")
      graft.Rounds.checkpoint(Ann.neighbors(scored, "adot", k))
    }
  }
}
