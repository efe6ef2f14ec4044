package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * Spark-first shape: per-subspace Lloyd's where every step is a
  * DataFrame aggregation — assignment in a typed map under a broadcast
  * codebook, centroid updates via posexplode + groupBy(m, c, pos) —
  * and only the M x K x (D/M) codebook reaches the driver. Scoring is
  * one codes-table scan with a broadcast LUT; the final top-k is a
  * per-query window.
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

  /** Per-subspace Lloyd's, `iters` fixed rounds, distributed updates —
    * the Ivf.train construction generalized to M independent subspace
    * codebooks trained in ONE pass per round (the flatMap emits every
    * (m, c, subvector) assignment, so all M codebooks share each
    * round's shuffle instead of paying M of them).
    */
  def train(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, numSub: Int, k: Int, iters: Int): Model =
    graft.Rounds.cached(Ivf.vecsDF(emb, idCol, vecCol))(
      trainOnVecs(spark, _, numSub, k, iters))

  /** Training core over an ALREADY-CACHED (id, vec) frame (the
    * Ivf.trainOnVecs split): [[topKIvf]] trains both codebooks on the
    * one vector cache it holds.
    */
  private def trainOnVecs(spark: SparkSession, vecs: DataFrame, numSub: Int,
      k: Int, iters: Int): Model = {
    import spark.implicits._
    val dim = vecs.select(size(col("vec"))).head().getInt(0)
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val subDim = dim / numSub
    val initRows = vecs.orderBy("id").limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(numSub)(mi =>
      initRows.map(r => r.slice(mi * subDim, (mi + 1) * subDim)))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val assigned = vecs.select(col("id"), col("vec")).as[(Long, Seq[Double])]
        .flatMap { case (_, v) =>
          val arr = v.toArray
          (0 until bc.value.length).map { mi =>
            val sd = arr.length / bc.value.length
            (mi, assignSub(arr, mi, sd, bc.value(mi)),
              arr.slice(mi * sd, (mi + 1) * sd))
          }
        }
        .toDF("m", "c", "sub")
      val sums = assigned
        .select(col("m"), col("c"), posexplode(col("sub")))
        .groupBy(col("m"), col("c"), col("pos"))
        .agg(sum(floor(col("col") * Ivf.FixedPointScale + 0.5)).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      for (r <- sums) {
        next(r.getAs[Int]("m"))(r.getAs[Int]("c"))(r.getAs[Int]("pos")) =
          r.getAs[Long]("s").toDouble /
            (Ivf.FixedPointScale.toDouble * r.getAs[Long]("n"))
      }
      books = next
    }
    Model(books)
  }

  /** Code array of every vector under a broadcast model. */
  def encode(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.codebooks)
    Ivf.vecsDF(emb, idCol, vecCol)
      .select(col("id"), col("vec")).as[(Long, Seq[Double])]
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

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adot").desc, col("item_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id").as("neighbor_id"),
        col("rank").cast("bigint").as("rank"), col("adot"))
  }

  private def collectQueryVecs(vecs: DataFrame,
      queryIds: Seq[Long]): Array[(Long, Array[Double])] =
    vecs.filter(col("id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** ADC top-k: approximate inner product of each query against every
    * encoded vector — sum over subspaces of dot(query subvector,
    * assigned codeword), M lookup-adds per item. One codes scan, one
    * per-query window; the raw vectors are never touched at query time.
    */
  def topK(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, queryIds: Seq[Long], k: Int,
      numSub: Int = 4, kSub: Int = 8, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val model = train(spark, emb, idCol, vecCol, numSub, kSub, iters)
    val codes = encode(spark, emb, idCol, vecCol, model)
    val queryVecs = collectQueryVecs(Ivf.vecsDF(emb, idCol, vecCol), queryIds)
    val bcLut = spark.sparkContext.broadcast(lutFor(queryVecs, model))
    val scored = codes.select(col("id"), col("codes"))
      .as[(Long, Seq[Int])]
      .flatMap { case (id, cs) =>
        bcLut.value.iterator
          .filter { case (qid, _) => qid != id }
          .map { case (qid, tab) => (qid, id, adcScore(tab, cs)) }
      }
      .toDF("query_id", "item_id", "adot")
    rankTopK(scored, k)
  }

  /** IVFADC (the production ANN layout at 10^9+ vectors): the IVF
    * coarse quantizer bounds WHICH items are scored (~nProbe/nList of
    * the corpus per query) and PQ bounds WHAT is read per item (M code
    * bytes + LUT adds, never the raw vector). Candidates come from the
    * probed inverted lists exactly as Ivf.topK builds them; scoring is
    * the same broadcast-LUT ADC as [[topK]]; both training loops are
    * the deterministic fixed-point constructions, so the composition
    * replays end to end in the oracle. Both train on one vector cache,
    * and the small top-k result is checkpointed before it is dropped.
    */
  def topKIvf(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, queryIds: Seq[Long], k: Int,
      nList: Int = 16, nProbe: Int = 4, ivfIters: Int = 3,
      numSub: Int = 4, kSub: Int = 8, pqIters: Int = 2): DataFrame = {
    import spark.implicits._
    graft.Rounds.cached(Ivf.vecsDF(emb, idCol, vecCol)) { vecs =>
      val coarse = Ivf.trainOnVecs(spark, vecs, nList, ivfIters)
      val assigned = Ivf.assign(spark, vecs, coarse)
      val queryVecs = collectQueryVecs(vecs, queryIds)
      val probeDF = queryVecs.toSeq
        .flatMap { case (qid, qv) => coarse.nearest(qv, nProbe).map(c => (qid, c)) }
        .toDF("query_id", "cluster")
      val candidates = assigned.join(broadcast(probeDF), "cluster")
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("item_id"))
        .distinct()
      val model = trainOnVecs(spark, vecs, numSub, kSub, pqIters)
      val codes = encode(spark, emb, idCol, vecCol, model)
        .withColumnRenamed("id", "item_id")
      val bcLut = spark.sparkContext.broadcast(lutFor(queryVecs, model).toMap)
      val scored = candidates.join(codes, "item_id")
        .select(col("query_id"), col("item_id"), col("codes"))
        .as[(Long, Long, Seq[Int])]
        .map { case (qid, id, cs) => (qid, id, adcScore(bcLut.value(qid), cs)) }
        .toDF("query_id", "item_id", "adot")
      graft.Rounds.checkpoint(rankTopK(scored, k))
    }
  }
}
