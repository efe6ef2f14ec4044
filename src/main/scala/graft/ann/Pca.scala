package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA top-component projection — the embedding whitening /
  * dimensionality-reduction scale path: one distributed pass builds the
  * d x d covariance matrix, the (tiny) eigen step runs on the driver,
  * and the projection is a broadcast map over the corpus. At 10^9
  * vectors the only shuffle is d^2 partial sums per partition; no
  * vector ever leaves its executor un-reduced.
  *
  * Fully deterministic, and therefore DuckDB-oracle-able, by the same
  * fixed-point discipline as [[Ivf]]: mean and covariance accumulate
  * floor(x * 2^20 + 0.5) longs per term (integer sums are
  * order-independent where float sums drift 1 ulp with shuffle arrival
  * order), divided back in IEEE operations both engines replay; the
  * eigenvector comes from a FIXED number of power-iteration steps on
  * the broadcast d x d matrix with index-ordered left-to-right
  * accumulation and an exact-zero sign-fix rule. The quantization is
  * part of the operator's defined output — documented determinism over
  * the last covariance bit.
  *
  * Scale posture of the covariance pass: genuine per-partition
  * imperative accumulation (one Array[Long](d*d) per task, the
  * MLlib RowMatrix.computeCovariance shape) — the canonical
  * mapPartitions case — then a (d*d) x P-row shuffle; d=64 means 32 KB
  * per task regardless of row count.
  */
object Pca {

  /** 2^20 — same scale as [[Ivf.FixedPointScale]]. */
  val Scale: Double = Ivf.FixedPointScale.toDouble

  final case class Model(mean: Array[Double], component: Array[Double]) {
    /** dot(x - mean, component), index-ordered left fold. */
    def project(x: Array[Double]): Double = {
      var s = 0.0
      var j = 0
      while (j < component.length) { s += (x(j) - mean(j)) * component(j); j += 1 }
      s
    }
  }

  /** Per-dimension mean via fixed-point sums: mean_j =
    * sum(floor(x_j * S + 0.5)) / (S * n).
    */
  private def meanOf(vecs: DataFrame, dim: Int): (Array[Double], Long) = {
    val rows = vecs
      .select(posexplode(col("vec")))
      .groupBy(col("pos"))
      .agg(sum(floor(col("col") * Scale + 0.5)).as("s"), count(lit(1)).as("n"))
      .collect()
    val n = rows.head.getAs[Long]("n")
    val mean = new Array[Double](dim)
    rows.foreach { r =>
      mean(r.getAs[Int]("pos")) = r.getAs[Long]("s").toDouble / (Scale * n)
    }
    (mean, n)
  }

  /** Upper bound of the driver pull: d*d rows (the covariance), never
    * the data. cov(j,k) = sum_i floor((x_j - m_j)(x_k - m_k) * S + 0.5)
    * / (S * (n - 1)); the floor applies PER TERM so partial sums are
    * exact longs and partition order cannot change the result.
    */
  private def covarianceOf(spark: SparkSession, vecs: DataFrame,
      mean: Array[Double], n: Long, dim: Int): Array[Array[Double]] = {
    import spark.implicits._
    val bcMean = spark.sparkContext.broadcast(mean)
    val partials = vecs.select(col("vec")).as[Seq[Double]]
      .mapPartitions { it =>
        val m = bcMean.value
        val acc = new Array[Long](dim * dim)
        it.foreach { v =>
          val c = new Array[Double](dim)
          var j = 0
          while (j < dim) { c(j) = v(j) - m(j); j += 1 }
          j = 0
          while (j < dim) {
            var k = 0
            while (k < dim) {
              acc(j * dim + k) += math.floor(c(j) * c(k) * Scale + 0.5).toLong
              k += 1
            }
            j += 1
          }
        }
        Iterator.single(acc)
      }
      .flatMap(acc => acc.iterator.zipWithIndex.map { case (s, i) => (i, s) })
      .toDF("i", "s")
      .groupBy(col("i")).agg(sum(col("s")).as("s"))
      .collect()
    val cov = Array.ofDim[Double](dim, dim)
    partials.foreach { r =>
      val i = r.getAs[Int]("i")
      cov(i / dim)(i % dim) = r.getAs[Long]("s").toDouble / (Scale * (n - 1))
    }
    cov
  }

  /** `iters` power-iteration steps from the exact start 1/sqrt(d)
    * (d=64 -> 0.125, a power of two), each step an index-ordered
    * matvec + norm; sign fixed so the first nonzero component is
    * positive (an exact-zero comparison, engine-portable).
    */
  private[graft] def powerIterate(cov: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = cov.length
    var w = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 0 until iters) {
      val next = new Array[Double](d)
      var j = 0
      while (j < d) {
        var s = 0.0
        var k = 0
        while (k < d) { s += cov(j)(k) * w(k); k += 1 }
        next(j) = s
        j += 1
      }
      var sq = 0.0
      j = 0
      while (j < d) { sq += next(j) * next(j); j += 1 }
      val nrm = math.sqrt(sq)
      j = 0
      while (j < d) { next(j) = next(j) / nrm; j += 1 }
      w = next
    }
    val firstNonzero = w.indexWhere(_ != 0.0)
    if (firstNonzero >= 0 && w(firstNonzero) < 0) w.map(x => -x) else w
  }

  /** Fit mean + top principal component. */
  def fit(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      iters: Int = 5): Model = {
    val (mean, comps) = fitK(spark, emb, idCol, vecCol, k = 1, iters)
    Model(mean, comps(0))
  }

  /** Hotelling deflation: lambda = w^T C w (matvec then dot, both
    * index-ordered), C' = C - lambda * w w^T (one subtraction per
    * entry, `lambda * w(j) * w(k)` left-associated) — every arithmetic
    * step replayable, so the k-component oracle unrolls it verbatim.
    */
  private[graft] def deflate(cov: Array[Array[Double]],
      w: Array[Double]): Array[Array[Double]] = {
    val d = cov.length
    val t = new Array[Double](d)
    var j = 0
    while (j < d) {
      var s = 0.0
      var k = 0
      while (k < d) { s += cov(j)(k) * w(k); k += 1 }
      t(j) = s
      j += 1
    }
    var lam = 0.0
    j = 0
    while (j < d) { lam += w(j) * t(j); j += 1 }
    Array.tabulate(d, d)((a, b) => cov(a)(b) - lam * w(a) * w(b))
  }

  /** Mean + top-k principal components (power iteration + deflation):
    * the distributed pass (mean, covariance) runs ONCE regardless of k;
    * each further component is driver-side d x d arithmetic.
    */
  def fitK(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): (Array[Double], Array[Array[Double]]) = {
    require(k >= 1, s"k must be positive, got $k")
    val (mean, cov0) = graft.Rounds.cached(Ann.vecs(emb, idCol, vecCol)) { vecs =>
      val dim = vecs.select(size(col("vec"))).head().getInt(0)
      val (mean, n) = meanOf(vecs, dim)
      require(n > 1, s"need > 1 vectors, got $n")
      (mean, covarianceOf(spark, vecs, mean, n, dim))
    }
    var cov = cov0
    val comps = new Array[Array[Double]](k)
    var c = 0
    while (c < k) {
      comps(c) = powerIterate(cov, iters)
      c += 1
      if (c < k) cov = deflate(cov, comps(c - 1))
    }
    (mean, comps)
  }

  /** (id, pc1, pc2): coordinates along the top two components. */
  def project2(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, iters: Int = 5): DataFrame = {
    import spark.implicits._
    val (mean, comps) = fitK(spark, emb, idCol, vecCol, k = 2, iters)
    val m1 = Model(mean, comps(0))
    val m2 = Model(mean, comps(1))
    val bc = spark.sparkContext.broadcast((m1, m2))
    Ann.vecs(emb, idCol, vecCol).as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val arr = v.toArray
        (id, bc.value._1.project(arr), bc.value._2.project(arr))
      }
      .toDF("vec_id", "pc1", "pc2")
  }

  /** (id, pc1): every vector's coordinate along the top component —
    * one broadcast map over the corpus, no shuffle.
    */
  def project(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, iters: Int = 5): DataFrame = {
    import spark.implicits._
    val model = fit(spark, emb, idCol, vecCol, iters)
    val bc = spark.sparkContext.broadcast(model)
    Ann.vecs(emb, idCol, vecCol).as[(Long, Seq[Double])]
      .map { case (id, v) => (id, bc.value.project(v.toArray)) }
      .toDF("vec_id", "pc1")
  }
}
