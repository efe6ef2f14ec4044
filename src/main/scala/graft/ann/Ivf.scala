package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-
  * quantizer scale path: a small k-means codebook partitions the corpus
  * into nList inverted lists; a query probes only its nProbe nearest
  * lists and reranks those candidates exactly. At 10^9 vectors the scan
  * fraction per query is ~nProbe/nList instead of 1.
  *
  * Spark-first shape: training is Lloyd's algorithm with every step a
  * DataFrame aggregation (assignment via broadcast codebook in a typed
  * map, centroid update via posexplode + groupBy(subspace, cluster, dim)
  * sums); only the codebook ever reaches the driver. [[lloyd]] is the
  * one such loop: IVF runs it over one subspace with [[cosineArgmax]],
  * [[Pq]] over M subspaces with its L2 argmin.
  *
  * Fully deterministic — and therefore DuckDB-oracle-able: init picks
  * the k lowest-id vectors, the iteration count is fixed, assignment
  * ties break to the lowest cluster id, and centroid updates accumulate
  * FIXED-POINT integers (floor(x * 2^20 + 0.5) as long) whose sum is
  * order-independent, unlike float sums which drift 1 ulp with shuffle
  * arrival order. The mean divides back in one IEEE operation both
  * engines reproduce bit-for-bit.
  */
object Ivf {

  /** 2^20 — centroid sums accumulate floor(x * scale + 0.5) longs. */
  val FixedPointScale: Long = 1L << 20

  final case class Model(centroids: Array[Array[Double]]) {
    def nearest(vec: Array[Double], n: Int): Seq[Int] =
      centroids.indices
        .sortBy(c => -Ivf.dotArr(centroids(c), vec) /
          (Ivf.normArr(centroids(c)) * math.max(Ivf.normArr(vec), 1e-12)))
        .take(n)
  }

  private[ann] def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private[ann] def normArr(a: Array[Double]): Double = math.sqrt(dotArr(a, a))

  /** IVF's assignment rule: cosine argmax over the centroids, both norms
    * guarded, ties to the lowest cluster id.
    */
  private[ann] def cosineArgmax(vec: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val sim = dotArr(centroids(c), vec) /
        (math.max(normArr(centroids(c)), 1e-12) * math.max(normArr(vec), 1e-12))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** Cluster id of each row under a broadcast codebook (cosine). */
  def assign(spark: SparkSession, vecs: DataFrame, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    vecs.select(col("id"), col("vec")).as[(Long, Seq[Double])]
      .map { case (id, v) => (id, cosineArgmax(v.toArray, bc.value)) }
      .toDF("id", "cluster")
  }

  /** The one k-means loop of the family: Lloyd's, `iters` fixed rounds,
    * over `numSub` contiguous subspaces of an (id, vec) frame, with `k`
    * codewords each. Returns books(m)(c), the c-th codeword of subspace m.
    *  - init: the k lowest-id vectors, sliced per subspace;
    *  - assignment: `nearest(subvector, book)` in a typed map under the
    *    broadcast books, one (m, c, subvector) row per subspace, so all
    *    M codebooks share each round's one shuffle;
    *  - update: per (m, c, pos), the fixed-point sum and the count,
    *    divided on the driver; a codeword no row chose keeps its value.
    * `vecs` is read once per round plus once for the init, so callers
    * pass a cached frame.
    */
  private[ann] def lloyd(spark: SparkSession, vecs: DataFrame, numSub: Int, k: Int,
      iters: Int, nearest: (Array[Double], Array[Array[Double]]) => Int)
      : Array[Array[Array[Double]]] = {
    import spark.implicits._
    val init = vecs.orderBy("id").limit(k).collect().map(_.getSeq[Double](1).toArray)
    val dim = init.headOption.fold(0)(_.length)
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val sd = dim / numSub
    var books = Array.tabulate(numSub)(m => init.map(_.slice(m * sd, (m + 1) * sd)))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val sums = vecs.select(col("vec")).as[Seq[Double]]
        .flatMap { v =>
          val arr = v.toArray
          (0 until numSub).map { m =>
            val sub = arr.slice(m * sd, (m + 1) * sd)
            (m, nearest(sub, bc.value(m)), sub)
          }
        }
        .toDF("m", "c", "sub")
        .select(col("m"), col("c"), posexplode(col("sub")))
        .groupBy(col("m"), col("c"), col("pos"))
        .agg(sum(floor(col("col") * FixedPointScale + 0.5)).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      for (r <- sums)
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getLong(3).toDouble / (FixedPointScale.toDouble * r.getLong(4))
      books = next
    }
    books
  }

  /** The IVF codebook: [[lloyd]] over one subspace with [[cosineArgmax]]. */
  private[ann] def train(spark: SparkSession, vecs: DataFrame, nList: Int,
      iters: Int): Model =
    Model(lloyd(spark, vecs, 1, nList, iters, cosineArgmax)(0))

  /** The probed candidates of IVF and IVFADC: (query_id, item_id) for
    * every item in one of the `nProbe` lists nearest each query
    * ([[Model.nearest]]), the query itself excluded.
    */
  private[ann] def probed(spark: SparkSession, vecs: DataFrame, model: Model,
      queryVecs: Seq[(Long, Array[Double])], nProbe: Int): DataFrame = {
    import spark.implicits._
    val probes = queryVecs
      .flatMap { case (qid, qv) => model.nearest(qv, nProbe).map(c => (qid, c)) }
      .toDF("query_id", "cluster")
    assign(spark, vecs, model).join(broadcast(probes), "cluster")
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("item_id"))
      .distinct()
  }

  /** IVF top-k: probe nProbe lists per query, exact cosine rerank. */
  def topK(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nList: Int = 16,
      nProbe: Int = 4,
      iters: Int = 5): DataFrame =
    graft.Rounds.cached(Ann.vecs(emb, idCol, vecCol)) { vecs =>
      val model = train(spark, vecs, nList, iters)
      val candidates = probed(spark, vecs, model, Ann.queryVecs(vecs, queryIds), nProbe)
      // checkpointed inside the scope: the result never reads the cache
      graft.Rounds.checkpoint(Ann.rerank(candidates, vecs, queryIds, k))
    }

  /** Cluster id of each cached vector under its trained codebook: the
    * one assignment [[semanticDedup]] and [[droppedClusters]] share.
    */
  private def clusters(spark: SparkSession, vecs: DataFrame, nList: Int,
      iters: Int): DataFrame =
    assign(spark, vecs, train(spark, vecs, nList, iters))

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster embeddings with the deterministic
    * IVF codebook, compute pairwise cosine ONLY within clusters — the
    * published trick that shrinks the n^2 term to sum-of-cluster^2 —
    * connect pairs with sim >= eps, and keep the minimum-id
    * representative per connected semantic group. Returns
    * (vec_id, group_id, keep) for every vector in a group of >= 2;
    * singletons are absent (trivially their own group), mirroring
    * Dedup.nearDupClusters.
    *
    * maxClusterSize is the hot-cluster guard for the within-cluster
    * join (a degenerate codebook funneling everything into one list
    * would resurrect the quadratic term in one partition): over-cap
    * clusters drop whole and are auditable via [[droppedClusters]] —
    * the no-silent-caps posture of every capped candidate generator.
    */
  def semanticDedup(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, eps: Double, nList: Int = 16, iters: Int = 3,
      maxClusterSize: Int = 10000): DataFrame = {
    val cc = graft.Rounds.cached(Ann.vecs(emb, idCol, vecCol)) { vecs =>
      val withC = clusters(spark, vecs, nList, iters).join(vecs, "id")
        .withColumn("csz", count(lit(1)).over(Window.partitionBy("cluster")))
        .filter(col("csz") <= maxClusterSize)
        .select(col("cluster"), col("id"), col("vec"), Ann.norm(col("vec")).as("nrm"))
      val pairs = withC.as("a")
        .join(withC.as("b"),
          col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
        .withColumn("sim",
          Ann.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
        .filter(col("sim") >= eps)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // connectedComponents checkpoints the pair pipeline up front, so
      // its labels never read the vector cache
      graft.dedup.Dedup.connectedComponents(pairs)
    }
    cc.select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"),
      (col("doc_id") === col("cluster_id")).as("keep"))
  }

  /** No-silent-caps audit for semanticDedup: the clusters its
    * maxClusterSize drops, with their sizes, from the same assignment
    * under one vector cache.
    */
  def droppedClusters(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, nList: Int = 16, iters: Int = 3,
      maxClusterSize: Int = 10000): DataFrame =
    graft.Rounds.cached(Ann.vecs(emb, idCol, vecCol)) { vecs =>
      graft.Rounds.checkpoint(clusters(spark, vecs, nList, iters)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("csz"))
        .filter(col("csz") > maxClusterSize))
    }
}
