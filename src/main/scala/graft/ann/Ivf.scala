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
  * map, centroid update via posexplode + groupBy(cluster, dim) sums);
  * only the k x dim codebook ever reaches the driver.
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

  private[ann] def vecsDF(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), _.cast("double")).as("vec"))

  /** Cluster id of each row under a broadcast codebook (cosine). */
  def assign(spark: SparkSession, vecs: DataFrame, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    vecs.select(col("id"), col("vec")).as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val arr = v.toArray
        val cs = bc.value
        var best = 0
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          val sim = dotArr(cs(c), arr) /
            (math.max(normArr(cs(c)), 1e-12) * math.max(normArr(arr), 1e-12))
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        (id, best)
      }
      .toDF("id", "cluster")
  }

  /** Lloyd's k-means, `iters` fixed rounds, distributed updates. */
  def train(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      nList: Int, iters: Int = 5): Model =
    graft.Rounds.cached(vecsDF(emb, idCol, vecCol))(trainOnVecs(spark, _, nList, iters))

  /** Training core over an ALREADY-CACHED (id, vec) frame — callers
    * that hold their own vector cache (topK, semanticDedup,
    * Pq.topKIvf) pass it here instead of train() building a second
    * cache of the same data.
    * Each round's update aggregation emits (cluster, vec) straight
    * from the assignment map — the previous assign-then-join-by-id
    * shape paid one extra shuffle join per round for rows the map
    * already held.
    */
  private[ann] def trainOnVecs(spark: SparkSession, vecs: DataFrame,
      nList: Int, iters: Int): Model = {
    import spark.implicits._
    // deterministic init: the nList lowest-id vectors
    var model = Model(vecs.orderBy("id").limit(nList)
      .collect().map(_.getSeq[Double](1).toArray))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(model.centroids)
      val assigned = vecs.select(col("id"), col("vec")).as[(Long, Seq[Double])]
        .map { case (_, v) =>
          val arr = v.toArray
          val cs = bc.value
          var best = 0
          var bestSim = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val sim = dotArr(cs(c), arr) /
              (math.max(normArr(cs(c)), 1e-12) * math.max(normArr(arr), 1e-12))
            if (sim > bestSim) { bestSim = sim; best = c }
            c += 1
          }
          (best, v)
        }
        .toDF("cluster", "vec")
      val sums = assigned
        .select(col("cluster"), posexplode(col("vec")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(floor(col("col") * FixedPointScale + 0.5)).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(model.centroids.length)(c => model.centroids(c).clone())
      for (r <- sums) {
        next(r.getAs[Int]("cluster"))(r.getAs[Int]("pos")) =
          r.getAs[Long]("s").toDouble / (FixedPointScale.toDouble * r.getAs[Long]("n"))
      }
      model = Model(next)
    }
    model
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
      iters: Int = 5): DataFrame = {
    import spark.implicits._
    graft.Rounds.cached(vecsDF(emb, idCol, vecCol)) { vecs =>
      val model = trainOnVecs(spark, vecs, nList, iters)
      val assigned = assign(spark, vecs, model)

      val queryVecs = vecs.filter(col("id").isin(queryIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val probes = queryVecs.toSeq.flatMap { case (qid, qv) =>
        model.nearest(qv, nProbe).map(c => (qid, c))
      }
      val probeDF = probes.toDF("query_id", "cluster")

      val candidates = assigned.join(broadcast(probeDF), "cluster")
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("item_id"))
        .distinct()
      val reranked = candidates
        .join(vecs.withColumnRenamed("id", "item_id").withColumnRenamed("vec", "item_vec"), "item_id")
        .join(broadcast(vecs.withColumnRenamed("id", "query_id").withColumnRenamed("vec", "query_vec")
          .filter(col("query_id").isin(queryIds: _*))), "query_id")
        .withColumn("sim",
          Ann.dot(col("query_vec"), col("item_vec")) /
            (Ann.norm(col("query_vec")) * Ann.norm(col("item_vec"))))
      val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("item_id"))
      // checkpointed inside the scope: the result never reads the cache
      graft.Rounds.checkpoint(reranked.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("item_id").as("neighbor_id"),
          col("rank").cast("bigint").as("rank"), col("sim")))
    }
  }

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
    val cc = graft.Rounds.cached(vecsDF(emb, idCol, vecCol)) { vecs =>
      val model = trainOnVecs(spark, vecs, nList, iters)
      val withC = assign(spark, vecs, model).join(vecs, "id")
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
    * maxClusterSize drops, with their sizes.
    */
  def droppedClusters(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, nList: Int = 16, iters: Int = 3,
      maxClusterSize: Int = 10000): DataFrame = {
    val vecs = vecsDF(emb, idCol, vecCol)
    val model = train(spark, emb, idCol, vecCol, nList, iters)
    assign(spark, vecs, model)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("csz"))
      .filter(col("csz") > maxClusterSize)
  }
}
