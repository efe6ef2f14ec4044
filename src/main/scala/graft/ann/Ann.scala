package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`), and
  * the retrieval core the family shares.
  *
  *  - Brute-force cosine top-k: broadcast the (small) query set, one
  *    codegen'd pass over the corpus, per-query rank. The exact
  *    baseline; O(|corpus| * |queries|) but shuffle-free except the
  *    final per-query top-k. Matryoshka and MIPS are its two-stage and
  *    norm-pruned variants.
  *  - Candidate paths: LSH here (random-hyperplane signatures, L tables
  *    x nbits sign bits, seeded, equi-joined on (table, sig)), IVF and
  *    IVFADC in [[Ivf]] and [[Pq]]. At 10^9 vectors the candidate set
  *    replaces the full scan per query.
  *  - The core: [[vecs]], the one (id, vec) double-array frame;
  *    [[ranked]], the one per-query ranker (row_number by score, ties
  *    to the lower item_id); [[rerank]], the one exact cosine rerank of
  *    a candidate set. [[Ivf.lloyd]] is the one training loop and
  *    [[Ivf.probed]] the one probe.
  */
object Ann {

  /** Dot product of two double-array columns (codegen-friendly HOFs). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine of two double-array columns, folded as the oracle does. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private[ann] def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** (id, vec): the id as long and the vector as array<double>, the
    * frame every trained operator caches and reads.
    */
  def vecs(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("vec"))

  /** The query rows of a [[vecs]] frame, on the driver, by id. */
  private[ann] def queryVecs(vecs: DataFrame, queryIds: Seq[Long]): Array[(Long, Array[Double])] =
    vecs.filter(col("id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** The one per-query ranker: `row_number` over each query_id's rows by
    * `score` descending, ties to the lower item_id, keeping ranks 1..k
    * in column `rank`.
    */
  private[ann] def ranked(scored: DataFrame, score: String, k: Int,
      rank: String = "rank"): DataFrame =
    scored.withColumn(rank, row_number().over(
      Window.partitionBy("query_id").orderBy(col(score).desc, col("item_id"))))
      .filter(col(rank) <= k)

  /** [[ranked]] as a top-k operator's output: (query_id, neighbor_id,
    * `extra`..., rank, `score`).
    */
  private[ann] def neighbors(scored: DataFrame, score: String, k: Int,
      extra: Column*): DataFrame =
    ranked(scored, score, k).select(Seq(col("query_id"), col("item_id").as("neighbor_id")) ++
      extra :+ col("rank").cast("bigint").as("rank") :+ col(score): _*)

  /** The one exact rerank of a candidate set: each (query_id, item_id)
    * candidate joined to both vectors of `vecs`, scored by cosine and
    * ranked to `k`. Output: (query_id, neighbor_id, rank, sim).
    */
  private[ann] def rerank(candidates: DataFrame, vecs: DataFrame,
      queryIds: Seq[Long], k: Int): DataFrame = {
    def side(s: String) = vecs.select(col("id").as(s"${s}_id"), col("vec").as(s"${s}_vec"))
    neighbors(candidates.join(side("item"), "item_id")
      .join(broadcast(side("query").filter(col("query_id").isin(queryIds: _*))), "query_id")
      .withColumn("sim", cosine(col("query_vec"), col("item_vec"))), "sim", k)
  }

  /** Shared brute-force core: broadcast query set, cosine against the
    * full item set — parameterized by an optional label column (carried
    * through to queries/output) and the row-keep predicate
    * ([[bruteForceTopK]] excludes self; [[hardNegatives]] excludes
    * same-label).
    */
  private def bySim(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: Option[String],
      queryIds: Seq[Long]): DataFrame = {
    val itemCols = Seq(col(idCol).cast("long").as("item_id")) ++
      labelCol.map(c => col(c).as("item_label")) :+
      asDouble(col(vecCol)).as("item_vec")
    val items = emb.select(itemCols: _*)
    val queryCols = Seq(col("item_id").as("query_id")) ++
      labelCol.map(_ => col("item_label").as("query_label")) :+
      col("item_vec").as("query_vec")
    val queries = items
      .filter(col("item_id").isin(queryIds: _*))
      .select(queryCols: _*)
    val keep = labelCol
      .map(_ => col("item_label") =!= col("query_label"))
      .getOrElse(col("item_id") =!= col("query_id"))
    items.crossJoin(broadcast(queries))
      .filter(keep)
      .withColumn("sim", cosine(col("query_vec"), col("item_vec")))
  }

  /** Exact cosine top-k for each query id. Output:
    * (query_id, neighbor_id, rank, sim). Self-matches excluded.
    */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int): DataFrame =
    neighbors(bySim(emb, idCol, vecCol, None, queryIds), "sim", k)

  /** Brute-force hard-negative mining: the top-k most-similar items
    * carrying a DIFFERENT label than the query — the contrastive-
    * training negative sampler ("hard" = high-similarity wrong-label).
    * Same broadcast-query-set shape (and the same explicitly bounded
    * exact-baseline posture) as [[bruteForceTopK]]; the LSH/IVF bucket
    * paths are the scale route when the query set itself is large.
    */
  def hardNegatives(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      queryIds: Seq[Long],
      k: Int): DataFrame =
    neighbors(bySim(emb, idCol, vecCol, Some(labelCol), queryIds), "sim", k,
      col("item_label").as("neighbor_label"))

  /** One portable hyperplane weight: md5("seed:t:b:i") -> 60-bit int ->
    * uniform in [-1, 1] via exact integer arithmetic + one IEEE divide.
    * Engine-reproducible (the DuckDB oracle replays the same formula),
    * unlike JVM-RNG Gaussians; for sign-LSH any symmetric coordinate
    * distribution gives the published locality bound, Gaussianity is not
    * required (Charikar '02 uses the sphere only for the angle lemma,
    * which holds for any centrally symmetric draw).
    */
  def planeWeight(seed: Long, t: Int, b: Int, i1: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed:$t:$b:$i1".getBytes("UTF-8"))
      .map(x => f"$x%02x").mkString.take(15)
    ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
  }

  /** Seeded deterministic hyperplanes: tables x bits x dim. */
  def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits, dim)((t, b, i) => planeWeight(seed, t, b, i + 1))

  /** Sign-bit signature of one vector under one table's hyperplanes. */
  def signature(vec: Array[Double], planes: Array[Array[Double]]): Int = {
    var sig = 0
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var s = 0.0
      var i = 0
      val n = math.min(p.length, vec.length)
      while (i < n) { s += p(i) * vec(i); i += 1 }
      if (s > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** (id, table, sig) rows for every vector — record-local typed map. */
  def signatures(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      tables: Int,
      bits: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    val planes = hyperplanes(tables, bits, dim, seed)
    val bc = spark.sparkContext.broadcast(planes)
    vecs(emb, idCol, vecCol).as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val arr = v.toArray
        val ps = bc.value
        (0 until ps.length).iterator.map(t => (id, t, signature(arr, ps(t))))
      }
      .toDF("id", "table", "sig")
  }

  /** Approximate top-k: LSH candidates then exact cosine rerank. */
  def lshTopK(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      tables: Int = 8,
      bits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val sigs = signatures(spark, emb, idCol, vecCol, tables, bits, seed)
    val qSigs = sigs.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("table"), col("sig"))
    val candidates = sigs.join(broadcast(qSigs), Seq("table", "sig"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("item_id"))
      .distinct()
    rerank(candidates, vecs(emb, idCol, vecCol), queryIds, k)
  }

  /** Johnson-Lindenstrauss random projection to `k` dims: the
    * DATA-INDEPENDENT dimensionality-reduction path (Pca is the
    * data-dependent one) — no training pass at all, so it runs as a
    * single broadcast map over the corpus and the projection of a new
    * row never changes as the corpus grows. Plane weights are the same
    * portable md5-derived uniform[-1,1] draws as the LSH hyperplanes
    * (table index pinned to 0), scaled by sqrt(3/k) so squared
    * distances are unbiased (Var(U[-1,1]) = 1/3; Achlioptas 2003 shows
    * sub-Gaussian entries suffice for the JL bound). Index-ordered
    * left-fold dots, scale applied once after the fold — the oracle
    * replays both.
    */
  def randomProject(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    val planes = Array.tabulate(k, dim)((b, i) => planeWeight(seed, 0, b, i + 1))
    val scale = math.sqrt(3.0 / k)
    val bc = spark.sparkContext.broadcast(planes)
    vecs(emb, idCol, vecCol).as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val arr = v.toArray
        val ps = bc.value
        val out = new Array[Double](ps.length)
        var b = 0
        while (b < ps.length) {
          val p = ps(b)
          var s = 0.0
          var i = 0
          val n = math.min(p.length, arr.length)
          while (i < n) { s += p(i) * arr(i); i += 1 }
          out(b) = s * scale
          b += 1
        }
        (id, out.toSeq)
      }
      .toDF("vec_id", "proj")
  }

  /** Matryoshka two-stage retrieval: rank the corpus by cosine over
    * only the FIRST `coarseDims` embedding dimensions (MRL-style nested
    * representations put the information-dense prefix first), keep the
    * top `shortlist` per query, then rerank just that shortlist with
    * full-dimension cosine. The scale lever is I/O + FLOPs: the coarse
    * pass touches coarseDims/D of every vector (a genuinely smaller
    * column when the prefix is stored separately), and only
    * `shortlist * |queries|` full vectors are ever scored — the same
    * candidates-then-exact-rerank shape as [[lshTopK]] but with a
    * deterministic, trainable-free candidate generator.
    *
    * Fully deterministic (slice + IEEE left-to-right dots, ties to the
    * lower item id at both stages), so the DuckDB oracle replays it
    * exactly. Output: (query_id, neighbor_id, rank, sim) with `sim` the
    * full-dimension cosine.
    */
  def matryoshkaTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      coarseDims: Int,
      shortlist: Int): DataFrame = {
    require(coarseDims > 0, s"coarseDims must be positive, got $coarseDims")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val items = emb.select(col(idCol).cast("long").as("item_id"),
      asDouble(col(vecCol)).as("item_vec"),
      slice(asDouble(col(vecCol)), 1, coarseDims).as("item_head"))
    val queries = items
      .filter(col("item_id").isin(queryIds: _*))
      .select(col("item_id").as("query_id"), col("item_vec").as("query_vec"),
        col("item_head").as("query_head"))
    val coarse = items.crossJoin(broadcast(queries))
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("csim", cosine(col("query_head"), col("item_head")))
    neighbors(ranked(coarse, "csim", shortlist, "crank")
      .withColumn("sim", cosine(col("query_vec"), col("item_vec"))), "sim", k)
  }

  /** Shared MIPS scaffolding: items with norms, broadcast query set,
    * the `normPrefix`-th largest item norm as the head/tail cutoff,
    * head scores, per-query k-th-best head score, and the tail rows
    * flagged with the Cauchy-Schwarz keep decision. Both [[mipsTopK]]
    * and [[mipsPruneAudit]] build on this so operator and audit can
    * never disagree about what was pruned.
    */
  private def mipsParts(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      normPrefix: Int): (DataFrame, DataFrame) = {
    require(normPrefix > k,
      s"normPrefix ($normPrefix) must exceed k ($k) so the head pass can seed a k-th-best bound")
    val items = emb.select(col(idCol).cast("long").as("item_id"),
      asDouble(col(vecCol)).as("item_vec"),
      norm(asDouble(col(vecCol))).as("item_nrm"))
    val queries = items
      .filter(col("item_id").isin(queryIds: _*))
      .select(col("item_id").as("query_id"), col("item_vec").as("query_vec"),
        col("item_nrm").as("query_nrm"))
    // normPrefix-th largest norm: TakeOrderedAndProject — only
    // `normPrefix` scalars ever reach the driver, no global sort.
    val cutoff = items.select(col("item_nrm"))
      .orderBy(col("item_nrm").desc)
      .limit(normPrefix)
      .agg(min(col("item_nrm")))
      .head().getDouble(0)
    val headScored = items.filter(col("item_nrm") >= cutoff)
      .crossJoin(broadcast(queries))
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("score", dot(col("query_vec"), col("item_vec")))
    val kth = ranked(headScored, "score", k, "r")
      .filter(col("r") === k)
      .select(col("query_id").as("tq"), col("score").as("kth_score"))
    // Safety margin on the prune bound: in exact arithmetic
    // dot <= |q||x| (Cauchy-Schwarz), but both sides are IEEE folds; a
    // 1e-9 relative + 1e-12 absolute slack dwarfs the ~64*eps rounding
    // of a 64-dim fold, so pruning stays EXACT (never drops a true
    // top-k member) while still discarding the norm-dominated tail.
    val bound = col("kth_score") - abs(col("kth_score")) * lit(1e-9) - lit(1e-12)
    val tailFlagged = items.filter(col("item_nrm") < cutoff)
      .crossJoin(broadcast(queries
        .join(kth, col("query_id") === col("tq"), "left").drop("tq")))
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("keep",
        col("kth_score").isNull || col("item_nrm") * col("query_nrm") >= bound)
    (headScored, tailFlagged)
  }

  /** EXACT maximum-inner-product-search top-k (query.item, un-normalized
    * — the retrieval objective when vectors are trained with dot-product
    * similarity and norm carries importance) with Cauchy-Schwarz
    * norm-bound pruning. Two phases: (1) score only the `normPrefix`
    * highest-norm items (the only items that can produce large products)
    * to seed a per-query k-th-best lower bound s_k; (2) scan the tail
    * but compute the dot ONLY for items with |x|.|q| >= s_k — everything
    * below the bound provably cannot enter the top-k, so at 10^9 vectors
    * with the usual long-tailed norm distribution the expensive fold
    * runs on a small fraction of the corpus while the output stays
    * bit-identical to brute force (the oracle IS brute force).
    * Output: (query_id, neighbor_id, rank, score).
    */
  def mipsTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      normPrefix: Int = 64): DataFrame = {
    val (headScored, tailFlagged) = mipsParts(emb, idCol, vecCol, queryIds, k, normPrefix)
    val tailScored = tailFlagged.filter(col("keep"))
      .withColumn("score", dot(col("query_vec"), col("item_vec")))
    val all = headScored.select(col("query_id"), col("item_id"), col("score"))
      .unionByName(tailScored.select(col("query_id"), col("item_id"), col("score")))
    neighbors(all, "score", k)
  }

  /** No-silent-caps audit for [[mipsTopK]] (same posture as the LSH and
    * SimHash cap audits): per query, how many items the head pass
    * scored, how many tail items the norm bound pruned WITHOUT computing
    * their dot product, and how many tail items were scored. The prune
    * decision is replayed from the same shared scaffolding the operator
    * uses, so this is the ground truth of the work-saving claim.
    */
  def mipsPruneAudit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      normPrefix: Int = 64): DataFrame = {
    val (headScored, tailFlagged) = mipsParts(emb, idCol, vecCol, queryIds, k, normPrefix)
    val headCnt = headScored.groupBy("query_id")
      .agg(count(lit(1)).as("n_head"))
    tailFlagged.groupBy("query_id")
      .agg(sum(when(col("keep"), 0L).otherwise(1L)).as("n_pruned"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_scored"))
      .join(headCnt, "query_id")
      .select(col("query_id"), col("n_head"), col("n_pruned"), col("n_scored"))
  }

  /** Embedding-cosine near-duplicate pairs (sim >= threshold) among a
    * bounded id range — exact via self-join; the LSH path above is the
    * unbounded-scale variant.
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxId: Long): DataFrame = {
    val v = emb.filter(col(idCol) < maxId)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("vec"),
        norm(asDouble(col(vecCol))).as("nrm"))
    val a = v.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
