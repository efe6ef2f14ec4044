package graft

import graft.ann.{Ann, Pq}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: codebook assignment semantics, encode bounds,
  * and ADC top-k invariants. Value-level correctness against an
  * independent engine is driver-gated (q_ann_pq's DuckDB training
  * replay); these tests pin the semantics the oracle relies on.
  */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pq-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Deterministic synthetic embeddings: dim 8, values a pure function
    * of (id, i) with enough spread for non-degenerate codebooks.
    */
  private def syntheticEmb(n: Int) = {
    import spark.implicits._
    (0 until n).map { id =>
      (id.toLong, (0 until 8).map(i =>
        math.sin(id * 0.7 + i * 1.3).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("assignSub is strict-less L2 argmin; ties keep the lowest code") {
    val book = Array(
      Array(1.0, 0.0),
      Array(0.0, 1.0),
      Array(1.0, 0.0)) // duplicate of code 0: tie must resolve to 0
    assert(Pq.assignSub(Array(0.9, 0.1), 0, 2, book) == 0)
    assert(Pq.assignSub(Array(0.1, 0.9), 0, 2, book) == 1)
    assert(Pq.assignSub(Array(1.0, 0.0), 0, 2, book) == 0) // exact tie with code 2
    // subspace offset: second subvector of a 4-dim row
    assert(Pq.assignSub(Array(5.0, 5.0, 0.0, 1.0), 1, 2, book) == 1)
  }

  test("encode emits one in-range code per subspace for every vector") {
    import spark.implicits._
    val vecs = Ann.vecs(syntheticEmb(30), "vec_id", "embedding")
    val model = Pq.train(spark, vecs, numSub = 2, k = 4, iters = 2)
    assert(model.numSub == 2 && model.subDim == 4)
    val codes = Pq.encode(spark, vecs, model)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 30)
    assert(codes.values.forall(cs => cs.length == 2 && cs.forall(c => c >= 0 && c < 4)))
  }

  test("ADC top-k: per-query size, self-exclusion, descending scores, determinism") {
    import spark.implicits._
    val emb = syntheticEmb(30)
    def run() = Pq.topK(spark, emb, "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L), k = 5, numSub = 2, kSub = 4, iters = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._3))
    val got = run()
    assert(got.size == 15)
    for (q <- Seq(0L, 1L, 2L)) {
      val rows = got.filter(_._1 == q)
      assert(rows.map(_._3) == (1L to 5L), rows.toString)
      assert(rows.forall(_._2 != q))
      assert(rows.map(_._4).sliding(2).forall(p => p.head >= p.last))
      // ties must break by ascending neighbor id
      rows.sliding(2).foreach { case Seq(a, b) =>
        if (a._4 == b._4) assert(a._2 < b._2)
      case _ => ()
      }
    }
    assert(run() == got) // bit-identical across runs
  }

  test("IVFADC: neighbors come only from probed lists; ADC scores match full PQ") {
    import spark.implicits._
    val emb = syntheticEmb(30)
    val ivfpq = Pq.topKIvf(spark, emb, "vec_id", "embedding",
        queryIds = Seq(0L, 1L), k = 5,
        nList = 4, nProbe = 2, ivfIters = 2, numSub = 2, kSub = 4, pqIters = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val full = Pq.topK(spark, emb, "vec_id", "embedding",
        queryIds = Seq(0L, 1L), k = 30, numSub = 2, kSub = 4, iters = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(ivfpq.nonEmpty)
    for ((q, n, rank, adot) <- ivfpq) {
      assert(rank >= 1 && rank <= 5 && n != q)
      // the ADC score of a candidate is the same whether or not IVF
      // pre-filtered it — IVFADC only ever SHRINKS the candidate set
      assert(full((q, n)) == adot, s"($q,$n)")
    }
  }
}
