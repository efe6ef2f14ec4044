package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The retrieval core against driver-side references: [[Ivf.lloyd]] as
  * IVF (one subspace, cosine argmax) and as PQ (four subspaces, L2
  * argmin) against plain-Scala fixed-point Lloyd's over the same arrays,
  * bit for bit, and [[Ann.ranked]]'s tie order.
  */
class LloydSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-lloyd-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val S = Ivf.FixedPointScale

  private def fold(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)
  private def dot(a: Array[Double], b: Array[Double]) = fold(a.indices.map(i => a(i) * b(i)))

  /** First maximum wins, as a strict `>` scan does. */
  private def refCosine(v: Array[Double], cs: Array[Array[Double]]): Int =
    cs.indices.maxBy(c => dot(cs(c), v) /
      (math.max(math.sqrt(dot(cs(c), cs(c))), 1e-12) * math.max(math.sqrt(dot(v, v)), 1e-12)))(
      Ordering.Double.IeeeOrdering)

  /** First minimum wins, as a strict `<` scan does. */
  private def refL2(v: Array[Double], cs: Array[Array[Double]]): Int =
    cs.indices.minBy(c => fold(v.indices.map(i => (v(i) - cs(c)(i)) * (v(i) - cs(c)(i)))))(
      Ordering.Double.IeeeOrdering)

  /** Fixed-point Lloyd's on the driver: lowest-id init, each subspace's
    * codeword the fixed-point mean of the subvectors it won, a codeword
    * that won none unchanged.
    */
  private def refLloyd(rows: Seq[(Long, Array[Double])], numSub: Int, k: Int, iters: Int,
      nearest: (Array[Double], Array[Array[Double]]) => Int): Array[Array[Array[Double]]] = {
    val sd = rows.head._2.length / numSub
    def sub(v: Array[Double], m: Int) = v.slice(m * sd, (m + 1) * sd)
    val init = rows.sortBy(_._1).take(k).map(_._2)
    var books = Array.tabulate(numSub)(m => init.map(sub(_, m)).toArray)
    for (_ <- 0 until iters) {
      books = Array.tabulate(numSub) { m =>
        val won = rows.map(r => sub(r._2, m)).groupBy(nearest(_, books(m)))
        Array.tabulate(books(m).length)(c => won.get(c).fold(books(m)(c)) { ms =>
          Array.tabulate(sd)(i => ms.map(x => math.floor(x(i) * S + 0.5).toLong).sum.toDouble /
            (S.toDouble * ms.size))
        })
      }
    }
    books
  }

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    Ann.vecs(rows.toDF("vec_id", "embedding"), "vec_id", "embedding")
  }

  private def bits(books: Array[Array[Array[Double]]]) =
    books.map(_.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq).toSeq

  private val hashed: Seq[(Long, Array[Double])] = (0L until 40L).map { id =>
    id -> Array.tabulate(8)(i => math.sin(id * 0.9 + i * 1.7) + (if (id % 3 == i % 3) 1.0 else 0.0))
  }

  test("lloyd as IVF (one subspace, cosine argmax) matches driver-side Lloyd's bit for bit") {
    val got = Ivf.lloyd(spark, frame(hashed), 1, 4, 3, Ivf.cosineArgmax)
    val want = refLloyd(hashed, 1, 4, 3, refCosine)
    assert(got.length == 1 && got(0).length == 4)
    assert(bits(got) == bits(want))
    assert(bits(Array(Ivf.train(spark, frame(hashed), 4, 3).centroids)) == bits(got))
  }

  test("lloyd as PQ (four subspaces, L2 argmin) matches driver-side Lloyd's bit for bit") {
    val got = Pq.train(spark, frame(hashed), numSub = 4, k = 3, iters = 2).codebooks
    val want = refLloyd(hashed, 4, 3, 2, refL2)
    assert(got.length == 4 && got.forall(b => b.length == 3 && b.forall(_.length == 2)))
    assert(bits(got) == bits(want))
  }

  test("an exact assignment tie goes to the lowest id, and the emptied cluster keeps its centroid") {
    // rows 0 and 1 seed identical codewords, so every row nearer them
    // than row 2's ties between codewords 0 and 1; in the one round
    // codeword 0 wins them all and codeword 1, won by nothing, keeps its
    // seed
    val rows = Seq[(Long, Array[Double])](
      0L -> Array(1.0, 0.0, 1.0, 0.0), 1L -> Array(1.0, 0.0, 1.0, 0.0),
      2L -> Array(0.0, 1.0, 0.0, 1.0), 3L -> Array(0.75, 0.25, 0.5, 0.125),
      4L -> Array(0.5, 0.125, 0.75, 0.25), 5L -> Array(0.125, 0.875, 0.25, 0.75))
    assert(Ivf.cosineArgmax(Array(1.0, 0.0), Array(Array(0.0, 1.0), Array(2.0, 0.0), Array(1.0, 0.0))) == 1)
    assert(Pq.assignSub(Array(1.0, 0.0), 0, 2, Array(Array(0.0, 1.0), Array(1.0, 0.0), Array(1.0, 0.0))) == 1)
    for ((numSub, rule, ref) <- Seq[(Int, (Array[Double], Array[Array[Double]]) => Int,
        (Array[Double], Array[Array[Double]]) => Int)](
        (1, Ivf.cosineArgmax, refCosine),
        (2, (sub, book) => Pq.assignSub(sub, 0, sub.length, book), refL2))) {
      val got = Ivf.lloyd(spark, frame(rows), numSub, 3, 1, rule)
      assert(bits(got) == bits(refLloyd(rows, numSub, 3, 1, ref)), s"numSub $numSub")
      for (m <- 0 until numSub) {
        val seed = rows(1)._2.slice(m * 4 / numSub, (m + 1) * 4 / numSub)
        assert(got(m)(1).sameElements(seed), s"numSub $numSub: codeword 1 moved")
        assert(!got(m)(0).sameElements(seed), s"numSub $numSub: codeword 0 won no row")
      }
    }
  }

  test("the ranker breaks equal scores to the lower item_id") {
    import spark.implicits._
    val scored = Seq((1L, 5L, 0.5), (1L, 3L, 0.5), (1L, 9L, 0.75), (1L, 1L, 0.5),
      (2L, 4L, 0.25), (2L, 2L, 0.25)).toDF("query_id", "item_id", "score")
    val got = Ann.neighbors(scored, "score", 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got == Seq((1L, 9L, 1L, 0.75), (1L, 1L, 2L, 0.5), (1L, 3L, 3L, 0.5),
      (2L, 2L, 1L, 0.25), (2L, 4L, 2L, 0.25)))
    val second = Ann.ranked(scored, "score", 2, "r").filter($"r" === 2)
      .select("query_id", "item_id").as[(Long, Long)].collect().sorted.toSeq
    assert(second == Seq((1L, 1L), (2L, 4L)))
  }
}
