package graft

import graft.dedup.Pairs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.dedup.Pairs]] against a brute-force driver-side reference:
  * a self-join of each block's rows on the key with a.id < b.id,
  * grouped by pair and counted, over the blocks the cap keeps.
  */
class PairsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pairs-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A block: its key (None = null) and its member ids, repeats allowed. */
  type Block = (Option[Int], Seq[Long])

  /** The payload a member carries, a pure function of its id. */
  private def payload(id: Long): Long = id * 1000003L ^ 0x5bd1e995L

  private def frame(blocks: Seq[Block]): DataFrame = {
    import spark.implicits._
    blocks.flatMap { case (k, ids) => ids.map(id => (k, id, payload(id))) }
      .toDF("k", "id", "p")
  }

  private def pairsOf(blocks: Seq[Block], cap: Int): Map[(Long, Long), Long] =
    Pairs.of(Pairs.blocks(frame(blocks), Seq("k"), struct(col("id"), col("p")), cap))
      .select(col("a.id"), col("b.id"), col("n_shared"), col("a.p"), col("b.p"))
      .collect().map { r =>
        assert(r.getLong(3) == payload(r.getLong(0)) && r.getLong(4) == payload(r.getLong(1)),
          s"payload detached from its id: $r")
        (r.getLong(0), r.getLong(1)) -> r.getLong(2)
      }.toMap

  /** The same pairs from bare-id members. */
  private def barePairsOf(blocks: Seq[Block], cap: Int): Map[(Long, Long), Long] =
    Pairs.of(Pairs.blocks(frame(blocks), Seq("k"), col("id"), cap))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** The same blocks as Pairs sees them: null keys never match, and
    * rows sharing a key form one block.
    */
  private def merged(blocks: Seq[Block]): Map[Int, Seq[Long]] =
    blocks.collect { case (Some(k), ids) => k -> ids }
      .groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap

  private def reference(blocks: Seq[Block], cap: Int): Map[(Long, Long), Long] =
    (for {
      (_, ids) <- merged(blocks).toSeq if ids.size <= cap
      a <- ids; b <- ids if a < b
    } yield (a, b)).groupBy(identity).view.mapValues(_.size.toLong).toMap

  private val genCase: Gen[(Int, Seq[Block])] = for {
    cap <- Gen.choose(2, 5)
    nBlocks <- Gen.choose(1, 7)
    blocks <- Gen.listOfN(nBlocks, for {
      key <- Gen.frequency(9 -> Gen.choose(0, 5).map(Option(_)), 1 -> Gen.const(None))
      size <- Gen.oneOf(Gen.const(1), Gen.const(cap), Gen.const(cap + 1), Gen.choose(1, cap + 1))
      // a pool of 8 ids: repeats within a block, and pairs across blocks
      ids <- Gen.listOfN(size, Gen.choose(0L, 7L))
    } yield (key, ids))
  } yield (cap, blocks)

  private def checkProp(p: Prop, n: Int = 25): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("pairs, shared-block counts and over-cap blocks equal the brute-force reference") {
    checkProp(Prop.forAll(genCase) { case (cap, blocks) =>
      val got = pairsOf(blocks, cap)
      val dropped = Pairs.overCap(frame(blocks), Seq("k"), cap)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val kept = Pairs.blocks(frame(blocks), Seq("k"), col("id"), cap).collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      val whole = merged(blocks)
      got == reference(blocks, cap) && barePairsOf(blocks, cap) == got &&
        dropped == whole.collect { case (k, ids) if ids.size > cap => k -> ids.size.toLong } &&
        kept == whole.collect { case (k, ids) if ids.size <= cap => k -> ids.sorted }
    })
  }

  test("the edge shapes: repeated ids, blocks of 1, cap and cap + 1, pairs in several blocks") {
    val cap = 3
    val blocks: Seq[Block] = Seq(
      Some(0) -> Seq(4L), // one member: no pair
      Some(1) -> Seq(1L, 2L, 2L), // at the cap, 2 repeated: (1,2) twice
      Some(2) -> Seq(1L, 2L, 3L, 4L), // cap + 1: dropped whole
      Some(3) -> Seq(2L, 1L, 3L), // (1,2) shares a second block
      None -> Seq(1L, 2L)) // a null key blocks nothing
    val want = Map((1L, 2L) -> 3L, (1L, 3L) -> 1L, (2L, 3L) -> 1L)
    assert(reference(blocks, cap) == want)
    assert(pairsOf(blocks, cap) == want)
    assert(barePairsOf(blocks, cap) == want)
    assert(Pairs.overCap(frame(blocks), Seq("k"), cap).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq == Seq(2 -> 4L))
  }

  test("one block at the cap expands to all C(3000, 2) pairs") {
    // 4,498,500 pairs from a single 3000-member row: each expanded row
    // holds one member's later slice, never the block's pair array
    val block = spark.range(3000).select(lit(7).as("k"), col("id"))
    val blocks = Pairs.blocks(block, Seq("k"), col("id"), 3000)
    assert(Pairs.of(blocks).count() == 4498500L)
    assert(Pairs.blocks(block, Seq("k"), col("id"), 2999).isEmpty)
    assert(Pairs.overCap(block, Seq("k"), 2999).collect().map(_.getLong(1)).toSeq == Seq(3000L))
  }
}
