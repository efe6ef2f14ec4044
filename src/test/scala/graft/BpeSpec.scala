package graft

import graft.textops.{Bpe, BpeCodec}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Trained BPE: the classic golden example, an INDEPENDENT reference
  * implementation of application (rank-order all-occurrence passes, the
  * textbook formulation) cross-checked against the engine's
  * min-rank/leftmost loop, and the codegen'd expression surface.
  */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-bpe-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Textbook application: apply each merge in rank order, all
    * occurrences left-to-right, one full pass per merge — structurally
    * different from BpeCodec.segmentWord's min-rank/leftmost loop, so
    * agreement is evidence, not tautology.
    */
  private def naiveSegment(word: String, merges: Seq[(String, String)]): Seq[String] = {
    def applyAll(seg: List[String], p: (String, String)): List[String] = seg match {
      case a :: b :: rest if a == p._1 && b == p._2 => (a + b) :: applyAll(rest, p)
      case a :: rest => a :: applyAll(rest, p)
      case Nil => Nil
    }
    merges.foldLeft(BpeCodec.codepoints(word).toList)(applyAll)
  }

  test("golden: Sennrich-style corpus learns (e,s) then (es,t) first") {
    val counts = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val codec = Bpe.trainFromCounts(counts, numMerges = 10, minPairFreq = 2)
    // e-s appears in newest(6) + widest(3) = 9, the corpus max; the
    // merged 'es' then pairs with t at the same weight
    assert(codec.merges.take(2).toSeq == Seq(("e", "s"), ("es", "t")))
    // vocabulary words segment into few tokens, and segmentation always
    // concatenates back to the word
    for (w <- Seq("low", "lower", "newest", "widest", "lowest", "unseen")) {
      val seg = codec.segmentWord(w)
      assert(seg.mkString == w, s"$w -> ${seg.mkString("|")}")
    }
  }

  test("engine segmentation == textbook rank-order application") {
    val rng = new scala.util.Random(7)
    val alphabet = "abcd"
    val words = (0 until 300).map(_ =>
      (0 until (1 + rng.nextInt(10))).map(_ => alphabet(rng.nextInt(4))).mkString)
    val counts = words.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
    val codec = Bpe.trainFromCounts(counts, numMerges = 30, minPairFreq = 2)
    assert(codec.numMerges > 5, s"degenerate training: ${codec.numMerges} merges")
    for (w <- words ++ Seq("", "dcba", "aaaaaaa")) {
      val got = codec.segmentWord(w).toSeq
      val want = naiveSegment(w, codec.merges.toSeq)
      assert(got == want, s"$w: ${got.mkString("|")} vs ${want.mkString("|")}")
    }
  }

  test("property: incremental pair counting == full-rebuild reference training") {
    // guards the incremental count maintenance: the merge table must be
    // identical to the textbook per-round full rebuild on any corpus
    def rebuildTrain(wordCounts: Seq[(String, Long)], numMerges: Int,
        minPairFreq: Long): Seq[(String, String)] = {
      var segs = wordCounts.map { case (w, c) => (BpeCodec.codepoints(w).toVector, c) }
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var go = true
      while (go && merges.length < numMerges) {
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((seg, cnt) <- segs; i <- 0 until seg.length - 1)
          pc.updateWith((seg(i), seg(i + 1)))(v => Some(v.getOrElse(0L) + cnt))
        if (pc.isEmpty) go = false
        else {
          val (bp, bc) = pc.minBy { case ((l, r), c) => (-c, l, r) }
          if (bc < minPairFreq) go = false
          else {
            merges += bp
            segs = segs.map { case (seg, cnt) =>
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < seg.length) {
                if (i < seg.length - 1 && seg(i) == bp._1 && seg(i + 1) == bp._2) {
                  out += seg(i) + seg(i + 1); i += 2
                } else { out += seg(i); i += 1 }
              }
              (out.toVector, cnt)
            }
          }
        }
      }
      merges.toSeq
    }
    for (seed <- 1 to 10) {
      val rng = new scala.util.Random(seed * 12347L)
      val words = (0 until 100 + rng.nextInt(200)).map(_ =>
        (0 until (1 + rng.nextInt(8))).map(_ => "abcde" (rng.nextInt(5))).mkString)
      val counts = words.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
      val inc = Bpe.trainFromCounts(counts, numMerges = 40, minPairFreq = 2).merges.toSeq
      val ref = rebuildTrain(counts, numMerges = 40, minPairFreq = 2)
      assert(inc == ref, s"seed $seed: merge tables diverged")
    }
  }

  test("countText: single-space split, empties contribute zero") {
    val codec = Bpe.trainFromCounts(Seq(("ab", 5L)), 10, 2)
    assert(codec.countText("") == 0L)
    assert(codec.countText("ab ab") == 2L)
    assert(codec.countText("ab  ab") == 2L) // double space -> empty word
    assert(codec.countText(" ab ") == 1L)
    assert(codec.countText("abab") == 2L)   // ab + ab (no (ab,ab) merge)
  }

  test("training is deterministic and corpus-derived on real testdata") {
    val docs = spark.read.parquet(s"${TestData.Sf0001}/documents.parquet")
    val a = Bpe.train(docs, "text", numMerges = 50)
    val b = Bpe.train(docs, "text", numMerges = 50)
    assert(a.merges.toSeq == b.merges.toSeq)
    assert(a.numMerges == 50, s"expected full 50 merges, got ${a.numMerges}")
  }

  test("bpe_count expression: codegen'd column == local codec, plan stays codegen") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestData.Sf0001}/documents.parquet")
    val codec = Bpe.train(docs, "text", numMerges = 50)
    val df = docs.select(col("doc_id"), col("text"),
      graft.functions.GraftFunctions.bpeCount(spark, col("text"), codec).as("n_bpe"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    for (r <- rows.take(50))
      assert(r.getAs[Long]("n_bpe") == codec.countText(r.getAs[String]("text")))
    // real BPE compresses: fewer tokens than characters, more than words
    val t = rows.head
    val txt = t.getAs[String]("text")
    assert(t.getAs[Long]("n_bpe") <= txt.length)
    assert(t.getAs[Long]("n_bpe") >= txt.split(" ", -1).count(_.nonEmpty))
    // the expression runs inside whole-stage codegen, not interpreted
    // (WholeStageCodegenExec prints as "*(n) Op" in the plan tree)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
  }
}
