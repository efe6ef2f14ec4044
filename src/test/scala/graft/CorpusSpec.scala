package graft

import graft.ann.Quant
import graft.corpus.Sampling

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic sampling and int8 embedding quantization. */
class CorpusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-corpus-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
      .toDF("doc_id", "lang")
  }

  /** Approximate reconstruction of `Quant.quantize` rows: q_i * scale,
    * as array<double> in `vec_approx`.
    */
  private def dequantize(quantized: DataFrame): DataFrame =
    quantized.withColumn("vec_approx",
      transform(col("q"), qi => qi.cast("double") * col("scale")))

  test("hashSample is deterministic and near the requested rate") {
    val d = docs(2000)
    val a = Sampling.hashSample(d, "doc_id", 0.2).collect().map(_.getLong(0)).sorted
    val b = Sampling.hashSample(d, "doc_id", 0.2).collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
    assert(a.length > 2000 * 0.2 * 0.7 && a.length < 2000 * 0.2 * 1.3,
      s"rate off: ${a.length}/2000")
    // a different salt draws a different sample
    val c = Sampling.hashSample(d, "doc_id", 0.2, salt = "other")
      .collect().map(_.getLong(0)).sorted
    assert(!a.sameElements(c))
    // rate monotonicity: the 0.2 sample contains the 0.1 sample
    val small = Sampling.hashSample(d, "doc_id", 0.1).collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a.toSet))
  }

  test("stratifiedExact keeps exactly ceil(frac*n) rows per stratum") {
    val d = docs(999) // 333 per lang
    val out = Sampling.stratifiedExact(d, "lang", "doc_id", 0.1)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = math.ceil(0.1 * 333).toLong
    assert(counts == Map("en" -> expected, "de" -> expected, "fr" -> expected))
    // deterministic
    val again = Sampling.stratifiedExact(d, "lang", "doc_id", 0.1)
      .collect().map(_.getLong(0)).sorted
    assert(again.sameElements(out.collect().map(_.getLong(0)).sorted))
  }

  test("property: quantize roundtrip error bound holds for random vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val emb = (0L until 50L).map { i =>
      val dim = 1 + rng.nextInt(32)
      (i, Array.fill(dim)((rng.nextGaussian() * math.pow(10, rng.nextInt(5) - 2)).toFloat))
    }.toDF("vec_id", "embedding")
    val deq = dequantize(Quant.quantize(emb, "vec_id", "embedding"))
      .select("vec_id", "vec_approx", "scale", "q")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1).toVector, r.getDouble(2), r.getSeq[Int](3).toVector))).toMap
    val orig = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    for ((id, (approx, scale, q)) <- deq) {
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id out of int8 range")
      for ((a, o) <- approx.zip(orig(id)))
        assert(math.abs(a - o.toDouble) <= scale / 2 + math.ulp(o.toDouble.abs.max(1.0)),
          s"vec $id: $a vs $o (scale $scale)")
    }
  }

  test("mixtureSample applies per-stratum rates, default rate, and nests") {
    val d = docs(3000) // strata en/de/fr by i % 3, 1000 each
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val got = Sampling.mixtureSample(d, "lang", "doc_id", rates, defaultRate = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang.getOrElse("fr", 0) == 0) // default 0.0 drops the rest
    assert(byLang("en") > 1000 * 0.5 * 0.8 && byLang("en") < 1000 * 0.5 * 1.2)
    assert(byLang("de") > 1000 * 0.1 * 0.5 && byLang("de") < 1000 * 0.1 * 1.6)
    // nesting: halving a stratum's rate yields a subset
    val lower = Sampling.mixtureSample(d, "lang", "doc_id",
      Map("en" -> 0.25, "de" -> 0.1), defaultRate = 0.0)
      .collect().map(_.getLong(0)).toSet
    assert(lower.subsetOf(got.map(_._1).toSet))
    // mixture with a uniform map degenerates to hashSample
    val uni = Sampling.mixtureSample(d, "lang", "doc_id",
      Map("en" -> 0.2, "de" -> 0.2, "fr" -> 0.2))
      .collect().map(_.getLong(0)).sorted
    val plain = Sampling.hashSample(d, "doc_id", 0.2).collect().map(_.getLong(0)).sorted
    assert(uni.sameElements(plain))
  }

  test("packSequences matches a local greedy simulation and is parallelism-invariant") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = (0L until 400L).map(i => (i, Seq.fill(1 + rng.nextInt(50))("w").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val budget = 64
    val groups = 4
    val got = graft.corpus.Packing.packSequences(df, "doc_id", "text", budget, groups)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("grp"), r.getAs[Long]("pack_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("start_off"))))
      .toMap
    // ground truth: sequential greedy cumsum per hash stream, local Scala
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hv(id: Long): Long = java.lang.Long.parseLong(md5hex("pack" + id).take(15), 16) % 1000000L
    val expected = rows
      .map { case (id, text) => (id, text.split(" ", -1).length.toLong, hv(id)) }
      .groupBy { case (_, _, h) => (h % groups).toInt }
      .flatMap { case (grp, ds) =>
        var cum = 0L
        ds.sortBy { case (id, _, h) => (h, id) }.map { case (id, n, _) =>
          val start = cum
          cum += n
          id -> ((grp, start / budget, n, start))
        }
      }
    assert(got == expected)
    // identical layout regardless of input partitioning
    val got2 = graft.corpus.Packing.packSequences(df.repartition(7), "doc_id", "text", budget, groups)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("grp"), r.getAs[Long]("pack_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("start_off"))))
      .toMap
    assert(got2 == got)
  }

  test("quantize: max-abs element maps to ±127, roundtrip error <= scale/2") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f)),
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(3.14f))).toDF("vec_id", "embedding")
    val q = Quant.quantize(emb, "vec_id", "embedding")
    val rows = q.collect().map(r =>
      r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2).toVector)).toMap
    assert(rows(0L)._2.map(math.abs).max == 127)
    assert(rows(0L)._2(1) == -127)
    assert(rows(1L) == ((0.0, Vector(0, 0))))
    assert(rows(2L)._2 == Vector(127))
    // reconstruction error bound
    val deq = dequantize(q).select("vec_id", "vec_approx", "scale")
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Double](1).toVector, r.getDouble(2)))).toMap
    val orig = Map(0L -> Vector(0.5, -1.0, 0.25), 1L -> Vector(0.0, 0.0), 2L -> Vector(3.140000104904175))
    for ((id, (approx, scale)) <- deq; (a, o) <- approx.zip(orig(id)))
      assert(math.abs(a - o) <= scale / 2 + 1e-12, s"vec $id: $a vs $o (scale $scale)")
  }

  test("split: disjoint-exhaustive labels, stable under corpus growth") {
    import spark.implicits._
    val small = docs(500)
    val big = docs(2000)
    def labelsOf(d: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Sampling.split(d, "doc_id", Seq("train", "val", "test"), Seq(0.8, 0.1, 0.1))
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s1 = labelsOf(small)
    val s2 = labelsOf(big)
    // every row labeled, labels from the declared set
    assert(s1.size == 500 && s1.values.toSet.subsetOf(Set("train", "val", "test")))
    // membership stability: growing the corpus never relabels a doc
    for ((id, l) <- s1) assert(s2(id) == l, s"doc $id relabeled")
    // proportions near the weights on the larger corpus
    val frac = s2.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, frac.toString)
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.1) < 0.04)
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.1) < 0.04)
    // un-normalized weights normalize: (2,1,1) == (0.5,0.25,0.25)
    val a = Sampling.split(small, "doc_id", Seq("a", "b", "c"), Seq(2, 1, 1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.split(small, "doc_id", Seq("a", "b", "c"), Seq(0.5, 0.25, 0.25))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("budget selection keeps the greedy score-ranked prefix, no back-fill") {
    import spark.implicits._
    import graft.corpus.BudgetSelect
    // (id, tokens, score): ranked by (score desc, id asc) ->
    // 1(50), 5(40), 3(30), 2(100), 4(10); budget 150 keeps 50+40+30=120,
    // doc 2 overflows (220) and doc 4 (10 tokens, WOULD fit) must NOT
    // back-fill past the overflow
    val d = Seq(
      (1L, 50L, 9), (2L, 100L, 5), (3L, 30L, 7), (4L, 10L, 3), (5L, 40L, 9))
      .toDF("doc_id", "n_tokens", "score")
    val got = BudgetSelect.selectUnderBudget(d, "doc_id", "n_tokens", "score", 150L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 50L, 5L -> 90L, 3L -> 120L))
    // tiebreak: equal scores order by id, so doc 1 accumulates first
    assert(got(1L) < got(5L))
    // degenerate budgets: zero keeps nothing, huge keeps everything
    assert(BudgetSelect.selectUnderBudget(d, "doc_id", "n_tokens", "score", 0L).isEmpty)
    assert(BudgetSelect.selectUnderBudget(d, "doc_id", "n_tokens", "score", 1000000L)
      .count() == 5)
  }

  test("chunking: full coverage, exact overlap, lossless reconstruction") {
    import spark.implicits._
    import graft.corpus.Chunking
    val words = (0 until 103).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, words),                         // multi-chunk
      (2L, "a b c"),                       // shorter than maxTokens
      (3L, (0 until 40).map(i => s"x$i").mkString(" ")), // exactly maxTokens
      (4L, "")).toDF("doc_id", "text")     // empty text = one "" token
    val out = Chunking.chunk(d, "doc_id", "text", maxTokens = 40, overlap = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2) }

    // short docs: exactly one chunk, the doc itself
    assert(out(2L).map(c => (c._3, c._4)).toSeq == Seq(("a b c", 3)))
    assert(out(3L).length == 1 && out(3L).head._4 == 40)
    assert(out(4L).map(c => (c._3, c._4)).toSeq == Seq(("", 1)))

    // 103 tokens, stride 32: starts 0,32,64 (96 > 103-8-1 = 94); the
    // final chunk [64,103) clamps to 39 tokens and closes coverage
    val chunks = out(1L)
    assert(chunks.map(_._2).toSeq == Seq(0, 1, 2))
    assert(chunks.last._4 == 39)
    val covered = chunks.flatMap { case (_, idx, _, n) =>
      val start = idx * 32; start until (start + n)
    }.toSet
    assert(covered == (0 until 103).toSet, s"coverage gap: ${chunks.map(_._2)}")
    // consecutive chunks overlap by exactly `overlap` tokens (except a
    // clamped final chunk, which still starts stride apart)
    for (Array(a, b) <- chunks.sliding(2)) {
      assert(b._2 == a._2 + 1)
      val aToks = a._3.split(" ", -1)
      val bToks = b._3.split(" ", -1)
      assert(aToks.takeRight(8).sameElements(bToks.take(8)),
        s"overlap mismatch between chunk ${a._2} and ${b._2}")
    }
    // lossless: chunk 0 plus each later chunk minus its overlap prefix
    // reconstructs the original token stream
    val rebuilt = chunks.head._3.split(" ", -1) ++
      chunks.tail.flatMap(_._3.split(" ", -1).drop(8))
    assert(rebuilt.mkString(" ") == words)
  }

  test("decontaminate flags eval overlap and drops only flagged docs") {
    import spark.implicits._
    import graft.corpus.Decontaminate
    val benchPassage = "the quick brown fox jumps over the lazy dog"
    val bench = Seq((100L, s"eval question about $benchPassage indeed"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark passage verbatim -> contaminated
      (1L, s"some page copying $benchPassage plus unrelated tail words"),
      // repeats the passage twice: distinct hit count must not double
      (2L, s"$benchPassage and again $benchPassage"),
      // clean
      (3L, "completely different words entirely unrelated content here now"),
      // shorter than n tokens -> no shingles, never flagged
      (4L, "tiny doc")).toDF("doc_id", "text")

    val hits = Decontaminate.contaminationHits(
        corpus, bench, "doc_id", "text", "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L, 2L))
    // doc 2's repeated passage yields the same distinct shingles as one
    // occurrence embedded mid-sentence yields at most (extra join words
    // add a few) — the guard is: counting is DISTINCT, so the doubled
    // text does not double the hit count relative to its distinct set
    val passageShingleCount = 9 - 5 + 1 // 9-token passage, 5-gram windows
    assert(hits(1L) >= passageShingleCount)
    assert(hits(2L) >= passageShingleCount && hits(2L) <= passageShingleCount + 4)

    // minHits raises the bar: at an impossibly high threshold nothing is
    // flagged and decontaminate keeps everything
    assert(Decontaminate.contaminationHits(
      corpus, bench, "doc_id", "text", "doc_id", "text",
      n = 5, minHits = 1000).isEmpty)

    val clean = Decontaminate.decontaminate(
        corpus, bench, "doc_id", "text", "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.sameElements(Array(3L, 4L)))
  }
}
