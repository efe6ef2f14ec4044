package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.media.Media
import graft.textops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators: dedup family, ANN, text analysis,
  * multimodal stubs.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("simhash: identical texts collide, near texts are near, far are far") {
    val a = TextOps.simhash64("the quick brown fox jumps over the lazy dog")
    val b = TextOps.simhash64("the quick brown fox jumps over the lazy dog")
    val c = TextOps.simhash64("the quick brown fox jumps over the lazy cat")
    val d = TextOps.simhash64("completely different words entirely unrelated content here")
    assert(a == b)
    assert(TextOps.hammingDistance(a, c) < TextOps.hammingDistance(a, d))
  }

  test("exact dedup groups duplicates under one checksum") {
    val df = docsDf(
      (1L, "same text"), (2L, "Same Text"), (3L, "other text"))
    val got = Dedup.exactGroups(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("keep_id") == 1L && got(0).getAs[Long]("n_dupes") == 2L)
    assert(got(1).getAs[Long]("keep_id") == 3L && got(1).getAs[Long]("n_dupes") == 1L)
  }

  test("ngram jaccard finds the near-duplicate pair only") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val near = base + " kilo" // high shingle overlap
    val far = "one two three four five six seven eight nine ten"
    val got = Dedup.ngramJaccardPairs(
      docsDf((1L, base), (2L, near), (3L, far)),
      "doc_id", "text", n = 3, threshold = 0.5).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("id_a") == 1L && got(0).getAs[Long]("id_b") == 2L)
    assert(got(0).getAs[Double]("jaccard") > 0.7)
  }

  test("minhash near-dups: dup pair found, unrelated pair absent") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 3
    val far = "uno dos tres cuatro cinco seis siete ocho nueve diez " * 3
    val got = Dedup.minhashNearDups(
      docsDf((1L, base), (2L, base), (3L, far), (4L, far + "extra ")),
      "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
  }

  test("minhash bucket cap: dropped buckets are auditable, not silent") {
    // 5 identical docs saturate every band's bucket; with cap=4 all
    // their pairs vanish from the candidate set — the audit must say so
    val txt = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 3
    val df = docsDf((1L to 5L).map(i => (i, txt)): _*)
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", n = 3, k = 64)
    val dropped = Dedup.minhashDroppedBuckets(sigs, 16, 4, maxBucketSize = 4).collect()
    assert(dropped.length == 16, s"every band's bucket is over-cap: $dropped")
    assert(dropped.forall(_.getAs[Long]("bsz") == 5L))
    assert(Dedup.minhashCandidates(sigs, 16, 4, maxBucketSize = 4).count() == 0)
    // under-cap: no drops, all 10 pairs
    assert(Dedup.minhashDroppedBuckets(sigs, 16, 4, maxBucketSize = 10).isEmpty)
    assert(Dedup.minhashCandidates(sigs, 16, 4, maxBucketSize = 10).count() == 10)
  }

  test("ngram/simhash caps are auditable, not silent") {
    val txt = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val df = docsDf((1L to 4L).map(i => (i, txt)): _*)
    // every shingle appears in 4 docs -> all dropped at cap 3, none at 5
    val dropped = Dedup.ngramDroppedShingles(df, "doc_id", "text", n = 3, maxShingleDf = 3)
    assert(dropped.collect().forall(_.getAs[Long]("df") == 4L) && dropped.count() == 8)
    assert(Dedup.ngramDroppedShingles(df, "doc_id", "text", n = 3, maxShingleDf = 5).isEmpty)
    // identical fingerprints: all 4 chunk buckets hold 4 members
    val sDropped = Dedup.simhashDroppedBuckets(spark, df, "doc_id", "text", maxBucketSize = 3)
    assert(sDropped.count() == Dedup.SimhashChunks)
    assert(sDropped.collect().forall(_.getAs[Long]("bsz") == 4L))
    assert(Dedup.simhashDroppedBuckets(spark, df, "doc_id", "text", maxBucketSize = 4).isEmpty)
  }

  test("Parallelize.bySplits spreads under-split plans and elides well-split ones") {
    import spark.implicits._
    val single = (1L to 100L).toDF("id").coalesce(1)
    val spread = graft.Parallelize.bySplits(single, "id")
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(spread.as[Long].collect().sorted.toSeq == (1L to 100L))
    val wide = (1L to 100L).toDF("id").repartition(spark.sparkContext.defaultParallelism * 2)
    assert(graft.Parallelize.bySplits(wide, "id").rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism * 2)
    assert(graft.Parallelize.bySplits(single, "id", factor = 3).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism * 3)
  }

  test("simhash near-dups via chunk banding + hamming verify") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val got = Dedup.simhashNearDups(spark,
      docsDf((1L, base), (2L, base), (3L, "totally different content with many other words involved")),
      "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "hamming").collect()
    assert(got.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
    assert(!got.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("simhash60 expression == independent md5 reference (incl. unicode, empties)") {
    import org.apache.spark.unsafe.types.UTF8String
    def ref(text: String): Long = {
      val votes = new Array[Int](60)
      for (tok <- text.split(" ", -1)) {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
        val h = java.lang.Long.parseLong(hex, 16)
        for (b <- 0 until 60) if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
      (0 until 60).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val samples = Seq("", " ", "a", "a b", "  double  spaces ", "的 是 了 mixed unicode",
      "the quick brown fox", "x " * 40)
    for (s <- samples)
      assert(graft.functions.Simhash60Expr.evalStatic(UTF8String.fromString(s)) == ref(s), s"'$s'")
    // and through the DataFrame surface
    val got = Dedup.simhashes(spark, docsDf((7L, "the quick brown fox")), "doc_id", "text")
      .collect()
    assert(got(0).getLong(0) == 7L && got(0).getLong(1) == ref("the quick brown fox"))
  }

  test("md5hash60 native expression == SQL conv(substr(md5)) form, bit for bit") {
    import org.apache.spark.sql.functions.col
    val samples = Seq("", " ", "a", "alpha bravo charlie", "的是了 unicode",
      "salt:12345", "x" * 200, "tab\tand\nnewline", "trailing space ")
    val df = spark.createDataFrame(samples.map(Tuple1(_))).toDF("s")
      .select(col("s"),
        graft.PortableHash.md5Hash60(col("s")).as("native"),
        graft.PortableHash.md5Hash60Sql(col("s")).as("sql"))
      .collect()
    for (r <- df)
      assert(r.getLong(1) == r.getLong(2), s"mismatch for '${r.getString(0)}'")
  }

  test("shinglesOfText native expression == shingleArray(tokens) HOF form") {
    import org.apache.spark.sql.functions.col
    val samples = Seq("", " ", "  ", "a", "a b", "a b c", "a  b  c d",
      " leading", "trailing ", "的 是 了 unicode mixed in", "a b c d e f g h i",
      "double  space inside run", "x " * 30 + "tail")
    for (n <- Seq(1, 2, 3, 4, 8)) {
      val df = spark.createDataFrame(samples.map(Tuple1(_))).toDF("s")
        .select(col("s"),
          graft.textops.TextOps.shinglesOfText(col("s"), n).as("native"),
          graft.textops.TextOps.shingleArray(
            graft.textops.TextOps.tokens(col("s")), n).as("hof"))
        .collect()
      for (r <- df)
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n text='${r.getString(0)}'")
    }
    // null text maps to an empty array in both formulations
    val nullRow = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(null: String))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.StringType, nullable = true))))
      .select(
        graft.textops.TextOps.shinglesOfText(col("s"), 3).as("native"),
        graft.textops.TextOps.shingleArray(
          graft.textops.TextOps.tokens(col("s")), 3).as("hof"))
      .collect().head
    assert(nullRow.getSeq[String](0) == Seq.empty && nullRow.getSeq[String](1) == Seq.empty)
  }

  test("dot_fold native expression == aggregate(sequence) HOF, bit for bit") {
    import org.apache.spark.sql.functions.{col, expr}
    import scala.util.Random
    val rng = new Random(424242L)
    val rows = (0 until 40).map { i =>
      (i.toLong,
        Array.fill(64)(rng.nextFloat() * 2f - 1f),
        Array.fill(64)(rng.nextDouble() * 2 - 1))
    }
    import spark.implicits._
    val df = rows.toDF("id", "fv", "dv")
    def nat(a: String, b: String) = org.apache.spark.sql.graft.PlanBridge.column(
      graft.functions.DotFoldExpr(
        org.apache.spark.sql.graft.PlanBridge.expression(col(a)),
        org.apache.spark.sql.graft.PlanBridge.expression(col(b))))
    val got = df.select(col("id"),
        nat("fv", "fv").as("n_ff"),
        expr("aggregate(sequence(1, size(fv)), 0.0D, (acc, i) -> " +
          "acc + cast(element_at(fv, i) as double) * " +
          "cast(element_at(fv, i) as double))").as("h_ff"),
        nat("fv", "dv").as("n_fd"),
        expr("aggregate(sequence(1, size(fv)), 0.0D, (acc, i) -> " +
          "acc + cast(element_at(fv, i) as double) * element_at(dv, i))").as("h_fd"),
        nat("dv", "dv").as("n_dd"),
        expr("aggregate(sequence(1, size(dv)), 0.0D, (acc, i) -> " +
          "acc + element_at(dv, i) * element_at(dv, i))").as("h_dd"))
      .collect()
    for (r <- got; c <- Seq(1 -> 2, 3 -> 4, 5 -> 6))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(c._1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(c._2)),
        s"id=${r.getLong(0)} cols $c")
  }

  test("minhash native expression == explode + groupBy aggregate form") {
    import org.apache.spark.sql.functions.col
    import scala.util.Random
    // tiny alphabet => repeated shingles, exercising the multiset-min
    // == set-min claim; edge docs cover absent-group semantics
    val rng = new Random(20260822L)
    val docs = (0 until 12).map { id =>
      val nTok = rng.nextInt(30)
      (id.toLong, (0 until nTok).map(_ =>
        "ab"(rng.nextInt(2)).toString * (1 + rng.nextInt(2))).mkString(" "))
    } ++ Seq((100L, ""), (101L, " "), (102L, "one two"), (103L, "a a a a a a"))
    val df = docsDf(docs: _*)
    for ((n, k) <- Seq((3, 8), (1, 4), (4, 16))) {
      def rows(d: DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
      val native = rows(Dedup.minhashSignatures(df, "doc_id", "text", n, k))
      val agg = rows(Dedup.minhashSignaturesAgg(df, "doc_id", "text", n, k))
      assert(native == agg, s"n=$n k=$k")
    }
    // null text behaves like the absent group
    val nullDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(5L, null: String))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true))))
    assert(Dedup.minhashSignatures(nullDf, "doc_id", "text", 3, 4).count() == 0)
  }

  test("shingles: a doc with fewer than n tokens yields zero shingles") {
    val got = Dedup.shingles(
      docsDf((1L, "just two"), (2L, "exactly three tokens"), (3L, "one")),
      "doc_id", "text", n = 3).collect()
    // doc 2 has exactly n tokens -> one shingle; docs 1 and 3 none (the
    // round-1 greatest() clamp emitted a null-padded partial shingle,
    // diverging from the relational oracle)
    assert(got.length == 1)
    assert(got(0).getLong(0) == 2L && got(0).getString(1) == "exactly three tokens")
  }

  test("simhash near-dups: over-cap buckets are dropped, not exploded") {
    // 300 identical docs: one shared fingerprint -> every chunk bucket
    // holds all 300 ids; uncapped that is 4 * C(300,2) ~ 180k join rows
    val clones = (1L to 300L).map(i => (i, "identical mass duplicate text body"))
    val capped = Dedup.simhashNearDups(spark,
      docsDf(clones: _*), "doc_id", "text", maxDist = 3, maxBucketSize = 100)
    assert(capped.count() == 0, "over-cap buckets must be dropped entirely")
    // near pairs in small buckets still come through under the cap
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val mixed = Dedup.simhashNearDups(spark,
      docsDf(((1L, base) +: (2L, base) +: clones.map { case (i, t) => (i + 10L, t) }): _*),
      "doc_id", "text", maxDist = 3, maxBucketSize = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mixed == Set((1L, 2L)))
  }

  test("brute-force cosine top-k: exact ranks on a known geometry") {
    import spark.implicits._
    // 2-d embeddings: q=(1,0); a=(1,0.1) closest, b=(1,1), c=(-1,0) farthest
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.1f)),
      (2L, Seq(1.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Ann.bruteForceTopK(df, "vec_id", "embedding", Seq(0L), k = 3)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(got(0).getAs[Double]("sim") > 0.99)
    assert(got(2).getAs[Double]("sim") < -0.99)
  }

  test("LSH top-k returns exact-cosine-consistent ranks over its candidates") {
    val emb = spark.read.parquet(s"${TestData.Sf0001}/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    val lsh = Ann.lshTopK(spark, emb, "vec_id", "embedding", qids, k = 5)
      .collect()
    assert(lsh.nonEmpty)
    // determinism
    val again = Ann.lshTopK(spark, emb, "vec_id", "embedding", qids, k = 5).collect()
    assert(lsh.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
    // per query: ranks are 1..n without gaps and sims non-increasing
    lsh.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("cosine near-dup pairs are symmetric-free and thresholded") {
    val emb = spark.read.parquet(s"${TestData.Sf0001}/embeddings.parquet")
    val got = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", 0.3, maxId = 200).collect()
    assert(got.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(got.forall(_.getAs[Double]("sim") >= 0.3))
  }

  test("langId picks the dominant marker profile") {
    val df = docsDf(
      (1L, "the cat and the dog is a friend of the house"),
      (2L, "der hund und die katze ist das tier und der vogel"),
      (3L, "xyzzy plugh qwerty"))
    val got = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "und")
  }

  test("KMV sketch: exact below k, within ~3 standard errors above k") {
    import spark.implicits._
    // group "small": 50 distinct values (< k) -> exact; group "big":
    // 20000 distinct -> estimate within 3/sqrt(k-2) relative error
    val rows = (1 to 50).map(i => ("small", s"v$i")) ++
      (1 to 20000).map(i => ("big", s"w$i")) ++
      (1 to 500).map(i => ("big", s"w$i")) ++ // duplicates must not inflate
      Seq(("small", null: String), ("big", null: String)) // nulls excluded
    val got = graft.operators.Kmv.distinctPerGroup(
        rows.toDF("grp", "v"), "grp", "v", k = 200)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("small") == 50.0)
    val relErr = math.abs(got("big") - 20000.0) / 20000.0
    assert(relErr < 3.0 / math.sqrt(198.0), s"estimate ${got("big")} off by $relErr")
  }

  test("range join: bucketed equi-join == brute-force containment, incl. boundaries") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val points = (0 until 300).map(i => (i.toLong, rng.nextDouble() * 40 - 20))
      .toDF("p_id", "x")
    val intervals = (0 until 80).map { i =>
      val lo = rng.nextDouble() * 40 - 22
      (1000L + i, lo, lo + rng.nextDouble() * 6)
    }.toDF("iv_id", "lo", "hi")
    val got = graft.operators.RangeJoin.pointInInterval(points, "x", intervals, "lo", "hi", 2.5)
      .select("p_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = points.crossJoin(intervals)
      .filter(col("x") >= col("lo") && col("x") <= col("hi"))
      .select("p_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
    // closed-interval boundaries land inside
    val b = graft.operators.RangeJoin.pointInInterval(
      Seq((1L, 5.0), (2L, 7.0), (3L, 4.999)).toDF("p_id", "x"),
      "x", Seq((9L, 5.0, 7.0)).toDF("iv_id", "lo", "hi"), "lo", "hi", 2.0)
      .select("p_id").collect().map(_.getLong(0)).toSet
    assert(b == Set(1L, 2L))
  }

  test("range join: inverted intervals (lo > hi) are dropped before the explode") {
    import spark.implicits._
    // sequence(lo_bucket, hi_bucket) with lo > hi would generate a
    // DESCENDING bucket list and fan the bad row out to spurious
    // candidates; the guard keeps output identical (no point is inside
    // an inverted closed interval) and cost bounded
    val points = Seq((1L, 5.0), (2L, 7.0)).toDF("p_id", "x")
    val intervals = Seq((9L, 4.0, 8.0), (10L, 100.0, -100.0)).toDF("iv_id", "lo", "hi")
    val got = graft.operators.RangeJoin.pointInInterval(
        points, "x", intervals, "lo", "hi", 2.0)
      .select("p_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 9L), (2L, 9L)))
  }

  test("media: resize/frameSample branch on payload bytes, not metadata format") {
    import spark.implicits._
    // a real PNG payload MISLABELED as mp4 must keep its image bytes:
    // resize re-encodes the image (not a synthesized stub container),
    // frameSample passes the still through as its single frame
    val mislabeled = Media.MediaBlob(11L, "media://11/0", "mp4", 40, 30, 6,
      Media.encodeImage(11L, 40, 30, "png"))
    val resized = Media.resize(spark.createDataset(Seq(mislabeled)), 32, 32).collect().head
    val (w, h, f, fmt, ok) = Media.decodeBytes(resized.content)
    assert((w, h, f, fmt, ok) == ((32, 32, 1, "png", true)))
    val frames = Media.frameSample(spark.createDataset(Seq(mislabeled)), 1).collect()
    assert(frames.length == 1 && frames.head.content.sameElements(mislabeled.content))
  }

  test("connected components: superseded round checkpoints are unpersisted") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    // an 18-node path graph forces several pointer-jumping rounds
    val pairs = (0L until 17L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
    assert(cc.forall(_.getAs[Long]("cluster_id") == 0L))
    // storage holds O(1) frames (edges + final frontier), not one per
    // round — every superseded frontier/relax checkpoint was dropped
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 3, s"leaked checkpointed frames: $before -> $after")
  }

  test("minhash near-dups: sigs cached across reads, released by the eager wrapper") {
    val docs = docsDf(
      (1L, "aaaa bbbb cccc dddd"), (2L, "aaaa bbbb cccc eeee"), (3L, "zzzz yyyy"))
    // inside the signature scope the pair plan reads the cached frame
    // at its three consumers (banding + both re-attach sides)
    val plan = Rounds.cached(Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64)) { sigs =>
      Dedup.minhashPairs(sigs, 64, 16, 0.7).queryExecution.executedPlan.toString
    }
    val cachedReads = "InMemoryTableScan".r.findAllIn(plan).length
    assert(cachedReads >= 3, s"expected >=3 cached sig reads, got $cachedReads:\n$plan")
    // eager wrapper: materializes the (small) pair set, then releases
    // the signature cache — a lazy caller must not leak one
    // corpus-sized cached frame per invocation
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val dupDocs = docsDf(
      (1L, "aaaa bbbb cccc dddd"), (2L, "aaaa bbbb cccc dddd"), (3L, "zzzz yyyy"))
    val df = Dedup.minhashNearDups(dupDocs, "doc_id", "text")
    assert(df.count() == 1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked ${leaked.size} persistent RDDs (want just the pair checkpoint)")
  }

  test("substring dedup: shared passage found at both offsets, merged maximal") {
    import graft.dedup.Substring
    // a 6-token passage shared by docs 1 and 2 at different offsets;
    // doc 3 is too short to window; straddling windows are unique so
    // the merged span is exactly the passage
    val docs = docsDf(
      (1L, "a b c d p1 p2 p3 p4 p5 p6 e f"),
      (2L, "p1 p2 p3 p4 p5 p6 z y w v"),
      (3L, "q r s"))
    val got = Substring.duplicatePassages(docs, "doc_id", "text",
        windowTokens = 4, minDocFreq = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("dup_group"),
        r.getAs[Long]("n_windows")))
    assert(got.length == 2)
    val byDoc = got.map(r => r._1 -> r).toMap
    // doc 1: passage tokens 4..9 -> windows start 4,5,6 -> span [4,10)
    assert((byDoc(1L)._2, byDoc(1L)._3, byDoc(1L)._5) == ((4L, 10L, 3L)))
    // doc 2: same passage at offset 0 -> span [0,6)
    assert((byDoc(2L)._2, byDoc(2L)._3, byDoc(2L)._5) == ((0L, 6L, 3L)))
    // identical passages share the dup_group fingerprint
    assert(byDoc(1L)._4 == byDoc(2L)._4)
    // cap audit: with maxDocFreq=1 every df>=2 anchor is reported
    val dropped = Substring.droppedAnchors(docs, "doc_id", "text",
      windowTokens = 4, maxDocFreq = 1).collect()
    assert(dropped.length == 3 && dropped.forall(_.getAs[Long]("df") == 2L))
    // and with the cap at 1 the passages disappear rather than silently
    // surviving via a different path
    assert(Substring.duplicatePassages(docs, "doc_id", "text",
      windowTokens = 4, minDocFreq = 2, maxDocFreq = 1).isEmpty)
  }

  test("asofJoin: latest right at-or-before, right-at-tie matches, no-match is null") {
    import spark.implicits._
    val left = Seq((100L, 1L, 10L), (101L, 1L, 5L), (102L, 2L, 7L), (103L, 3L, 1L))
      .toDF("event_id", "user_id", "sec")
    val right = Seq((200L, 1L, 5L), (201L, 1L, 5L), (202L, 1L, 9L), (203L, 2L, 8L))
      .toDF("event_id", "user_id", "sec")
      // a null-time right must never match (SQL: NULL <= t is never true)
      .unionByName(Seq((204L, 3L)).toDF("event_id", "user_id")
        .withColumn("sec", lit(null).cast("long"))
        .select("event_id", "user_id", "sec"))
    val got = graft.operators.AsOf.asofJoin(left, right,
        "user_id", "sec", "event_id", "event_id", "matched")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    assert(got(100L) == Some(202L)) // latest of {5,5,9} <= 10
    assert(got(101L) == Some(201L)) // tie at sec=5: right matches at-or-before, max tiebreak
    assert(got(102L) == None)       // user 2's only view is later (8 > 7)
    assert(got(103L) == None)       // user 3's only view has a null time
  }

  test("repetitionScore: 0 for unique text, high for loops, 0 for tiny docs") {
    val df = docsDf(
      (1L, "a b c d e f g h"),      // 6 shingles, all distinct -> 0.0
      (2L, "x y z x y z x y z"),    // 7 shingles, 3 distinct -> 4/7
      (3L, "one two"))              // < n tokens -> no shingles -> 0.0
    val got = df.select(col("doc_id"), TextOps.repetitionScore(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    assert(math.abs(got(2L) - 4.0 / 7.0) < 1e-12)
    assert(got(3L) == 0.0)
  }

  test("scrubPii replaces URLs then emails, leaves clean text alone") {
    val df = docsDf(
      (1L, "mail me at a.b+c@ex-ample.org or see https://x.y/z?q=1#f now"),
      (2L, "ftp://not.scrubbed and no at signs"),
      (3L, "user@sub.domain.co embedded https://u:p@host/p"))
    val got = df.select(col("doc_id"), TextOps.scrubPii(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail me at <EMAIL> or see <URL> now")
    assert(got(2L) == "ftp://not.scrubbed and no at signs")
    // the URL pass consumes the credentialed URL before the email pass
    assert(got(3L) == "<EMAIL> embedded <URL>")
  }

  test("winnowing: shared-run guarantee, 1/w density, rightmost tiebreak") {
    import graft.dedup.Winnow
    val shared = "alpha bravo charlie delta echo foxtrot golf" // 7 = w+k-1
    val df = docsDf(
      (1L, s"one two three $shared four five six"),
      (2L, s"nine eight $shared seven ten eleven twelve"),
      (3L, "totally disjoint words with nothing in common here at all"),
      (4L, "too short"), // < k tokens -> no fingerprints
      (5L, "rep rep rep rep rep rep rep rep")) // all shingles identical
    val fps = Winnow.fingerprints(df, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)

    // the SIGMOD-2003 guarantee: a shared run of >= w+k-1 tokens means
    // at least one shared fingerprint; the disjoint doc shares none
    val f1 = fps(1L).map(_._3).toSet
    val f2 = fps(2L).map(_._3).toSet
    val f3 = fps(3L).map(_._3).toSet
    assert((f1 & f2).nonEmpty)
    assert((f1 & f3).isEmpty && (f2 & f3).isEmpty)
    assert(!fps.contains(4L))

    // density/coverage: consecutive selected positions are at most w
    // apart (every window contributed a selection)
    for ((_, rows) <- fps; ps = rows.map(_._2).distinct.sorted)
      for (Array(a, b) <- ps.sliding(2)) assert(b - a <= 4, s"gap $a -> $b")

    // all-equal hashes: rightmost tiebreak selects pos j + w - 1 per
    // window -> positions {w-1 .. m-1} exactly (m = 5 shingles of doc 5)
    assert(fps(5L).map(_._2).toSet == Set(3, 4))
    assert(fps(5L).map(_._3).toSet.size == 1)
  }

  test("semantic dedup: eps-groups keep min-id representative, cap audited") {
    import spark.implicits._
    import graft.ann.Ivf
    // two tight pairs along different axes plus two far-off singletons
    val emb = Seq(
      (0L, Seq(1.0, 0.01, 0.0, 0.0)),
      (1L, Seq(0.99, 0.0, 0.01, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.01)),
      (3L, Seq(0.01, 0.99, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 0.0)),
      (5L, Seq(0.0, 0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    val got = Ivf.semanticDedup(spark, emb, "vec_id", "embedding",
        eps = 0.9, nList = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((0L, 0L, true), (1L, 0L, false), (2L, 2L, true), (3L, 2L, false)))
    // an over-cap cluster drops whole (no pairs survive) and the audit
    // reports its size
    val capped = Ivf.semanticDedup(spark, emb, "vec_id", "embedding",
      eps = 0.9, nList = 1, iters = 1, maxClusterSize = 5)
    assert(capped.isEmpty)
    val dropped = Ivf.droppedClusters(spark, emb, "vec_id", "embedding",
        nList = 1, iters = 1, maxClusterSize = 5)
      .collect().map(r => r.getLong(1))
    assert(dropped.sameElements(Array(6L)))
  }

  test("winnow candidate pairs: passage-sharers found, cap drops hot fps") {
    import graft.dedup.Winnow
    // 20 shared tokens -> 17 run hashes -> 14 interior windows, whose
    // sliding mins change several times: comfortably >= 2 distinct
    // shared fingerprints per sharing pair
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val df = docsDf(
      (1L, s"one two three four $shared five six seven"),
      (2L, s"nine eight $shared ten eleven twelve thirteen"),
      (3L, "totally disjoint words with nothing in common here at all"),
      (4L, s"more prose around $shared and then some"))
    val fps = Winnow.fingerprints(df, "doc_id", "text", k = 4, w = 4)
    val pairs = Winnow.candidatePairs(fps, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all three passage-sharers pair with each other; the disjoint doc
    // pairs with nobody
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // a cap of 2 drops the fingerprints shared by all three docs; the
    // audit reports exactly those
    val capped = Winnow.candidatePairs(fps, minShared = 2, maxFpFreq = 2)
    assert(capped.isEmpty)
    val dropped = Winnow.droppedFingerprints(fps, maxFpFreq = 2).collect()
    assert(dropped.nonEmpty && dropped.forall(_.getLong(1) == 3L),
      "dropped set must be exactly the fps selected by all three sharers")
  }

  test("scrubPii phone and IP branches: formats hit, embedded digits spared") {
    val df = docsDf(
      (1L, "call +1 (555) 010-4477 or 555-010-4477 today"),
      (2L, "server at 10.20.30.42 port open"),
      (3L, "build20261 has 5550104477890 digits and v1.2.3 tags"),
      (4L, "http://10.0.0.1/admin then ping 10.0.0.1"),
      (5L, "raw 5550104477 run"))
    val got = df.select(col("doc_id"), TextOps.scrubPii(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // both +CC and bare 10-digit formats scrub
    assert(got(1L) == "call <PHONE> or <PHONE> today")
    assert(got(2L) == "server at <IP> port open")
    // word boundaries: digits inside alphanumerics and over-long runs
    // stay; dotted version tags are not 4-octet IPs
    assert(got(3L) == "build20261 has 5550104477890 digits and v1.2.3 tags")
    // an IP inside a URL scrubs as the URL; the bare one as an IP
    assert(got(4L) == "<URL> then ping <IP>")
    // an unseparated 10-digit run is still a phone (boundary-delimited)
    assert(got(5L) == "raw <PHONE> run")
  }

  test("token counts and bpe estimate") {
    val df = docsDf((1L, "one two three"))
    assert(df.select(TextOps.tokenCount(col("text"))).head().getLong(0) == 3L)
    // ceil(3/4)+ceil(3/4)+ceil(5/4) = 1+1+2 = 4
    assert(df.select(TextOps.bpeTokenEstimate(col("text"))).head().getLong(0) == 4L)
  }

  test("media: binary round-trip decodes REAL image bytes at sf0.001") {
    val blobs = Media.synthesize(spark, TestData.Sf0001)
    val decoded = Media.decode(blobs).collect()
    assert(decoded.length == 500)
    assert(decoded.forall(_.getAs[Boolean]("decode_ok")))
    // doc 7: jpg still image — dims from the actual ImageIO decode,
    // exactly one frame
    val r7 = decoded.find(_.getAs[Long]("doc_id") == 7L).get
    assert(r7.getAs[Int]("width") == 64 && r7.getAs[Int]("height") == 112)
    assert(r7.getAs[Int]("n_frames") == 1 && r7.getAs[String]("format") == "jpg")
    // doc 5: mp4 container — frame count parsed from its stts box
    val r5 = decoded.find(_.getAs[Long]("doc_id") == 5L).get
    assert(r5.getAs[Int]("n_frames") == 6 && r5.getAs[String]("format") == "mp4")
  }

  test("media: mp4 payloads are real ISO BMFF — box walk, not offset peeking") {
    import graft.media.Mp4
    val b = Mp4.encode(42L, 320, 240, 7)
    // total size honors the SQL-expressible contract
    assert(b.length == Mp4.HeaderBytes + math.min(1024, 320 * 240 / 64))
    // leading ftyp with isom brand — what any demuxer checks first
    assert(new String(b, 4, 4, "US-ASCII") == "ftyp")
    assert(new String(b, 8, 4, "US-ASCII") == "isom")
    assert(Media.sniffFormat(b) == "mp4")
    // parse recovers dims (tkhd 16.16 fixed) and frames (stts samples)
    assert(Mp4.parse(b).contains((320, 240, 7)))
    assert(Media.decodeBytes(b) == ((320, 240, 7, "mp4", true)))
    // fail closed: truncation and a misdeclared box size both reject
    assert(Mp4.parse(b.take(100)).isEmpty)
    val corrupt = b.clone()
    corrupt(24) = 0x7F.toByte // moov size declared far beyond the buffer
    assert(Mp4.parse(corrupt).isEmpty)
    assert(Media.decodeBytes(corrupt)._5 == false)
    // resize re-encodes the container with target track dims, same stts
    import spark.implicits._
    val blob = Media.MediaBlob(42L, "media://42/0", "mp4", 320, 240, 7, b)
    val rz = Media.resize(spark.createDataset(Seq(blob)), 64, 48).collect().head
    assert(Mp4.parse(rz.content).contains((64, 48, 7)))
  }

  test("media: image payloads are genuine PNG/JPEG, format sniffed from magic") {
    // local (non-Spark) codec checks: real bytes in, decoder-read dims out
    val png = Media.encodeImage(3L, 40, 30, "png")
    val jpg = Media.encodeImage(4L, 50, 20, "jpg")
    assert(Media.sniffFormat(png) == "png" && Media.sniffFormat(jpg) == "jpg")
    assert(Media.decodeBytes(png) == ((40, 30, 1, "png", true)))
    assert(Media.decodeBytes(jpg) == ((50, 20, 1, "jpg", true)))
    // corrupt payload: decode fails closed, does not throw
    assert(Media.decodeBytes(png.take(10)) == ((-1, -1, -1, "invalid", false)))
    assert(Media.decodeBytes(Array.fill[Byte](64)(0x5a)) == ((-1, -1, -1, "invalid", false)))
  }

  test("media: pooled JPEG plumbing is byte-identical to stock ImageIO") {
    // the per-thread writer + memory-cached streams must change only
    // scratch I/O, never the encoded stream: re-encode the exact source
    // raster (recovered losslessly from the PNG twin) through stock
    // ImageIO.write and compare bytes; then decode both ways and
    // compare every pixel
    for (id <- Seq(1L, 4L, 7L)) {
      val w = Media.widthOf(id); val h = Media.heightOf(id)
      val fastJpg = Media.encodeImage(id, w, h, "jpg")
      val srcRaster = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Media.encodeImage(id, w, h, "png")))
      val rgb = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      rgb.createGraphics().drawImage(srcRaster, 0, 0, null)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(rgb, "jpg", baos)
      assert(java.util.Arrays.equals(fastJpg, baos.toByteArray),
        s"JPEG bytes diverged from stock ImageIO for id=$id")
      val stock = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fastJpg))
      val pooled = Media.decodeImage(fastJpg)
      assert(Media.decodeBytes(fastJpg) == ((w, h, 1, "jpg", true)))
      assert((0 until h).forall(y => (0 until w).forall(x =>
        (stock.getRGB(x, y) & 0xFFFFFF) == (pooled.getRGB(x, y) & 0xFFFFFF))),
        s"pooled JPEG reader pixels diverged from stock ImageIO.read for id=$id")
    }
  }

  test("media: the JPEG path leaves ImageIO's global cache flag alone") {
    // Media passes its own memory-cached streams; flipping the JVM-wide
    // flag would silently change every stock ImageIO.write/read
    // (sinks/DebugImage) in the same executor. Nothing in the engine
    // sets it, so it is also still the JDK default.
    val before = javax.imageio.ImageIO.getUseCache
    val jpg = Media.encodeImage(4L, Media.widthOf(4L), Media.heightOf(4L), "jpg")
    assert(Media.decodeImage(jpg) != null)
    assert(!Media.decodeBytes(Array.fill[Byte](64)(0x5a))._5)
    assert(javax.imageio.ImageIO.getUseCache == before)
    assert(javax.imageio.ImageIO.getUseCache)
  }

  test("media: resize passes corrupt image payloads through instead of failing the task") {
    import spark.implicits._
    val corrupt = Media.MediaBlob(9L, "media://9/0", "png", 40, 30, 1,
      Media.encodeImage(9L, 40, 30, "png").take(10))
    val out = Media.resize(spark.createDataset(Seq(corrupt)), 32, 32).collect()
    assert(out.length == 1)
    // unchanged blob, and the re-decode surfaces the corruption
    assert(out.head.content.sameElements(corrupt.content))
    assert(Media.decodeBytes(out.head.content)._5 == false)
  }

  test("media: resize re-encodes real images; frame sampling passes stills through") {
    val blobs = Media.synthesize(spark, TestData.Sf0001)
    val dec = Media.decode(Media.resize(blobs, 32, 32)).collect()
    assert(dec.forall(r => r.getAs[Int]("width") == 32 && r.getAs[Int]("height") == 32))
    assert(dec.forall(_.getAs[Boolean]("decode_ok")))
    val frames = Media.frameSample(blobs, stride = 2).collect()
    // doc 5 (mp4) has 6 frames -> indices 0,2,4
    assert(frames.filter(_.doc_id == 5L).map(_.frame_idx).sorted.toSeq == Seq(0, 2, 4))
    // doc 7 (jpg still) is its own single frame: original payload intact
    val f7 = frames.filter(_.doc_id == 7L)
    assert(f7.map(_.frame_idx).toSeq == Seq(0))
    assert(Media.decodeBytes(f7.head.content) == ((64, 112, 1, "jpg", true)))
  }

  test("IVF top-k: probes a fraction of lists, exact ranks within candidates") {
    val emb = spark.read.parquet(s"${TestData.Sf0001}/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    val ivf = graft.ann.Ivf.topK(spark, emb, "vec_id", "embedding", qids,
      k = 10, nList = 8, nProbe = 2, iters = 3).collect()
    assert(ivf.nonEmpty)
    // per query: ranks contiguous from 1, sims non-increasing
    ivf.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
    // IVF neighbors' sims agree with the exact brute-force sims
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", qids, k = 500)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("sim")).toMap
    for (r <- ivf) {
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(math.abs(exact(key) - r.getAs[Double]("sim")) < 1e-9)
    }
    // recall@10 vs brute force is nonzero (uniform-random corpus; IVF
    // scans ~nProbe/nList of it)
    val bf10 = Ann.bruteForceTopK(emb, "vec_id", "embedding", qids, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val hits = ivf.count(r => bf10((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
    assert(hits > 0, s"IVF found none of the true top-10")
  }

  test("JL random projection: unbiased norms, exact local replay") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0 until 300).map(i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Ann.randomProject(spark, emb, "vec_id", "embedding", k = 16, seed = 42L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // exact replay: same planes, same fold, same late scale
    val planes = Ann.hyperplanes(1, 16, 64, 42L)(0)
    val scale = math.sqrt(3.0 / 16)
    for ((id, v) <- rows.take(10)) {
      val x = v.map(_.toDouble).toArray
      val want = planes.map { p =>
        var s = 0.0; var i = 0
        while (i < 64) { s += p(i) * x(i); i += 1 }
        s * scale
      }.toSeq
      assert(got(id) == want, s"row $id")
    }
    // sqrt(3/k) makes squared norms unbiased: the corpus-mean ratio
    // E[||proj||^2 / ||x||^2] concentrates near 1
    val ratios = rows.map { case (id, v) =>
      val x2 = v.map(f => f.toDouble * f).sum
      got(id).map(p => p * p).sum / x2
    }
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.15, s"mean ratio $mean")
  }

  test("interval overlap join: == brute-force theta join, each pair exactly once") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val mk = (base: Long, n: Int) => (0 until n).map { i =>
      val lo = rng.nextDouble() * 40 - 22
      (base + i, lo, lo + rng.nextDouble() * 6)
    }
    val left = mk(0L, 120).toDF("l_id", "l_lo", "l_hi")
    val right = mk(1000L, 90).toDF("r_id", "r_lo", "r_hi")
    // compare as SORTED SEQS, not sets: a pair sharing several buckets
    // that escaped the first-shared-bucket dedup would show up here as
    // a duplicate row even though the set view hides it
    val got = graft.operators.RangeJoin.intervalOverlap(
        left, "l_lo", "l_hi", right, "r_lo", "r_hi", width = 2.5)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    val expected = left.crossJoin(right)
      .filter(col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(got == expected && got.nonEmpty)
    // closed boundaries: touching endpoints overlap; inverted dropped
    val l2 = Seq((1L, 0.0, 5.0), (2L, 9.0, 2.0)).toDF("l_id", "l_lo", "l_hi")
    val r2 = Seq((9L, 5.0, 7.0), (10L, 5.0001, 7.0)).toDF("r_id", "r_lo", "r_hi")
    val b = graft.operators.RangeJoin.intervalOverlap(
        l2, "l_lo", "l_hi", r2, "r_lo", "r_hi", width = 2.0)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b == Set((1L, 9L)))
  }

  test("matryoshka: full shortlist == brute force; narrowed shortlist reranks exactly") {
    val emb = spark.read.parquet(s"${TestData.Sf0001}/embeddings.parquet")
    val n = emb.count().toInt
    val qids = Seq(0L, 1L, 2L)
    // shortlist = whole corpus -> the coarse stage prunes nothing and
    // the rerank must reproduce brute force bit-for-bit, ranks included
    val full = Ann.matryoshkaTopK(emb, "vec_id", "embedding", qids, k = 10,
        coarseDims = 16, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val bf = Ann.bruteForceTopK(emb, "vec_id", "embedding", qids, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rank"), r.getAs[Double]("sim"))).toSet
    assert(full == bf)
    // narrowed shortlist: every surviving (q, n) keeps its exact
    // full-dim sim — the coarse stage only SHRINKS the candidate set
    val narrow = Ann.matryoshkaTopK(emb, "vec_id", "embedding", qids, k = 10,
      coarseDims = 16, shortlist = 50).collect()
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", qids, k = n)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("sim")).toMap
    assert(narrow.length == qids.length * 10)
    for (r <- narrow)
      assert(exact((r.getLong(0), r.getLong(1))) == r.getDouble(3))
  }

  test("mips: norm-bound pruning is exact vs local brute force; audit accounts for every row") {
    val emb = spark.read.parquet(s"${TestData.Sf0001}/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val got = Ann.mipsTopK(emb, "vec_id", "embedding", qids, k = 10, normPrefix = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // local brute-force MIPS with the same left-to-right fold + tiebreak
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val want = qids.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, dotL(vecs(q), v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(10).zipWithIndex
        .map { case ((id, s), i) => (q, id, (i + 1).toLong, s) }
    }.toSet
    assert(got == want)
    // audit: head + pruned + scored covers every non-self item exactly
    // once per query, and the bound actually prunes on this corpus
    val n = emb.count()
    val audit = Ann.mipsPruneAudit(emb, "vec_id", "embedding", qids, k = 10, normPrefix = 64)
      .collect()
    assert(audit.length == qids.length)
    for (r <- audit) {
      assert(r.getAs[Long]("n_head") + r.getAs[Long]("n_pruned") +
        r.getAs[Long]("n_scored") == n - 1)
    }
  }

  test("mips: skewed-norm corpus actually prunes, output still exact") {
    import spark.implicits._
    // query (1,0); ids 1..30 high-norm collinear items (dot == norm);
    // ids 31..60 tiny near-orthogonal items — their |x||q| bound sits
    // far below the 5th-best head score, so the tail pass must prune
    // them WITHOUT computing their dot product
    val rows = Seq((0L, Seq(1.0f, 0.0f))) ++
      (1 to 30).map(i => (i.toLong, Seq(1.0f + i * 0.01f, 0.0f))) ++
      (31 to 60).map(i => (i.toLong, Seq(0.001f, 0.001f)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Ann.mipsTopK(emb, "vec_id", "embedding", Seq(0L), k = 5, normPrefix = 16)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList
    // top-5 by dot = the 5 largest-norm collinear items, 30 down to 26
    assert(got == List((30L, 1L), (29L, 2L), (28L, 3L), (27L, 4L), (26L, 5L)))
    val audit = Ann.mipsPruneAudit(emb, "vec_id", "embedding", Seq(0L), k = 5, normPrefix = 16)
      .collect().head
    assert(audit.getAs[Long]("n_head") + audit.getAs[Long]("n_pruned") +
      audit.getAs[Long]("n_scored") == 60L)
    assert(audit.getAs[Long]("n_pruned") >= 30L)
  }

  test("range bounds: occupancy covers every row, buckets are balanced and ordered") {
    import spark.implicits._
    // 1000 rows, value = id (uniform) — sampled order statistics should
    // produce 8 buckets each within a loose band of n/8
    val df = (0L until 1000L).map(i => (i, i)).toDF("id", "v")
    val out = graft.operators.RangeBounds
      .boundsAndOccupancy(df, "v", "id", buckets = 8, sampleRate = 0.3, salt = "t")
      .collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toList == (0L until 8L).toList)
    assert(out.map(r => r.getAs[Long]("n_rows")).sum == 1000L)
    // bounds strictly increase and bucket 0 has a null lower bound
    assert(out.head.isNullAt(1))
    val bounds = out.tail.map(_.getLong(1))
    assert(bounds.sorted.toList == bounds.toList && bounds.distinct.length == bounds.length)
    // uniform data: every bucket within [n/16, 3n/8] of ideal n/8=125
    for (r <- out) {
      val n = r.getAs[Long]("n_rows")
      assert(n >= 62 && n <= 375, s"bucket ${r.getLong(0)} holds $n rows")
    }
    // exact local replay: portable-hash sample -> order statistics at
    // floor(i*n/8) -> value-only bucket assignment -> per-bucket counts
    def hash60(salt: String, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((salt + id.toString).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val all = (0L until 1000L).map(i => (i, i))
    val sample = all.filter { case (id, _) => hash60("t", id) < 300000L }
      .sortBy { case (id, v) => (v, id) }
    val nS = sample.length
    val wantBounds = (1 until 8).map(i => sample((i * nS / 8) - 1)._2)
    assert(bounds.toList == wantBounds.toList)
    val wantCounts = all.groupBy { case (_, v) => wantBounds.count(_ <= v) }
      .view.mapValues(_.length.toLong).toMap
    for (r <- out)
      assert(r.getAs[Long]("n_rows") == wantCounts(r.getLong(0).toInt))
  }

  test("k-anonymity: every published row's group meets k; ladder levels null correctly") {
    import spark.implicits._
    // lang en/source a: 25 rows (passes at level 0 for one bucket);
    // lang en/source b: 6 rows (fails level 0+1, passes level 2 via en's 31);
    // lang zz: 3 rows (only the catch-all holds >= k)
    val rows =
      (1L to 25L).map(i => (i, "en", "a", 0L)) ++
      (26L to 31L).map(i => (i, "en", "b", i)) ++
      (32L to 34L).map(i => (i, "zz", "c", 0L))
    val df = rows.toDF("doc_id", "lang", "source", "len_bucket")
    val out = graft.corpus.Privacy
      .kAnonymize(df, "doc_id", Seq("lang", "source", "len_bucket"), k = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    // group (en, a, 0) has 25 rows -> level 0, all QI kept
    for (i <- 1L to 25L) {
      val r = out(i)
      assert(r.getAs[Int]("level") == 0 && r.getAs[Long]("group_n") == 25L)
      assert(r.getAs[String]("lang") == "en" && r.getAs[String]("source") == "a"
        && r.getAs[Long]("len_bucket") == 0L)
    }
    // (en, b, i) singletons and (en, b) only 6 -> level 2 (en: 31 rows)
    for (i <- 26L to 31L) {
      val r = out(i)
      assert(r.getAs[Int]("level") == 2 && r.getAs[Long]("group_n") == 31L)
      assert(r.getAs[String]("lang") == "en" && r.isNullAt(r.fieldIndex("source"))
        && r.isNullAt(r.fieldIndex("len_bucket")))
    }
    // zz has 3 rows -> catch-all level 3, everything suppressed
    for (i <- 32L to 34L) {
      val r = out(i)
      assert(r.getAs[Int]("level") == 3 && r.getAs[Long]("group_n") == 34L)
      assert(r.isNullAt(r.fieldIndex("lang")) && r.isNullAt(r.fieldIndex("source"))
        && r.isNullAt(r.fieldIndex("len_bucket")))
    }
    // the k contract holds for every published (non-catch-all) row
    assert(out.values.forall(r => r.getAs[Long]("group_n") >= 10L
      || r.getAs[Int]("level") == 3))
  }

  test("k-anonymity: NULL quasi-identifier values form a real group") {
    import spark.implicits._
    // 12 rows share (NULL, x): groupBy counts NULL as one group, and the
    // null-safe join-back must credit those rows with their own group's
    // size — not silently demote them to the catch-all (the engine/oracle
    // divergence a null-unsafe equi-join would create)
    val rows: Seq[(Long, Option[String], String)] =
      (1L to 12L).map(i => (i, None: Option[String], "x")) ++
      (13L to 24L).map(i => (i, Some("en"), "y")) ++
      Seq((25L, Some("zz"), "z"))
    val df = rows.toDF("doc_id", "lang", "source")
    val out = graft.corpus.Privacy
      .kAnonymize(df, "doc_id", Seq("lang", "source"), k = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (i <- 1L to 12L) {
      val r = out(i)
      assert(r.getAs[Int]("level") == 0 && r.getAs[Long]("group_n") == 12L,
        s"NULL-QI row $i demoted: level=${r.getAs[Int]("level")}")
      assert(r.isNullAt(r.fieldIndex("lang"))
        && r.getAs[String]("source") == "x")
    }
    for (i <- 13L to 24L) {
      val r = out(i)
      assert(r.getAs[Int]("level") == 0 && r.getAs[Long]("group_n") == 12L)
    }
    assert(out(25L).getAs[Int]("level") == 2
      && out(25L).getAs[Long]("group_n") == 25L)
  }

  test("DP noisy counts: deterministic, Laplace-calibrated, release-consistent") {
    import spark.implicits._
    // 200 single-row groups: enough independent draws to check the
    // noise CALIBRATION (mean |X| -> b = 1/eps), not just determinism
    val df = (1L to 200L).map(g => (g, "x")).toDF("grp", "payload")
    val rel1 = graft.corpus.Privacy
      .dpNoisyCounts(df, Seq("grp"), eps = 0.5, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel2 = graft.corpus.Privacy
      .dpNoisyCounts(df, Seq("grp"), eps = 0.5, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel1 == rel2, "seeded noise must be rerun-stable")
    val audit = graft.corpus.Privacy
      .dpNoiseAudit(df, Seq("grp"), eps = 0.5, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // release == true count (1 per group, in micro-units) + audited noise
    for ((g, noise, b, _) <- audit) {
      assert(b == 2000000L)
      assert(rel1(g) == 1000000L + noise, s"group $g inconsistent")
    }
    // calibration: for Laplace(b), E|X| = b; 200 draws put the sample
    // mean well inside [0.6b, 1.5b], and ~95% inside 3b
    val meanAbs = audit.map(_._2.abs.toDouble).sum / audit.length
    assert(meanAbs > 0.6 * 2e6 && meanAbs < 1.5 * 2e6, s"mean |noise| $meanAbs")
    val within = audit.count(_._4)
    assert(within >= (audit.length * 0.85).toInt, s"only $within within 3b")
    // different salt => different noise (the salt IS the secret)
    val rel3 = graft.corpus.Privacy
      .dpNoisyCounts(df, Seq("grp"), eps = 0.5, salt = "u")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel3 != rel1)
  }

  test("l-diversity: homogeneous group flagged, diverse group passes") {
    import spark.implicits._
    // (en, a, 0): 12 rows but ONE sensitive value -> k-anonymous yet
    // NOT l-diverse at l=3 (the homogeneity attack case);
    // (en, b, 0): 12 rows with 4 distinct sensitive values -> l_ok
    val rows =
      (1L to 12L).map(i => (i, "en", "a", 0L, "flu")) ++
      (13L to 24L).map(i => (i, "en", "b", 0L, s"v${i % 4}"))
    val df = rows.toDF("doc_id", "lang", "source", "len_bucket", "sens")
    val out = graft.corpus.Privacy
      .lDiversity(df, "doc_id", Seq("lang", "source", "len_bucket"), "sens",
        k = 10, l = 3)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) -> r)
      .toMap
    val ga = out(("en", "a"))
    assert(ga.getAs[Int]("level") == 0 && ga.getAs[Long]("group_n") == 12L)
    assert(ga.getAs[Long]("n_sensitive") == 1L && !ga.getAs[Boolean]("l_ok"))
    val gb = out(("en", "b"))
    assert(gb.getAs[Long]("n_sensitive") == 4L && gb.getAs[Boolean]("l_ok"))
    assert(gb.getAs[Long]("n_published") == 12L)
  }

  test("t-closeness: skewed class flagged, proportional class passes, fraction exact") {
    import spark.implicits._
    // global sens distribution: A x15, B x15 (n=30). class (en,a,0):
    // all A -> TVD = (|10*30-15*10| + |0-15*10|) / (2*10*30) = 300/600
    // = 1/2 > 3/10; class (en,b,0): 5 A + 5 B, exactly the global
    // mixture -> TVD 0; class (en,c,0): all B -> 1/2 again
    val rows =
      (1L to 10L).map(i => (i, "en", "a", 0L, "A")) ++
      (11L to 15L).map(i => (i, "en", "b", 0L, "A")) ++
      (16L to 20L).map(i => (i, "en", "b", 0L, "B")) ++
      (21L to 30L).map(i => (i, "en", "c", 0L, "B"))
    val df = rows.toDF("doc_id", "lang", "source", "len_bucket", "sens")
    val out = graft.corpus.Privacy
      .tCloseness(df, "doc_id", Seq("lang", "source", "len_bucket"), "sens",
        k = 5, tNum = 3, tDen = 10)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val skewed = out("a")
    assert(skewed.getAs[Long]("tvd_num") == 300L && skewed.getAs[Long]("tvd_den") == 600L)
    assert(!skewed.getAs[Boolean]("t_ok")) // 0.5 > 0.3
    val even = out("b")
    assert(even.getAs[Long]("tvd_num") == 0L && even.getAs[Boolean]("t_ok"))
    assert(even.getAs[Long]("group_n") == 10L && skewed.getAs[Long]("group_n") == 10L)
    assert(!out("c").getAs[Boolean]("t_ok"))
  }

  test("pack audit: token accounting is exact, straddle and oversize are flagged") {
    import spark.implicits._
    // deterministic hand layout: bypass hashing by auditing a
    // hand-built packs frame (packAudit consumes the layout schema)
    val packs = Seq(
      // grp 0, pack 0: fills 90 of 100, doc 3 straddles into pack 0's
      // boundary by 20 (start 90, len 30 -> end 120, overflow 20)
      (1L, 0, 0L, 40L, 0L),
      (2L, 0, 0L, 50L, 40L),
      (3L, 0, 0L, 30L, 90L),
      // grp 0, pack 1: one oversize doc (len 250 > budget 100)
      (4L, 0, 1L, 250L, 120L),
      // grp 1, pack 0: exact fit, no overflow
      (5L, 1, 0L, 100L, 0L)
    ).toDF("doc_id", "grp", "pack_id", "n_tokens", "start_off")
    val audit = graft.corpus.Packing.packAudit(packs, budget = 100)
      .collect().map(r => (r.getAs[Int]("grp"), r.getAs[Long]("pack_id")) -> r).toMap
    val p00 = audit((0, 0L))
    assert(p00.getAs[Long]("n_docs") == 3L && p00.getAs[Long]("n_tokens_sum") == 120L)
    assert(p00.getAs[Long]("overflow_tokens") == 20L && p00.getAs[Long]("n_oversize_docs") == 0L)
    val p01 = audit((0, 1L))
    assert(p01.getAs[Long]("n_docs") == 1L && p01.getAs[Long]("overflow_tokens") == 170L)
    assert(p01.getAs[Long]("n_oversize_docs") == 1L)
    val p10 = audit((1, 0L))
    assert(p10.getAs[Long]("overflow_tokens") == 0L && p10.getAs[Long]("n_oversize_docs") == 0L)
    // conservation: per-pack sums add back to the corpus total
    assert(audit.values.map(_.getAs[Long]("n_tokens_sum")).sum == 470L)
    // real layout: audit of packSequences output conserves tokens
    val docs = (1L to 200L).map(i => (i, ("w " * (i % 17 + 1).toInt).trim)).toDF("doc_id", "text")
    val layout = graft.corpus.Packing.packSequences(docs, "doc_id", "text",
      budget = 64, groups = 4)
    val a2 = graft.corpus.Packing.packAudit(layout, budget = 64)
    val totalTokens = layout.agg(sum("n_tokens")).head().getLong(0)
    assert(a2.agg(sum("n_tokens_sum")).head().getLong(0) == totalTokens)
    assert(a2.agg(sum("n_docs")).head().getLong(0) == 200L)
  }
}
