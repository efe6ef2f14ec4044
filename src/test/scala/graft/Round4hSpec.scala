package graft

import graft.corpus.Interleave
import graft.dedup.Dedup
import graft.lineage.Compaction
import graft.operators.{Bfs, RandomWalk, Skyline}
import graft.textops.TextOps

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Round-4h operators, each checked against an independent driver-side
  * exact reimplementation (plus hand-computed goldens for the
  * deterministic-by-construction ones):
  *  1. Bfs.hops == sequential level-synchronous BFS;
  *  2. Skyline.front2D == brute O(n²) domination scan;
  *  3. RandomWalk.walks == driver-side walk simulation with the same
  *     md5-derived neighbor pick;
  *  4. Compaction.plan == sequential cumulative next-fit fold;
  *  5. Interleave.mergeAdjacentText == driver-side run fold;
  *  6. TextOps.entityInventory on a known-entity string;
  *  7. Dedup.ngramContainmentPairs on a sub-document pair.
  */
class Round4hSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-round4h-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def checkProp(p: Prop, n: Int = 12): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def randomEdges(seed: Long): Seq[(Long, Long)] = {
    val rng = new Random(seed)
    val n = 6 + rng.nextInt(12)
    val m = n + rng.nextInt(2 * n)
    (0 until m).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
  }

  /** JVM twin of PortableHash.md5Hash60: first 15 hex of md5. */
  private def portable60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  test("BFS hop distances equal the sequential level-synchronous expansion") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.choose(0L, 5000L)) { seed =>
      val edges = randomEdges(seed).distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val seeds = nodes.filter(_ % 3 == 0)
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // driver-side BFS
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds.toSet
      for (h <- 1 to 4) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .diff(dist.keySet)
        dist = dist ++ next.map(_ -> h)
        frontier = next
      }
      val got = Bfs.hops(edges.toDF("src", "dst"),
          seeds.toDF("node"), "src", "dst", "node", maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      seeds.isEmpty || got == dist
    })
  }

  test("2-D skyline equals the brute domination scan") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.choose(0L, 5000L)) { seed =>
      val rng = new Random(seed)
      val pts = (0 until (5 + rng.nextInt(40))).map(i =>
        (i.toLong, (rng.nextInt(8)).toLong, (rng.nextInt(8)).toLong))
      def dominated(p: (Long, Long, Long)) = pts.exists(q =>
        q._2 >= p._2 && q._3 >= p._3 && (q._2 > p._2 || q._3 > p._3))
      val want = pts.filterNot(dominated).map(_._1).toSet
      val got = Skyline.front2D(pts.toDF("id", "x", "y"), "x", "y")
        .collect().map(_.getLong(0)).toSet
      got == want
    })
  }

  test("random walks replay the md5 neighbor pick exactly") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.choose(0L, 5000L)) { seed =>
      val edges = randomEdges(seed).distinct
      val adjSorted = edges.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted.toVector).toMap
      val starts = edges.map(_._1).distinct
      // driver-side simulation
      val want = starts.flatMap { w =>
        var node = w
        var alive = true
        Seq((w, 0, w)) ++ (1 to 4).flatMap { k =>
          if (!alive) Seq.empty
          else adjSorted.get(node) match {
            case None => alive = false; Seq.empty
            case Some(nbrs) =>
              val pick = (portable60(s"rw:$w:${k - 1}:$node") % nbrs.size).toInt
              node = nbrs(pick)
              Seq((w, k, node))
          }
        }
      }.toSet
      val got = RandomWalk.walks(edges.toDF("src", "dst"), "src", "dst",
          length = 4, salt = "rw")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      got == want
    })
  }

  test("compaction plan equals the sequential cumulative next-fit fold") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.choose(0L, 5000L)) { seed =>
      val rng = new Random(seed)
      val target = 100L
      val files = (0 until (3 + rng.nextInt(30))).map(i =>
        (s"p${rng.nextInt(3)}", i.toLong, (1 + rng.nextInt(250)).toLong))
      val want = files.groupBy(_._1).flatMap { case (_, fs) =>
        var cum = 0L
        fs.sortBy(f => (-f._3, f._2)).map { f =>
          val bin = (cum / target).toInt
          cum += f._3
          (f._1, f._2, bin)
        }
      }.toSet
      val got = Compaction.plan(files.toDF("part", "file_id", "size"),
          "part", "file_id", "size", target)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
      got == want
    })
  }

  test("span merge coalesces exactly the consecutive text runs") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.choose(0L, 5000L)) { seed =>
      val rng = new Random(seed)
      val kinds = Vector("text", "media", "word_box")
      val spans = (0 until (1 + rng.nextInt(20))).map { i =>
        val k = kinds(rng.nextInt(3))
        ("d0", i, k, s"t$i", if (k == "media") s"m$i" else "")
      }
      // driver-side run fold
      val runs = spans.foldLeft(Vector.empty[Vector[(String, Int, String, String, String)]]) {
        case (acc, sp) =>
          if (sp._3 == "text" && acc.nonEmpty && acc.last.head._3 == "text")
            acc.init :+ (acc.last :+ sp)
          else acc :+ Vector(sp)
      }
      val want = runs.zipWithIndex.map { case (run, i) =>
        ("d0", i, run.head._3, run.map(_._4).mkString(" "), run.head._5)
      }.toSet
      val got = Interleave.mergeAdjacentText(
          spans.toDF("doc_id", "offset", "kind", "text", "media_ref"),
          "doc_id", "offset", "kind", "text", "media_ref")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getString(3), r.getString(4))).toSet
      got == want
    })
  }

  test("entity inventory finds the typed entities with counts") {
    import spark.implicits._
    val docs = Seq((1L,
      "mail a@b.com and a@b.com via https://x.y/z from 10.0.0.1 call +1 (555) 010-4477 end"))
      .toDF("doc_id", "text")
    val got = TextOps.entityInventory(docs, "doc_id", "text")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      ("email", "a@b.com", 2L),
      ("url", "https://x.y/z", 1L),
      ("ip", "10.0.0.1", 1L),
      ("phone", "+1 (555) 010-4477", 1L)))
  }

  test("containment flags the pasted sub-document that Jaccard misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon"
    val big = ("x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14 x15 " +
      small + " y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12 y13 y14 y15")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val rows = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(3) == 1.0) // c_ab: every shingle of A is in B
    assert(r.getDouble(4) < 0.2)  // c_ba: B is much bigger
    // Jaccard at the same threshold misses the pair entirely
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).collect().isEmpty)
  }

  test("bucketed co-located join: plain-join result, exchange-free plan") {
    import spark.implicits._
    try {
      val left = (0L until 50L).map(i => (i, s"l$i")).toDF("k", "lv")
      val right = (0L until 50L by 2L).map(i => (i, i * 10)).toDF("k", "rv")
      val j = graft.lineage.Bucketed.colocatedJoin(
        spark, left, right, "k", nBuckets = 4, tablePrefix = "graft_bt")
      val got = j.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = left.join(right, "k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want && got.size == 25)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") && !p.contains("Exchange"), p.take(2000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bt_left")
      spark.sql("DROP TABLE IF EXISTS graft_bt_right")
    }
  }

  test("confusion matrix marginals are consistent with the classifier output") {
    val base = graft.textops.NaiveBayes.classifyHoldout(
      spark.read.parquet(s"${TestData.Sf0001}/documents.parquet"),
      "doc_id", "lang", "text")
    val cm = SparkEntry.queries("q_nb_confusion")(spark, TestData.Sf0001)
      .collect()
    assert(cm.map(_.getLong(2)).sum == base.count())
    // per-label shares sum to 1 exactly (n/label_total over the label's rows)
    cm.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sum == rows.head.getLong(3))
    }
    // diagonal count == classifier's own correct count
    val diag = cm.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
    assert(diag == base.filter(col("correct")).count())
  }

  test("RRF fusion equals the driver-side fusion of the two rankings") {
    import spark.implicits._
    val got = SparkEntry.queries("q_rrf_fusion")(spark, TestData.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val d = spark.read.parquet(s"${TestData.Sf0001}/documents.parquet")
      .select(col("doc_id"), col("n_chars"),
        size(array_distinct(split(col("text"), " ", -1))).cast("bigint").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rLen = d.sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case (x, i) => x._1 -> (i + 1L) }.toMap
    val rVoc = d.sortBy(x => (x._3, x._1)).zipWithIndex
      .map { case (x, i) => x._1 -> (i + 1L) }.toMap
    assert(got.length == d.length)
    got.foreach { case (id, r1, r2, rrf) =>
      assert(r1 == rLen(id) && r2 == rVoc(id))
      assert(rrf == 1.0 / (60 + r1) + 1.0 / (60 + r2))
    }
  }

  test("homoglyph skeleton collides spoofs with originals, leaves clean text alone") {
    import spark.implicits._
    val latin = "the space pace copy"
    val spoofed = latin.map(ch => {
      val i = TextOps.HomoglyphLat.indexOf(ch)
      if (i >= 0) TextOps.HomoglyphCyr(i) else ch
    }).mkString
    assert(spoofed != latin) // code points differ...
    val df = Seq((1L, latin), (2L, spoofed), (3L, "no confusables here?!"))
      .toDF("id", "t")
      .select(col("id"), TextOps.homoglyphSkeleton(col("t")).as("sk"), col("t"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(df(1L)._1 == latin && df(2L)._1 == latin) // ...skeletons collide
    assert(df(3L)._1 == df(3L)._2) // clean text is a fixpoint
  }

  test("cogroup reconciliation equals the brute per-user aggregation") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.choose(0L, 5000L)) { seed =>
      val rng = new Random(seed)
      val ev = (0 until (5 + rng.nextInt(60))).map(i =>
        (rng.nextInt(6).toLong, (rng.nextInt(1000)).toLong, i.toLong,
          if (rng.nextBoolean()) "click" else "purchase"))
      val clicks = ev.filter(_._4 == "click")
      val purch = ev.filter(_._4 == "purchase")
      val users = ev.map(_._1).distinct
      val want = users.map { u =>
        val c = clicks.filter(_._1 == u)
        val p = purch.filter(_._1 == u)
        (u, c.size.toLong, p.size.toLong,
          if (c.isEmpty) None else Some(c.map(_._2).max),
          if (p.isEmpty) None else Some(p.map(_._2).min))
      }.toSet
      val got = graft.operators.CoGroup.clickPurchaseRecon(spark,
          clicks.map(e => (e._1, e._2, e._3)).toDF("user_id", "us", "event_id"),
          purch.map(e => (e._1, e._2, e._3)).toDF("user_id", "us", "event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
      got == want
    })
  }

  /** Driver twin of Cdc.chunks: boundary at pos when the 4-gram hash
    * divides, chunk_idx = boundaries strictly before pos.
    */
  private def cdcLocal(toks: Vector[String], divisor: Int): Vector[(Long, Int, Long, String)] = {
    val bounds = toks.indices.map { i0 =>
      val pos = i0 + 1
      pos >= 4 && portable60(toks.slice(pos - 4, pos).mkString(" ")) % divisor == 0
    }
    val idx = bounds.scanLeft(0L)((acc, b) => if (b) acc + 1 else acc)
    toks.indices.groupBy(i0 => idx(i0)).toVector.map { case (ci, is) =>
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(is.map(toks).mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (ci, is.min + 1, is.size.toLong, sha)
    }
  }

  test("CDC chunks equal the driver fold; an edit only perturbs nearby chunks") {
    import spark.implicits._
    val rng = new Random(7L)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val toksA = Vector.fill(400)(words(rng.nextInt(words.size)))
    val toksB = (toksA.take(200) :+ "INSERTED") ++ toksA.drop(200)
    val docs = Seq((1L, toksA.mkString(" ")), (2L, toksB.mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.corpus.Cdc.chunks(docs, "doc_id", "text", divisor = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getString(4)))
    // exactness vs the driver fold, both docs
    for ((id, toks) <- Seq(1L -> toksA, 2L -> toksB)) {
      val want = cdcLocal(toks, 16).map { case (ci, st, n, sha) => (id, ci, st, n, sha) }.toSet
      assert(got.filter(_._1 == id).toSet == want)
    }
    // edit locality: most of A's chunk content survives in B verbatim,
    // and beats fixed-size chunking after the same single-token insert
    val shaA = got.filter(_._1 == 1L).map(_._5).toSet
    val shaB = got.filter(_._1 == 2L).map(_._5).toSet
    def fixedShas(toks: Vector[String]) = toks.grouped(8).map(_.mkString(" ")).toSet
    val sharedCdc = (shaA intersect shaB).size
    val sharedFixed = (fixedShas(toksA) intersect fixedShas(toksB)).size
    assert(sharedCdc * 2 >= shaA.size, s"cdc shared $sharedCdc of ${shaA.size}")
    assert(sharedCdc > sharedFixed, s"cdc $sharedCdc <= fixed $sharedFixed")
  }

  test("mergeSchema read: old-epoch rows surface NULL for the new column") {
    val docs = spark.read.parquet(s"${TestData.Sf0001}/documents.parquet")
    val root = TempDirs("graft_schev_t")
    val m = graft.lineage.Evolution.mergeSchemaRead(spark, docs, root).collect()
    assert(m.length == docs.count())
    m.foreach { r =>
      if (r.getLong(0) % 2 == 0) assert(r.isNullAt(2)) else assert(!r.isNullAt(2))
    }
  }

  test("dynamic partition overwrite refreshes only the recomputed partition") {
    val docs = spark.read.parquet(s"${TestData.Sf0001}/documents.parquet")
    val root = TempDirs("graft_dynov_t")
    val out = graft.lineage.Evolution.dynamicPartitionRefresh(spark, docs, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val truth = docs.select("doc_id", "n_chars", "source").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.length == truth.size)
    out.foreach { case (id, m, src) =>
      val (n, s) = truth(id)
      assert(s == src)
      if (src == "src1") assert(m == n) else assert(m == n + 1000)
    }
  }

  test("salted join equals the plain join and actually spreads the hot key") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.choose(0L, 5000L)) { seed =>
      val rng = new Random(seed)
      // one deliberately hot key (0) plus a cold tail
      val left = (0 until 300).map(i =>
        (i.toLong, if (i < 200) 0L else rng.nextInt(8).toLong))
      val right = (0L until 8L).map(k => (k, k * 10 + 1))
      val got = graft.operators.Skew.saltedJoin(
          left.toDF("id", "k"), right.toDF("k", "wt"),
          key = "k", tieCol = "id", targetPerTask = 50L)
        .select("id", "k", "wt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = left.toDF("id", "k").join(right.toDF("k", "wt"), "k")
        .select("id", "k", "wt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got == want
    })
    // spread: the hot key's rows land on multiple salts, none holding all
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    val hot = (0 until 400).map(i => (i.toLong, 0L)).toDF("id", "k")
    val factors = graft.operators.Skew.profile(hot, "k", 50L)
      .collect().map(r => r.getAs[Long]("salt_factor")).head
    assert(factors == 8L)
    val perSalt = hot.withColumn("s", pmod(
        graft.PortableHash.md5Hash60(concat(lit("salt:"), col("id").cast("string"))),
        lit(factors)))
      .groupBy("s").count().collect().map(_.getLong(1))
    assert(perSalt.length == 8 && perSalt.max < 400)
  }

  test("Fellegi-Sunter scoring sums the exact micro-nat field weights") {
    import spark.implicits._
    import graft.operators.Linkage
    val attrs = Seq(
      (1L, 100L, "en", "s1"), (2L, 101L, "en", "s1"), // agree on everything
      (3L, 500L, "zh", "s2"))                         // disagrees with both
      .toDF("id", "n", "lang", "src")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val fields = Seq(
      (col("lang_a") === col("lang_b"), 0.9, 0.25),
      (col("src_a") === col("src_b"), 0.8, 0.2),
      (abs(col("n_a") - col("n_b")) * 20 <= least(col("n_a"), col("n_b")), 0.7, 0.1))
    val thr = 1500000L
    val got = Linkage.scorePairs(pairs, attrs, "id", fields, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    val allAgree = Linkage.microNatWeight(0.9, 0.25) +
      Linkage.microNatWeight(0.8, 0.2) + Linkage.microNatWeight(0.7, 0.1)
    val allDisagree = Linkage.microNatWeight(0.1, 0.75) +
      Linkage.microNatWeight(0.2, 0.8) + Linkage.microNatWeight(0.3, 0.9)
    assert(got((1L, 2L)) == (allAgree, true))
    assert(got((2L, 3L)) == (allDisagree, false))
    assert(allAgree > thr && allDisagree < 0)
  }

  test("observe: write-pass metrics equal a recompute, with no second scan coded") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("id", "v")
    val dir = TempDirs("graft_obs")
    val m = graft.lineage.Observe.writeWithMetrics(df, s"$dir/out",
      "n" -> count(lit(1)), "v_sum" -> sum(col("v")), "id_max" -> max(col("id")))
    assert(m("n") == 100L && m("id_max") == 99L)
    assert(m("v_sum") == (0L until 100L).map(_ % 7).sum)
    // and the written data is intact
    assert(spark.read.parquet(s"$dir/out").count() == 100L)
  }
}
