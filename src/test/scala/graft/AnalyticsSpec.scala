package graft

import graft.ann.FeatureHash
import graft.corpus.{InvertedIndex, Quantiles}
import graft.operators.PageRank
import graft.textops.LangModel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-analytics operators added round 4b: bigram LM scoring, PMI,
  * order statistics, inverted index, feature hashing, PageRank, and the
  * streaming dedup drain.
  */
class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-analytics-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("bigramPairs: adjacent pairs in order, short docs emit none") {
    val got = LangModel.bigramPairs(docsDf((1L, "a b c"), (2L, "x"), (3L, "")), "doc_id", "text")
      .orderBy("doc_id", "w1").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "a", "b"), (1L, "b", "c")))
  }

  test("scoreDocs: add-one bigram log-likelihood in exact micro-nats") {
    // corpus: (a b) x2, (a c) x1 -> c1(a)=3, V={a,b,c}=3
    val got = LangModel.scoreDocs(
      docsDf((1L, "a b"), (2L, "a b"), (3L, "a c")), "doc_id", "text")
      .orderBy("doc_id").collect()
    def micro(lp: Double): Long = math.floor(lp * 1e6).toLong
    val lpAB = micro(math.log((2 + 1.0) / (3 + 3))) // ln(1/2)
    val lpAC = micro(math.log((1 + 1.0) / (3 + 3))) // ln(1/3)
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, lpAB), (2L, 1L, lpAB), (3L, 1L, lpAC)))
  }

  test("pmiCollocations: repeated pair scores ln(c12*N/(c1*c2))") {
    // "a b a b": pairs (a,b)x2, (b,a)x1; c1(a)=2 c2(b)=2 N=3
    val got = LangModel.pmiCollocations(docsDf((1L, "a b a b")), "doc_id", "text",
      minCount = 2).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == ("a", "b", 2L))
    assert(math.abs(r.getDouble(3) - math.log(2.0 * 3 / (2.0 * 2))) < 1e-12)
  }

  test("discreteQuantiles: smallest value whose cumulative count reaches ceil(q*n)") {
    import spark.implicits._
    val df = ((1 to 10).map(v => ("g", v.toLong)) ++ Seq(("h", 1L), ("h", 1L), ("h", 1L), ("h", 7L)))
      .toDF("lang", "n_chars")
    val got = Quantiles.discreteQuantiles(df, "lang", "n_chars", Seq(0.5, 0.9))
      .orderBy("lang", "q").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    // g: n=10, ceil(.5*10)=5 -> 5; ceil(.9*10)=9 (0.9*10 is EXACTLY 9.0
    //    in doubles — unlike 0.9*500 = 450.00000000000006) -> 9
    // h: n=4,  ceil(2)=2 -> 1;     ceil(3.6)=4 -> 7
    assert(got == Seq(("g", 0.5, 5L), ("g", 0.9, 9L), ("h", 0.5, 1L), ("h", 0.9, 7L)))
  }

  test("sampledQuantiles: deterministic and computed over the hash-sample only") {
    import spark.implicits._
    val df = (1 to 100).map(v => ("g", v.toLong, v.toLong)).toDF("lang", "n_chars", "doc_id")
    val a = Quantiles.sampledQuantiles(df, "lang", "n_chars", "doc_id",
      Seq(0.5), "s", 1, 2).collect()
    val b = Quantiles.sampledQuantiles(df, "lang", "n_chars", "doc_id",
      Seq(0.5), "s", 1, 2).collect()
    assert(a.toSeq == b.toSeq && a.length == 1)
    // full-rate sample must equal the exact quantile
    val full = Quantiles.sampledQuantiles(df, "lang", "n_chars", "doc_id",
      Seq(0.5), "s", 1, 1).collect()
    val exact = Quantiles.discreteQuantiles(df, "lang", "n_chars", Seq(0.5)).collect()
    assert(full.map(_.getLong(2)).toSeq == exact.map(_.getLong(2)).toSeq)
  }

  test("madOutliers: flags |v - median| > k*MAD, integer-exact, degenerate MAD=0") {
    import spark.implicits._
    // g: values 1,2,3,4,100 -> med=3, devs sorted 0,1,1,2,97 -> mad=1
    //    -> only 100 exceeds 3*1
    // h: four 10s and a 100 -> med=10, mad=0 -> anything above 10 flags
    val df = (Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 4L),
      ("g", 5L, 100L)) ++ (1 to 4).map(i => ("h", 10L + i, 10L)) :+ ("h", 15L, 100L))
      .toDF("lang", "doc_id", "n_chars")
    val got = graft.corpus.Quantiles.madOutliers(df, "lang", "n_chars", k = 3)
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("g", 5L, 100L, 3L, 1L), ("h", 15L, 100L, 10L, 0L)))
  }

  test("histogram: equi-width buckets with max clamped into the last one") {
    import spark.implicits._
    val df = ((0 to 9).map(v => ("g", v.toLong)) :+ ("h", 7L)).toDF("lang", "n_chars")
    val got = graft.corpus.Quantiles.histogram(df, "lang", "n_chars", buckets = 10)
      .orderBy("lang", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // g: mn=0 mx=9 width 10 -> bucket v each; h: single value -> bucket 0
    assert(got == (0 to 9).map(v => ("g", v.toLong, 1L)) :+ ("h", 0L, 1L))
  }

  test("inverted index: ordered 1-based positions, df band enforced") {
    val got = InvertedIndex.build(
      docsDf((1L, "w x w"), (2L, "w y"), (3L, "w z only")),
      "doc_id", "text", minDf = 2, maxDf = 2)
    // df(w)=3 excluded by maxDf; only terms with df exactly 2 survive: none (x,y,z,only have df 1)
    assert(got.count() == 0)
    val got2 = InvertedIndex.build(
      docsDf((1L, "w x w"), (2L, "w y"), (3L, "w z only")),
      "doc_id", "text", minDf = 3, maxDf = 3)
      .orderBy("doc_id").collect()
    assert(got2.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq(("w", 1L, 2L, "1,3"), ("w", 2L, 1L, "1"), ("w", 3L, 1L, "1")))
  }

  test("feature hash: per-doc weights sum to token count, deterministic") {
    val docs = docsDf((1L, "a b c d e a"), (2L, "z"))
    val got = FeatureHash.features(docs, "doc_id", "text", dim = 8)
    val sums = got.groupBy("doc_id").agg(sum("weight").as("s"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sums == Seq((1L, 6L), (2L, 1L)))
    assert(got.filter(col("feat_idx") < 0 || col("feat_idx") >= 8).count() == 0)
    assert(got.collect().toSet == FeatureHash.features(docs, "doc_id", "text", dim = 8).collect().toSet)
  }

  test("pageRank matches a driver-side power iteration on a star graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val got = PageRank.pageRank(edges, "src", "dst", iters = 8, d = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference power iteration with the same picounit discretization
    val out = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L), 3L -> Seq(1L), 4L -> Seq(1L))
    var r = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0)
    for (_ <- 1 to 8) {
      val contrib = out.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> math.floor(r(u) / vs.size * 1e12).toLong)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = r.keys.map(n =>
        n -> (0.15 + 0.85 * (contrib.getOrElse(n, 0L).toDouble / 1e12))).toMap
    }
    assert(got.keySet == r.keySet)
    for ((n, v) <- r) assert(math.abs(got(n) - v) < 1e-9, s"node $n: ${got(n)} vs $v")
    assert(got(1L) > got(2L)) // hub outranks leaves
  }

  test("skipgramCounts: window-bounded ordered pairs, edge docs emit none") {
    val got = LangModel.skipgramCounts(
        docsDf((1L, "a b c d"), (2L, "x"), (3L, ""), (4L, "a b")),
        "doc_id", "text", window = 2, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L,
      ("b", "d") -> 1L, ("c", "d") -> 1L), got)
  }

  test("personalized PageRank: zero rank off-seed-reachable set; all-seeds == uniform") {
    import spark.implicits._
    // two disjoint components: 1->2->3 and 10->11
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = PageRank.pageRank(edges, "src", "dst", iters = 4, seeds = Some(Seq(1L)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the 10->11 component is unreachable from seed 1: exactly zero
    assert(got(10L) == 0.0 && got(11L) == 0.0, got)
    assert(got(1L) > 0.0 && got(2L) > 0.0 && got(3L) > 0.0, got)
    // seed holds the restart floor; downstream mass decays by d per hop
    assert(got(1L) > got(3L), got)
    // seeding EVERY node reproduces the uniform form exactly
    val uni = PageRank.pageRank(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val all = PageRank.pageRank(edges, "src", "dst", iters = 4,
      seeds = Some(Seq(1L, 2L, 3L, 10L, 11L)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(all == uni)
  }

  test("tokenKlContribs: add-one-smoothed per-token KL terms, exact counts") {
    import spark.implicits._
    val docs = Seq((1L, "a a b", "en"), (2L, "a c", "de"))
      .toDF("doc_id", "text", "lang")
    val got = graft.corpus.CorpusStats.tokenKlContribs(docs, "lang", "text", "en", "de")
      .orderBy("tok").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // c: a(2,1) b(1,0) c(0,1); tot_a=3 tot_b=2 v=3
    def contrib(ca: Long, cb: Long): Double = {
      val pA = (ca + 1.0) / 6.0; val pB = (cb + 1.0) / 5.0
      pA * math.log(pA / pB)
    }
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", 2L, 1L), ("b", 1L, 0L), ("c", 0L, 1L)))
    val exp = Seq(contrib(2, 1), contrib(1, 0), contrib(0, 1))
    got.map(_._4).zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("hardNegatives: same-label items excluded, similarity-ranked") {
    import spark.implicits._
    val emb = Seq(
      (0L, 0, Seq(1f, 0f)), (1L, 0, Seq(0.99f, 0.01f)), // same label: excluded
      (2L, 1, Seq(0.9f, 0.1f)), (3L, 1, Seq(0f, 1f)), (4L, 2, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "label", "embedding")
    val got = graft.ann.Ann.hardNegatives(emb, "vec_id", "embedding", "label",
      queryIds = Seq(0L), k = 3).orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    // cosine vs (1,0): id2 ~.994, id4 ~.707, id3 = 0; id1 excluded
    assert(got == Seq((2L, 1, 1L), (4L, 2, 2L), (3L, 1, 3L)))
  }

  test("KMV overlap: exact below k — true jaccard and set sizes") {
    import spark.implicits._
    val rows = Seq("a", "b", "c").map(("en", _)) ++ Seq("b", "c", "d").map(("de", _))
    val got = graft.operators.Kmv.overlapEstimate(
      rows.toDF("lang", "tok"), "lang", "tok", "en", "de", k = 16).collect().head
    assert(got.getLong(0) == 4L && got.getLong(1) == 2L)
    assert(got.getDouble(2) == 4.0 && got.getDouble(3) == 0.5 && got.getDouble(4) == 2.0)
  }

  test("triangles: each triangle once, duplicates/reversals/self-loops normalized") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (3,4), plus noise: dup edge, reversed
    // edge, self-loop, pendant 5 -> triangles (1,2,3) and (1,2,4) only
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (1L, 2L), (3L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = graft.operators.Triangles.triangles(edges, "id_a", "id_b")
      .orderBy("a", "b", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 3L), (1L, 2L, 4L)))
  }

  test("triangles: degree orientation — identical output, hub wedges bounded") {
    import spark.implicits._
    // hub-skewed fixture: star hub 0 -> 1..60 plus a K4 on {1,2,3,4}.
    // Triangles: the K4's C(4,3)=4 plus (0,a,b) for each K4 edge = 10.
    val star = (1L to 60L).map(i => (0L, i))
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (star ++ k4).toDF("id_a", "id_b")
    val byId = graft.operators.Triangles.trianglesIdOriented(edges, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byDeg = graft.operators.Triangles
      .trianglesDegreeOriented(edges, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(byDeg == byId && byId.size == 10)
    // the bound the hardening exists for: id orientation fans the hub
    // (id 0, degree 60) into C(60,2) = 1770 wedges; degree orientation
    // points every star edge AT the hub, so total wedge work collapses
    // to the K4's interior (C(4,2)+C(3,2)+C(2,2-as-pairs) = 10)
    val d = graft.operators.Triangles.orientedByDegree(edges, "id_a", "id_b")
    val wedgeWork = d.groupBy(col("x")).agg(count(lit(1)).as("od"))
      .select(sum(col("od") * (col("od") - 1) / 2).cast("long"))
      .head().getLong(0)
    assert(wedgeWork <= 10L, s"degree-oriented wedge work $wedgeWork")
  }

  test("KMV overlap: empty slices give defined zeros, not NULLs") {
    import spark.implicits._
    val got = graft.operators.Kmv.overlapEstimate(
      Seq(("x", "a")).toDF("lang", "tok"), "lang", "tok", "en", "de", k = 8)
      .collect().head
    assert(got.getLong(0) == 0L && got.getLong(1) == 0L)
    assert(got.getDouble(2) == 0.0 && got.getDouble(3) == 0.0 && got.getDouble(4) == 0.0)
  }

  test("bloom join: output equals the plain join, no false negatives") {
    import spark.implicits._
    val probe = (1L to 200L).map(i => (i, i % 40)).toDF("row_id", "key")
    val build = Seq(3L, 7L, 11L, 13L).map(k => (k, s"v$k")).toDF("bkey", "payload")
    val plain = probe.join(build, col("key") === col("bkey"))
      .select("row_id", "key", "payload").collect().toSet
    val bloomed = graft.operators.BloomJoin.filteredJoin(
        probe, build, "key", "bkey", mBits = 256, k = 2, salt = "t")
      .select("row_id", "key", "payload").collect().toSet
    assert(bloomed == plain && plain.size == 20)
    // no false negatives: every build key passes the membership test
    val words = graft.operators.BloomJoin.bloomWords(build, "bkey", 256, 2, "t")
    assert(build.filter(
      graft.operators.BloomJoin.mightContain(col("bkey"), words, 256, 2, "t"))
      .count() == 4)
  }

  test("bloom prune audit: exactly the passing-but-unmatched keys") {
    import spark.implicits._
    val probe = (0L until 64L).map(k => Tuple1(k)).toDF("key")
    val build = Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("bkey")
    // tiny saturated-ish filter (64 bits, k=1) forces false positives
    val words = graft.operators.BloomJoin.bloomWords(build, "bkey", 64, 1, "fp")
    val passing = probe.filter(
      graft.operators.BloomJoin.mightContain(col("key"), words, 64, 1, "fp"))
      .collect().map(_.getLong(0)).toSet
    val audit = graft.operators.BloomJoin.prunedNonMatches(
      probe, build, "key", "bkey", 64, 1, "fp")
      .collect().map(_.getLong(0)).toSet
    assert(passing.intersect(Set(1L, 2L, 3L)) == Set(1L, 2L, 3L))
    assert(audit == passing -- Set(1L, 2L, 3L))
  }

  test("streaming windowed counts: only watermark-closed windows are emitted") {
    import spark.implicits._
    val root = TempDirs("graft_swin_test")
    def ts(h: Int, m: Int) = java.sql.Timestamp.from(
      java.time.LocalDateTime.of(2024, 1, 1, h, m)
        .toInstant(java.time.ZoneOffset.UTC))
    // max ts 02:30, delay 30m -> final watermark 02:00: window
    // [00:00,01:00) closes; [01:00,02:00) sits ON the boundary;
    // [02:00,03:00) stays open
    Seq((ts(0, 30), "a"), (ts(1, 30), "a"), (ts(1, 45), "b"), (ts(2, 30), "a"))
      .toDF("ts", "event_type").coalesce(1).write.parquet(s"$root/in")
    graft.streaming.StreamingState.windowedCountsRunOnce(
      spark, s"$root/in", s"$root/out", s"$root/cp", "ts", "event_type")
    val got = spark.read.parquet(s"$root/out")
      .orderBy("w_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSeq
    info(s"emitted: $got")
    assert(got.map(t => (t._1.toInstant.toString, t._2, t._3)) ==
      Seq(("2024-01-01T00:00:00Z", "a", 1L),
        ("2024-01-01T01:00:00Z", "a", 1L), ("2024-01-01T01:00:00Z", "b", 1L)))
  }

  test("session_window drain: gap merge, end-exclusive boundary, watermark emission") {
    import spark.implicits._
    val root = TempDirs("graft_swsess_test")
    def ts(h: Int, m: Int) = java.sql.Timestamp.from(
      java.time.LocalDateTime.of(2024, 1, 1, h, m)
        .toInstant(java.time.ZoneOffset.UTC))
    // u1: 00:00+00:10 merge (gap 10m < 30m), 01:00 splits (50m > 30m);
    // u2: 00:00 then exactly 00:30 — touching ranges MERGE (inclusive
    // boundary); u1's 03:00 event sets watermark 02:30 and its own
    // open session is held back
    Seq((ts(0, 0), 1L, 1L), (ts(0, 10), 1L, 2L), (ts(1, 0), 1L, 3L),
        (ts(3, 0), 1L, 4L), (ts(0, 0), 2L, 5L), (ts(0, 30), 2L, 6L))
      .toDF("ts", "user_id", "event_id").coalesce(1).write.parquet(s"$root/in")
    graft.streaming.StreamingState.sessionWindowCountsRunOnce(
      spark, s"$root/in", s"$root/out", s"$root/cp", "ts", "user_id")
    val got = spark.read.parquet(s"$root/out").collect()
      .map(r => (r.getLong(2), r.getTimestamp(0).toInstant.toString,
        r.getTimestamp(1).toInstant.toString, r.getLong(3))).toSeq.sorted
    assert(got == Seq(
      (1L, "2024-01-01T00:00:00Z", "2024-01-01T00:40:00Z", 2L),
      (1L, "2024-01-01T01:00:00Z", "2024-01-01T01:30:00Z", 1L),
      (2L, "2024-01-01T00:00:00Z", "2024-01-01T01:00:00Z", 2L)), got)
  }

  test("streaming dedup drain keeps one row per checksum (same-event-time dups)") {
    import spark.implicits._
    val root = TempDirs("graft_sdedup_test")
    val ts = new java.sql.Timestamp(1700000000000L)
    Seq((1L, "h1", ts), (2L, "h2", ts), (3L, "h1", ts), (4L, "h3", ts), (5L, "h2", ts))
      .toDF("doc_id", "checksum", "ts")
      .coalesce(1).write.parquet(s"$root/in")
    graft.streaming.StreamingState.dedupRunOnce(
      spark, s"$root/in", s"$root/out", s"$root/cp")
    val got = spark.read.parquet(s"$root/out").select("checksum").collect()
      .map(_.getString(0))
    assert(got.sorted.toSeq == Seq("h1", "h2", "h3"))
  }

  test("stream-static enrichment drain inner-joins the dim and drops absent keys") {
    import spark.implicits._
    val root = TempDirs("graft_senrich_test")
    Seq((1L, "en"), (2L, "fr"), (3L, "de"), (4L, "en"))
      .toDF("doc_id", "lang")
      .coalesce(1).write.parquet(s"$root/in")
    val dim = Seq(("en", 1.0), ("de", 0.7)).toDF("lang", "lang_weight")
    graft.streaming.StreamingState.enrichRunOnce(
      spark, s"$root/in", dim, "lang", s"$root/out", s"$root/cp")
    val got = spark.read.parquet(s"$root/out")
      .select("doc_id", "lang", "lang_weight").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted
    // fr has no dim row -> dropped by inner semantics
    assert(got == Seq((1L, "en", 1.0), (3L, "de", 0.7), (4L, "en", 1.0)))
  }

  test("resample: gap days zero-filled over each user's own span, counts preserved") {
    val sf = TestData.Sf0001
    val got = SparkEntry.queries("q_resample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    val byUser = got.groupBy(_._1)
    for ((_, rows) <- byUser) {
      val days = rows.map(_._2).sorted
      // span is contiguous: every day between first and last is present
      val first = java.time.LocalDate.parse(days.head)
      val last = java.time.LocalDate.parse(days.last)
      assert(days.length == java.time.temporal.ChronoUnit.DAYS.between(first, last) + 1)
      assert(days.distinct.length == days.length)
      // first and last day of a span always have events
      assert(rows.minBy(_._2)._3 > 0 && rows.maxBy(_._2)._3 > 0)
    }
    // zero-fill adds rows, never counts: totals equal the raw table's
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byUser.map { case (u, rs) => u -> rs.map(_._3).sum } == raw)
    assert(got.exists(_._3 == 0L), "expected at least one gap day")
  }

  test("funnel: stage times strictly ordered, local recomputation matches") {
    val sf = TestData.Sf0001
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val vs = rows.filter(_._2 == "view").map(_._3)
      if (vs.isEmpty) None else {
        val tv = vs.min
        val tc = rows.filter(r => r._2 == "click" && r._3 > tv).map(_._3)
          .minOption
        val tp = tc.flatMap(t =>
          rows.filter(r => r._2 == "purchase" && r._3 > t).map(_._3).minOption)
        Some(u -> (tv, tc, tp))
      }
    }.toMap
    val got = SparkEntry.queries("q_funnel")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got == want)
    for ((_, (tv, tc, tp)) <- got) {
      tc.foreach(t => assert(t > tv))
      tp.foreach(t => assert(tc.exists(t > _)))
    }
  }

  test("retention: offset-0 counts cohort sizes, totals match distinct activity") {
    val sf = TestData.Sf0001
    val got = SparkEntry.queries("q_retention")(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    assert(got.forall(_._2 >= 0))
    // every cohort has a day_offset=0 row (its members are active on
    // their own first day by construction)
    val cohorts = got.map(_._1).distinct
    assert(cohorts.forall(c => got.exists(r => r._1 == c && r._2 == 0)))
    // total (cohort, offset) mass == distinct (user, day) activity
    val act = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().count()
    assert(got.map(_._3).sum == act)
  }

  test("ewma: fold matches the local recurrence, single-event user is its value") {
    val sf = TestData.Sf0001
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("sec"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = ev.groupBy(_._1).map { case (u, rows) =>
      val vals = rows.sortBy(r => (r._3, r._2)).map(_._4)
      u -> (vals.length.toLong,
        vals.tail.foldLeft(vals.head)((acc, x) => x * 0.3 + acc * 0.7))
    }
    val got = SparkEntry.queries("q_ewma")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == want)
  }

  test("group trend: slope equals the local sufficient-statistics computation") {
    val sf = TestData.Sf0001
    val S = 1048576.0
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), (unix_timestamp(col("ts")) - 1704067200L).as("xs"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._2).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      val sy = rows.map(r => math.floor(r._3 * S + 0.5).toLong).sum
      val sxy = rows.map(r => math.floor(r._2 * r._3 * S + 0.5).toLong).sum
      if (n * sxx - sx * sx <= 0) None
      else Some(u -> (n,
        (sxy.toDouble - sx.toDouble * sy.toDouble / n.toDouble) /
          (sxx.toDouble - sx.toDouble * sx.toDouble / n.toDouble) / S))
    }
    val got = SparkEntry.queries("q_group_trend")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("group corr: quantized-series Pearson equals local computation, bounded") {
    val sf = TestData.Sf0001
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), (unix_timestamp(col("ts")) - 1704067200L).as("xs"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.floor(r.getDouble(2) * 1024.0 + 0.5).toLong))
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val n = rows.length.toLong
      val (sx, sxx) = (rows.map(_._2).sum, rows.map(r => r._2 * r._2).sum)
      val (sy, syy) = (rows.map(_._3).sum, rows.map(r => r._3 * r._3).sum)
      val sxy = rows.map(r => r._2 * r._3).sum
      if (rows.map(_._2).distinct.length < 2 || rows.map(_._3).distinct.length < 2) None
      else Some(u -> (n,
        (sxy.toDouble - sx.toDouble * sy.toDouble / n.toDouble) /
          (math.sqrt(sxx.toDouble - sx.toDouble * sx.toDouble / n.toDouble) *
           math.sqrt(syy.toDouble - sy.toDouble * sy.toDouble / n.toDouble))))
    }
    val got = SparkEntry.queries("q_group_corr")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == want && got.nonEmpty)
    assert(got.values.forall { case (_, c) => c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12 })
  }

  test("scd2: runs compressed, intervals chain, exactly one open row per user") {
    val sf = TestData.Sf0001
    val got = SparkEntry.queries("q_scd2")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    for ((_, rows) <- got.groupBy(_._1)) {
      val sorted = rows.sortBy(_._3)
      // adjacent rows never share event_type (runs are compressed)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._2 != b._2, s"uncompressed run: $a $b")
        case _ =>
      }
      // valid_to chains to the next valid_from; only the last is open
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3))
        case _ =>
      }
      assert(sorted.count(_._4.isEmpty) == 1 && sorted.last._4.isEmpty)
      assert(sorted.forall(r => r._5 == r._4.isEmpty))
    }
  }
}
