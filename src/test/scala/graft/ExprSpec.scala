package graft

import graft.extract.Extract
import graft.fixtures.SpanGen
import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native Catalyst expression must be indistinguishable from the
  * typed-Dataset reference implementation on every fixture, including
  * goldens, pass-through cases and the E2 strategy.
  */
class ExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-expr-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def collectPath(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Span], Int, Int, String)] = {
    import spark.implicits._
    df.select("doc_id", "spans", "n_tables", "n_cells", "status")
      .as[(String, Seq[Span], Int, Int, String)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }

  test("expression path == typed path on 200 seeded fixture docs (E1)") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(200, seed = 77L)
    val ds = spark.createDataset(fixtures.map(_._1))
    val typed = collectPath(Extract.run(ds).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF()))
    assert(typed.keySet == exprd.keySet)
    for ((k, v) <- typed) assert(exprd(k) == v, s"doc $k")
    // and the goldens hold through the expression path too
    val goldens = fixtures.map { case (d, g) => d.doc_id -> g }.toMap
    for ((k, (spans, _, _, status)) <- exprd) {
      assert(status == "ok")
      assert(spans == goldens(k), s"golden $k")
    }
  }

  test("expression path == typed path with the E2 split heuristic") {
    import spark.implicits._
    val ds = spark.createDataset(SpanGen.genDocs(60, seed = 31L).map(_._1))
    val typed = collectPath(Extract.run(ds, Extract.Strategy.SplitHeuristic).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF(), split = true))
    for ((k, v) <- typed) assert(exprd(k) == v, s"doc $k")
  }

  test("expression path == typed path with the E2 midpoint variant") {
    import spark.implicits._
    val ds = spark.createDataset(SpanGen.genDocs(60, seed = 41L).map(_._1))
    val typed = collectPath(Extract.run(ds, Extract.Strategy.SplitMidpoint).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF(), split = true, midpoint = true))
    for ((k, v) <- typed) assert(exprd(k) == v, s"doc $k")
    // With FindSplits-derived splits, edge and midpoint bucketing are
    // provably identical (any box with x0 < split ends before the gap
    // that produced the split, so its midpoint is < split too); the
    // variants only diverge under externally supplied split positions —
    // asserted at the Geom level with a custom xs:
    val words = Seq(
      WordBox("narrow", 0.10, 0.20, 0.1, 0.2),
      WordBox("straddler", 0.28, 0.60, 0.1, 0.2)) // mid 0.44 crosses 0.30
    val xs = IndexedSeq(0.30)
    val edge = graft.geom.Geom.splitRowBoxesEdge(words, xs).map(_.map(_.text))
    val mid = graft.geom.Geom.splitRowBoxesMidpoint(words, xs).map(_.map(_.text))
    assert(edge == Vector(Vector("narrow", "straddler"), Vector()))
    assert(mid == Vector(Vector("narrow"), Vector("straddler")))
  }

  test("expression path handles degenerate docs like the typed path") {
    import spark.implicits._
    val weird = Seq(
      Doc("empty", Nil),
      Doc("bad-box", Vector(Span("word_box", "w", "not-a-bbox", 0))),
      Doc("bad-cells", Vector(Span("cell", "a", "1,1", 0), Span("cell", "b", "3,1", 1))),
      Doc("shuffled", Vector(Span("text", "b", "", 1), Span("text", "a", "", 0))),
      Doc("neg-offsets", Vector(Span("text", "x", "", -5), Span("text", "y", "", -9))),
      Doc("html", Vector(Span("html", "<p>keep this</p><a href=x>drop</a>", "", 0))))
    val ds = spark.createDataset(weird)
    val typed = collectPath(Extract.run(ds).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF()))
    for ((k, v) <- typed) assert(exprd(k) == v, s"doc $k")
  }

  test("fuzz: expression == typed on adversarial (constraint-violating) geometry") {
    import spark.implicits._
    // random overlapping bands / chained x-overlaps / zero-area boxes /
    // negative coords — outside the fixture validity envelope on purpose
    val rng = new scala.util.Random(99)
    def randDoc(id: Int): Doc = {
      // up to 90 spans: docs with >32 same-run word boxes reach TimSort's
      // merge path, where a non-transitive comparator (the E2 byRow sort)
      // can throw — the error path must then match on both engines too
      val nSpans = 1 + rng.nextInt(90)
      // word texts cover the trim-parity corners: leading/trailing
      // spaces (per-append fold vs naive join), tabs (String.trim vs
      // space-only trim), and empty strings
      def wordText(k: Int): String = rng.nextInt(6) match {
        case 0 | 1 | 2 => s"w$k"
        case 3 => s" w$k"
        case 4 => s"w$k\t"
        case 5 => ""
      }
      val spans = (0 until nSpans).map { k =>
        rng.nextInt(6) match {
          case 0 => Span("text", s"t$k", "", k)
          case 1 => Span("media", "", s"m$k", k)
          case 2 =>
            val x0 = rng.nextDouble() * 2 - 0.5
            val y0 = rng.nextDouble() * 2 - 0.5
            val w = rng.nextDouble() * 0.6
            val h = rng.nextDouble() * 0.6
            // exponent-format refs exercise the JDK-fallback parse parity
            val ref =
              if (rng.nextInt(4) == 0)
                f"$x0%.3e,${x0 + w}%.3e,$y0%.3e,${y0 + h}%.3e"
              else f"$x0%.4f,${x0 + w}%.4f,$y0%.4f,${y0 + h}%.4f"
            Span("word_box", wordText(k), ref, k)
          case 3 => Span("word_box", s"bad$k", "not,a,box", k)
          case 4 => Span("cell", s"c$k", s"${1 + rng.nextInt(4)},${1 + rng.nextInt(4)}", k)
          case 5 => Span("html", s"<p>p$k</p>", "", k)
        }
      }
      Doc(s"fuzz-$id", spans)
    }
    // word boxes on a coarse grid pin E1's tie paths: duplicate x0 in one
    // row, "-0" (parsed as -0.0) next to "0", touching and nested
    // intervals, and identical boxes
    def gridDoc(id: Int): Doc = {
      def at(g: Int): String = if (g == 0 && rng.nextBoolean()) "-0" else (g * 0.25).toString
      var ref = ""
      val spans = (0 until 2 + rng.nextInt(40)).map { k =>
        if (k == 0 || rng.nextInt(5) > 0) {
          val (x, y) = (rng.nextInt(6) - 1, rng.nextInt(5) - 1)
          ref = s"${at(x)},${at(x + rng.nextInt(3))},${at(y)},${at(y + rng.nextInt(2))}"
        }
        Span("word_box", s"g$k", ref, k)
      }
      Doc(s"grid-$id", spans)
    }
    val docs = (0 until 400).map(randDoc) ++ (0 until 300).map(gridDoc)
    val ds = spark.createDataset(docs)
    val typed = collectPath(Extract.run(ds).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF()))
    for ((k, v) <- typed) assert(exprd(k) == v, s"doc $k")
    // and E2 (the non-total-comparator path) too
    val typed2 = collectPath(Extract.run(ds, Extract.Strategy.SplitHeuristic).toDF())
    val exprd2 = collectPath(GraftFunctions.extractDF(spark, ds.toDF(), split = true))
    for ((k, v) <- typed2) assert(exprd2(k) == v, s"E2 doc $k")
    // and the midpoint variant
    val typed3 = collectPath(Extract.run(ds, Extract.Strategy.SplitMidpoint).toDF())
    val exprd3 = collectPath(GraftFunctions.extractDF(spark, ds.toDF(), split = true, midpoint = true))
    for ((k, v) <- typed3) assert(exprd3(k) == v, s"E2mid doc $k")
  }

  test("mixed-sign offsets sort identically on both paths (signed key order)") {
    import spark.implicits._
    val docs = Seq(
      Doc("mixed", Vector(Span("text", "a", "", 3), Span("text", "b", "", -5),
        Span("text", "c", "", 0))),
      Doc("mixed2", Vector(Span("text", "a", "", 0), Span("text", "b", "", -1),
        Span("text", "c", "", 3), Span("text", "d", "", -5))))
    val ds = spark.createDataset(docs)
    val typed = collectPath(Extract.run(ds).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF()))
    for ((k, v) <- typed) assert(exprd(k) == v, s"doc $k")
    // negative offsets come first — the order a biased packed key broke
    assert(exprd("mixed")._1.map(_.text) == Seq("b", "c", "a"))
    assert(exprd("mixed2")._1.map(_.text) == Seq("d", "b", "a", "c"))
  }

  /** 64 random tall overlapping boxes: the E2 row comparator is
    * non-transitive on overlapping bands and trips TimSort's
    * contract check once merge runs engage (>32 elements). Seed pinned
    * by search (graft.tools.FindAdversarial).
    */
  private def adversarialBoxes(seed: Int): Vector[Span] = {
    val rng = new scala.util.Random(seed)
    (0 until 64).map { k =>
      val x0 = rng.nextDouble()
      val y0 = rng.nextDouble()
      val w = rng.nextDouble() * 0.5
      val h = rng.nextDouble() * 0.9
      Span("word_box", s"w$k", f"$x0%.6f,${x0 + w}%.6f,$y0%.6f,${y0 + h}%.6f", k)
    }.toVector
  }

  test("error path: comparator-tripping unsorted doc passes through sorted on both paths") {
    import spark.implicits._
    // stored in reverse array order, so the error handler must sort by
    // offset (the round-1 expr handler passed through in array order)
    val docs = Seq(
      Doc("adv-sorted", adversarialBoxes(19)),
      Doc("adv-unsorted", adversarialBoxes(19).reverse),
      // null span element alongside the throwing geometry: the handler
      // must be null-safe (round-1 handler NPE'd inside the catch)
      Doc("adv-null", (adversarialBoxes(19) :+ null).reverse))
    val ds = spark.createDataset(docs)
    val typed = collectPath(Extract.run(ds, Extract.Strategy.SplitHeuristic).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF(), split = true))
    assert(typed("adv-sorted")._4.startsWith("error:"), typed("adv-sorted")._4)
    for ((k, v) <- typed) {
      assert(v._4.startsWith("error:"), s"doc $k expected error status, got ${v._4}")
      assert(exprd(k) == v, s"doc $k")
      // pass-through is offset-sorted and renumbered on both paths
      assert(v._1.map(_.offset) == v._1.indices)
      assert(v._1.filter(_.kind == "word_box").map(_.text) ==
        (0 until 64).map(i => s"w$i"), s"doc $k not offset-sorted")
    }
  }

  test("null span elements and null fields pass through identically (status ok)") {
    import spark.implicits._
    val docs = Seq(
      Doc("with-null-span", Vector(Span("text", "a", "", 0), null, Span("text", "b", "", 2))),
      Doc("with-null-fields", Vector(Span("text", null, null, 0), Span("media", null, "m", 1))))
    val ds = spark.createDataset(docs)
    val typed = collectPath(Extract.run(ds).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF()))
    for ((k, v) <- typed) {
      assert(v._4 == "ok", s"doc $k")
      assert(exprd(k) == v, s"doc $k")
    }
    assert(typed("with-null-span")._1.length == 3)
  }

  test("timed form: extract_spans plus wall_ms, null spans an error row, codegen == interpreted") {
    import spark.implicits._
    import org.apache.spark.sql.graft.PlanBridge
    val docs = SpanGen.genDocs(40, seed = 93L).map(_._1) :+ Doc("null-spans", null)
    val df = spark.createDataset(docs).toDF()
    val timed = PlanBridge.column(graft.functions.ExtractSpansExpr(
      PlanBridge.expression(col("spans")), useSplitHeuristic = false, timed = true))
    def run(): Map[String, ((Seq[Span], Int, Int, String), Long)] =
      df.select(col("doc_id"), timed.as("ex"))
        .select(col("doc_id"), col("ex.spans"), col("ex.n_tables"), col("ex.n_cells"),
          col("ex.status"), col("ex.wall_ms"))
        .as[(String, Seq[Span], Int, Int, String, Long)].collect()
        .map(r => r._1 -> (((r._2, r._3, r._4, r._5), r._6))).toMap
    val untimed = collectPath(GraftFunctions.extractDF(spark, df.filter(col("spans").isNotNull)))
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val codegen = run()
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    val interp = try run() finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
    for (got <- Seq(codegen, interp)) {
      assert(got.keySet == docs.map(_.doc_id).toSet)
      assert(got.values.forall(_._2 >= 0L))
      assert(got("null-spans")._1 == ((Seq.empty[Span], 0, 0, "error:NullPointerException")))
      for (d <- docs if d.spans != null) assert(got(d.doc_id)._1 == untimed(d.doc_id), d.doc_id)
    }
    // the registered, untimed form keeps null in, null out
    assert(GraftFunctions.extractDF(spark, df).filter(col("doc_id") === "null-spans")
      .select("status").head().isNullAt(0))
  }

  test("E1 cell-text fold: leading-space word keeps its space mid-cell (a, ' b' -> 'a  b')") {
    import spark.implicits._
    // two words in one cell: same row band, same x-region (chained)
    val docs = Seq(Doc("fold", Vector(
      Span("word_box", "a", "0.10,0.20,0.10,0.20", 0),
      Span("word_box", " b", "0.15,0.30,0.10,0.20", 1))))
    val ds = spark.createDataset(docs)
    val typed = collectPath(Extract.run(ds).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF()))
    assert(typed("fold")._1.map(_.text) == Seq("a  b"))
    assert(exprd("fold") == typed("fold"))
  }

  test("exponent-format bbox refs decode on both paths") {
    import spark.implicits._
    val docs = Seq(Doc("expref", Vector(
      Span("word_box", "x", "1e-1,2e-1,1e-1,2e-1", 0),
      Span("word_box", "y", "3.0E-1,4.0E-1,1e-1,2e-1", 1))))
    val ds = spark.createDataset(docs)
    val typed = collectPath(Extract.run(ds).toDF())
    val exprd = collectPath(GraftFunctions.extractDF(spark, ds.toDF()))
    assert(typed("expref")._3 == 2, "exponent refs should decode to a 1x2 table")
    assert(exprd("expref") == typed("expref"))
  }

  test("extract_spans is callable from SQL") {
    import spark.implicits._
    GraftFunctions.register(spark)
    spark.createDataset(SpanGen.genDocs(3, 5L).map(_._1))
      .createOrReplaceTempView("docs_v")
    val got = spark.sql(
      "SELECT doc_id, extract_spans(spans).n_cells AS nc FROM docs_v")
      .collect()
    assert(got.length == 3)
    assert(got.forall(_.getAs[Int]("nc") > 0))
  }

  test("expression plan is a single Project over the scan (no object round-trip)") {
    import spark.implicits._
    val ds = spark.createDataset(SpanGen.genDocs(3, 6L).map(_._1))
    val plan = GraftFunctions.extractDF(spark, ds.toDF())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"), plan)
    assert(!plan.contains("MapPartitions"), plan)
  }
}
