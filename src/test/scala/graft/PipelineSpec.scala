package graft

import graft.extract.Extract
import graft.fixtures.SpanGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Dataset pipeline tests on a local session. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("SparkEntry.entry: the driver's flagship smoke yields rows with ok status") {
    val rows = SparkEntry.entry(spark).limit(50).collect()
    assert(rows.nonEmpty, "driver smoke-checks rows > 0 on entry()")
    assert(rows.forall(_.getAs[String]("status") == "ok"))
  }

  test("distributed extraction matches goldens for all seeded docs") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(120, seed = 42L)
    val ds = spark.createDataset(fixtures.map(_._1))
    val got = Extract.distributed(spark, ds, numPartitions = 16)
      .collect().map(d => d.doc_id -> d).toMap
    assert(got.size == fixtures.size)
    for ((doc, golden) <- fixtures) {
      val e = got(doc.doc_id)
      assert(e.status == "ok", s"${doc.doc_id}")
      assert(e.spans == golden, s"${doc.doc_id} span sequence")
    }
  }

  test("output is identical across parallelism/partitioning choices") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(60, seed = 9L)
    val ds = spark.createDataset(fixtures.map(_._1))
    def runWith(parts: Int): Map[String, Seq[Span]] =
      Extract.distributed(spark, ds, numPartitions = parts)
        .collect().map(d => d.doc_id -> d.spans).toMap
    assert(runWith(2) == runWith(32))
  }

  test("fromDocuments synthesizes one deterministic doc per documents row") {
    val ds = SpanGen.fromDocuments(spark, TestData.Sf0001)
    val a = ds.collect().map(d => d.doc_id -> d.spans).toMap
    assert(a.size == 500)
    val b = SpanGen.fromDocuments(spark, TestData.Sf0001)
      .repartition(13).collect().map(d => d.doc_id -> d.spans).toMap
    assert(a == b)
    // every synthesized doc extracts cleanly with at least one table
    import spark.implicits._
    val ex = Extract.run(ds).collect()
    assert(ex.forall(_.status == "ok"))
    assert(ex.forall(_.n_tables >= 1))
  }

  test("the distributed plan has exactly one exchange (the salted repartition)") {
    import spark.implicits._
    val ds = spark.createDataset(SpanGen.genDocs(5, 1L).map(_._1))
    val plan = Extract.distributed(spark, ds).queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$plan")
  }

  test("shuffle elision: well-partitioned input plans with no exchange") {
    import spark.implicits._
    // 16 partitions >= 2x local[4] parallelism -> the exchange is elided
    val ds = spark.createDataset(SpanGen.genDocs(32, 4L).map(_._1)).repartition(16).as[Doc]
    val plan = Extract.distributed(spark, ds).queryExecution.executedPlan.toString
    // the input's own repartition remains BELOW the map; distributed()
    // must not have added an exchange above it
    assert(plan.indexOf("MapPartitions") < plan.indexOf("Exchange"),
      s"exchange above the map means distributed() added one:\n$plan")
  }

  test("skew posture: forceRepartition re-places a size-skewed input correctly") {
    import spark.implicits._
    // one giant doc (2k word boxes) among tiny ones, all in ONE partition
    val giantSpans = SpanGen.layoutSpans(
      SpanGen.TableSpec(40, 25, (for { r <- 0 until 40; c <- 0 until 25 }
        yield (r, c) -> Vector(SpanGen.Vocab((r * 25 + c) % SpanGen.Vocab.length))).toMap),
      new scala.util.Random(8)).zipWithIndex.map { case ((w, ref), i) =>
      Span("word_box", w, ref, i)
    }
    val docs = Doc("giant", giantSpans) +:
      SpanGen.genDocs(63, 11L).map(_._1)
    val ds = spark.createDataset(docs).coalesce(1).as[Doc]
    val out = Extract.distributed(spark, ds, forceRepartition = true, numPartitions = 16)
    assert(out.rdd.getNumPartitions == 16)
    val got = out.collect().map(d => d.doc_id -> d).toMap
    assert(got("giant").status == "ok")
    assert(got("giant").n_cells == 1000)
    assert(got.size == 64)
  }
}
