package graft

import graft.fixtures.SpanGen
import graft.lineage.Lineage
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The spark-submit entry point end-to-end: a partial attempt followed
  * by a full resume through `graft.Run.run`, verified against goldens.
  */
class RunSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-run-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = TempDirs("graft-run")

  test("partial attempt + resume via the Run entry point; goldens hold") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(60, seed = 55L)
    val base = tmp()
    val half = s"$base/input_half"
    val full = s"$base/input_full"
    spark.createDataset(fixtures.take(30).map(_._1)).write.parquet(half)
    spark.createDataset(fixtures.map(_._1)).write.parquet(full)

    val out = s"$base/out"
    val metrics = s"$base/metrics"
    val (p1, s1) = Run.run(spark, Array(half, out, metrics, "attempt-1"))
    assert(p1 == 30 && s1 == 0)
    val (p2, s2) = Run.run(spark, Array(full, out, metrics, "attempt-2", "e1"))
    assert(p2 == 30 && s2 == 30)

    val rows = Lineage.readCommitted(spark, out, metrics)
      .select("doc_id", "spans", "status").as[(String, Seq[Span], String)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows.size == 60)
    for ((doc, golden) <- fixtures) {
      assert(rows(doc.doc_id)._3 == "ok")
      assert(rows(doc.doc_id)._2 == golden, doc.doc_id)
    }
  }

  test("batched mode via the CLI arg commits per batch and resumes") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(40, seed = 77L)
    val base = tmp()
    val full = s"$base/input"
    spark.createDataset(fixtures.map(_._1)).write.parquet(full)
    val out = s"$base/out"
    val metrics = s"$base/metrics"
    val (p1, s1) = Run.run(spark, Array(full, out, metrics, "a1", "e1", "0", "4"))
    assert(p1 == 40 && s1 == 0)
    // four per-batch commits landed, one run_id per batch
    assert(spark.read.parquet(out).select("run_id").distinct().count() == 4)
    // a rerun under a new base id is a no-op
    val (p2, s2) = Run.run(spark, Array(full, out, metrics, "a2", "e1", "0", "4"))
    assert(p2 == 0 && s2 == 40)
    assert(Lineage.readCommitted(spark, out, metrics).count() == 40)
  }

  test("strategy parsing and bad usage fail fast") {
    assert(Run.parseStrategy("e2mid") == graft.extract.Extract.Strategy.SplitMidpoint)
    intercept[IllegalArgumentException] { Run.parseStrategy("bogus") }
    intercept[IllegalArgumentException] { Run.run(spark, Array("onlyone")) }
  }

  test("an input without Doc-shaped spans fails before any table is touched") {
    import spark.implicits._
    val base = tmp()
    val noSpans = s"$base/no_spans"
    Seq(("d1", "x")).toDF("doc_id", "text").write.parquet(noSpans)
    val flatSpans = s"$base/flat_spans"
    Seq(("d1", Seq("x"))).toDF("doc_id", "spans").write.parquet(flatSpans)
    val out = s"$base/out"
    val metrics = s"$base/metrics"
    for (in <- Seq(noSpans, flatSpans)) {
      val e = intercept[IllegalArgumentException] {
        Run.run(spark, Array(in, out, metrics, "r1"))
      }
      assert(e.getMessage.contains("spans"), e.getMessage)
      assert(!Files.exists(Paths.get(out)) && !Files.exists(Paths.get(metrics)))
    }
  }
}
