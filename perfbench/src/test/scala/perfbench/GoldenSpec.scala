package perfbench

import graft.{Span, SpanKinds}
import graft.fixtures.SpanGen

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The benchmark's own checks must be able to fail. */
class GoldenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val work = Files.createTempDirectory("perfbench-spec").toFile

  override def beforeAll(): Unit = {
    spark = Main.session(2, work)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Dirs.delete(work)
  }

  test("a golden with one cell's text changed gives span_mismatch_docs = 1") {
    val seed = 42L
    val nDocs = 40
    // a resumed job: the committed output spans the earlier run and this one
    val w = new ExtractWorkload(spark, work, nDocs, seed, resume = true)
    w.prepare()
    val (out, metrics) = w.fresh()
    val (processed, skipped) = w.job(out, metrics)
    assert(processed > 0 && skipped > 0 && processed + skipped == nDocs)
    val tables = Seq((out, metrics))
    assert(w.score(tables) == Seq(Golden.Tally(0, 0)))

    def gold(id: Long): Vector[Span] = SpanGen.genDoc(id, seed)._2
    val changed = (0L until nDocs).find(id => gold(id).exists(_.kind == SpanKinds.Cell)).get
    val golden: Long => Seq[Span] = id => {
      val g = gold(id)
      if (id != changed) g
      else {
        val i = g.indexWhere(_.kind == SpanKinds.Cell)
        g.updated(i, g(i).copy(text = g(i).text + "!"))
      }
    }
    val hashes = (0 until nDocs).map(id => Golden.spanHash(golden(id.toLong))).toArray
    val tally = Golden.score(spark, tables, hashes).head
    assert(tally.mismatchDocs == 1)
    assert(tally.errorDocs == 0)
  }

  test("missing, duplicated and foreign docs count as mismatches") {
    val ok = (n: Long) => (n, true, false)
    assert(Golden.tally(Seq(ok(0), ok(1), ok(2)), 3).mismatchDocs == 0)
    assert(Golden.tally(Seq(ok(0), ok(2)), 3).mismatchDocs == 1)
    assert(Golden.tally(Seq(ok(0), ok(1), ok(1), ok(2)), 3).mismatchDocs == 1)
    assert(Golden.tally(Seq(ok(0), ok(1), ok(2), ok(7), ok(-1)), 3).mismatchDocs == 2)
    assert(Golden.tally(Seq(ok(0), (1L, true, true), ok(2)), 3).errorDocs == 1)
  }

  test("the tracer counts the SortMergeJoins of a query's final plan") {
    val tracer = new Tracer(spark).attach()
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = spark.range(1000).toDF("id")
      val (_, win) = tracer.measure(
        a.join(spark.range(500).toDF("id"), "id").write.format("noop").mode(SaveMode.Overwrite).save())
      assert(win.smj == 1)
      assert(win.jobs >= 1)
      assert(win.taskCpuS > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      tracer.detach()
    }
  }
}
