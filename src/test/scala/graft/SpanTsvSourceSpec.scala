package graft

import graft.sources.{SpanTsv, SpanTsvScanBuilder}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, IsNotNull, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 span-TSV connector:
  *  1. write -> read round-trip (including tab/newline sanitation);
  *  2. column pruning reaches the reader (readSchema == projection);
  *  3. doc_id filters are accepted, everything else stays residual
  *     and is still applied by Spark post-scan;
  *  4. zone-map file skipping happens at PLANNING time — an
  *     out-of-window bucket containing a deliberately corrupt file is
  *     never opened (the unfiltered read fails on it, the windowed
  *     read succeeds), and planInputPartitions shrinks accordingly.
  */
class SpanTsvSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-spantsv-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String =
    TempDirs("spantsv_spec")

  private def writeFixture(out: String, n: Int): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (i.toLong, i % 3,
        if (i % 2 == 0) "word_box" else "text",
        s"body\twith\ttabs $i\nand newline",
        if (i % 4 == 0) s"img:$i" else "")
    }.toDF("doc_id", "offset", "kind", "text", "media_ref")
    SpanTsv.write(df, out, bucketWidth = 10L)
  }

  test("round-trip preserves rows; structural chars are sanitized to spaces") {
    val out = tmpDir() + "/spans"
    writeFixture(out, 37)
    val got = SpanTsv.read(spark, out, 10L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    val want = (0 until 37).map { i =>
      (i.toLong, i % 3, if (i % 2 == 0) "word_box" else "text",
        s"body with tabs $i and newline", if (i % 4 == 0) s"img:$i" else "")
    }.toSet
    assert(got == want)
  }

  test("column pruning: the scan's readSchema is exactly the projection") {
    val out = tmpDir() + "/spans"
    writeFixture(out, 12)
    val b = new SpanTsvScanBuilder(out, 10L)
    b.pruneColumns(StructType(SpanTsv.schema.filter(f =>
      f.name == "doc_id" || f.name == "kind")))
    val scan = b.build()
    assert(scan.readSchema().fieldNames.toSeq == Seq("doc_id", "kind"))
    val projected = SpanTsv.read(spark, out, 10L).select("kind", "doc_id")
    assert(projected.count() == 12)
  }

  test("pushFilters accepts only doc_id bounds; residuals still apply") {
    val out = tmpDir() + "/spans"
    writeFixture(out, 30)
    val b = new SpanTsvScanBuilder(out, 10L)
    val residual = b.pushFilters(Array(
      GreaterThanOrEqual("doc_id", 5L), LessThanOrEqual("doc_id", 14L),
      EqualTo("kind", "text"), IsNotNull("doc_id"),
      StringStartsWith("media_ref", "img")))
    assert(b.pushedFilters().toSet ==
      Set[org.apache.spark.sql.sources.Filter](
        GreaterThanOrEqual("doc_id", 5L), LessThanOrEqual("doc_id", 14L)))
    assert(residual.length == 3)
    // end-to-end: the non-pushable kind filter is still honored
    val rows = SpanTsv.read(spark, out, 10L)
      .filter(col("doc_id") >= 5 && col("doc_id") <= 14 &&
        col("kind") === "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows == (5 to 14).filter(_ % 2 == 1).map(_.toLong).toSet)
  }

  test("zone-map skipping: out-of-window corrupt bucket is never opened") {
    val out = tmpDir() + "/spans"
    writeFixture(out, 40) // buckets 0..3
    // plant a corrupt file in bucket=3 — any reader touching it throws
    val corrupt = new java.io.File(out, "bucket=3/part-corrupt.txt")
    java.nio.file.Files.write(corrupt.toPath,
      "not a valid line".getBytes("UTF-8"))
    // windowed read plans only buckets 0..1: succeeds
    val got = SpanTsv.read(spark, out, 10L)
      .filter(col("doc_id") <= 15).count()
    assert(got == 16)
    // unfiltered read must open bucket=3 and fail on the corrupt file
    val err = intercept[org.apache.spark.SparkException] {
      SpanTsv.read(spark, out, 10L).count()
    }
    assert(err.getMessage.contains("malformed span-tsv")
      || Option(err.getCause).exists(_.getMessage.contains("malformed span-tsv"))
      || err.toString.contains("malformed"))
    // planning-time proof: partitions shrink under the pushed window
    val all = new SpanTsvScanBuilder(out, 10L).build()
      .toBatch.planInputPartitions().length
    val bAll = new SpanTsvScanBuilder(out, 10L)
    bAll.pushFilters(Array(LessThanOrEqual("doc_id", 15L)))
    val pruned = bAll.build().toBatch.planInputPartitions().length
    assert(pruned < all && pruned == 2)
  }
}
