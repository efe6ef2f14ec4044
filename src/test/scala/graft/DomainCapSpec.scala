package graft

import graft.corpus.Sampling
import graft.lineage.{ParquetCatalog, SnapshotDiff}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Domain-cap sampling and snapshot diffing. */
class DomainCapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-domaincap-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("domainCap keeps exactly cap rows per group, matching one global window") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"d${i % 3}")).toDF("id", "grp")
    val capped = Sampling.domainCap(df, "grp", "id", cap = 5, salt = "t")
    val counts = capped.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts == Map("d0" -> 5L, "d1" -> 5L, "d2" -> 5L))
    // skew bound: the rank-limit pushdown must put a partial
    // WindowGroupLimit on the map side of the window's exchange
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"plan:\n$plan")
    // result == plain single global window top-cap
    val w = Window.partitionBy(col("grp"))
      .orderBy(Sampling.portableHash(col("id"), "t").asc, col("id").asc)
    val expected = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("id", "grp")
    assert(capped.select("id", "grp").except(expected).isEmpty &&
      expected.except(capped.select("id", "grp")).isEmpty)
  }

  test("domainCap leaves small groups whole") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp")
    assert(Sampling.domainCap(df, "grp", "id", cap = 10).count() == 3)
  }

  test("snapshot diff classifies added / removed / modified, drops unchanged") {
    import spark.implicits._
    val v1 = Seq((1L, "h1"), (2L, "h2"), (3L, "h3")).toDF("id", "c")
    val v2 = Seq((2L, "h2x"), (3L, "h3"), (4L, "h4")).toDF("id", "c")
    val out = SnapshotDiff.diff(v1, v2, "id", "c")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 2L -> "modified", 4L -> "added"))
  }

  test("refAudit classifies matched / orphan_ref / unused on distinct keys") {
    import spark.implicits._
    val refs = Seq("a", "a", "b").toDF("k") // duplicate ref counts once
    val inv = Seq("a", "c").toDF("k")
    val out = graft.operators.RefAudit.audit(refs, inv, "k")
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "matched", "b" -> "orphan_ref", "c" -> "unused"))
  }

  test("snapshot diff over catalog time travel reports appended rows as added") {
    import spark.implicits._
    val table = TempDirs("graft_sdiff") + "/t"
    ParquetCatalog.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "checksum"), table)
    ParquetCatalog.append(Seq((3L, "c")).toDF("id", "checksum"), table)
    assert(ParquetCatalog.snapshots(spark, table) == Seq(1L, 2L))
    val out = SnapshotDiff.diff(
      ParquetCatalog.readAsOf(spark, table, 1L),
      ParquetCatalog.readAsOf(spark, table, 2L), "id", "checksum")
      .as[(Long, String)].collect().toMap
    assert(out == Map(3L -> "added"))
  }
}
