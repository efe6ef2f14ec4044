package graft

import graft.tools.Profile
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.File

/** `graft.tools.Profile`'s per-query row: the fields PROFILE.json holds,
  * their basic consistency, the error row of a query that throws, and
  * the operator count through a cached frame.
  */
class ProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-profile-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = TestData.Sf0001

  private val identity = Seq("query", "sf", "cpus", "trials", "bypass_merge_threshold")
  private val measured = Seq("rows", "wall_s", "task_cpu_s", "gc_s", "jobs", "stages",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_ms_max",
    "task_ms_median", "exchanges", "sort_merge_joins", "broadcast_hash_joins",
    "in_memory_table_scans", "existing_rdd_scans", "cache_before", "cache_after")

  test("a profile row holds every field; jobs >= 1, stages >= jobs, wall > 0") {
    for (q <- Seq("q_filter_word", "q_join_lookup")) {
      val row = Profile.profile(spark, q, sf, trials = 2).toMap
      val missing = (identity ++ measured).filterNot(row.contains)
      assert(missing.isEmpty, s"$q lacks $missing")
      assert(!row.contains("error"), s"$q: ${row.get("error")}")
      assert(row("query") == q && row("sf") == "sf0.001" && row("trials") == 2)
      assert(row("rows") == SparkEntry.queries(q)(spark, sf).count())
      val jobs = row("jobs").asInstanceOf[Int]
      assert(jobs >= 1 && row("stages").asInstanceOf[Int] >= jobs, s"$q: $row")
      assert(row("wall_s").asInstanceOf[Double] > 0.0)
      val ms = Seq("task_ms_median", "task_ms_max").map(row(_).asInstanceOf[Long])
      assert(ms(0) <= ms(1), s"$q: $row")
      if (q == "q_join_lookup")
        assert(row("broadcast_hash_joins").asInstanceOf[Int] >= 1, row)
    }
  }

  test("a cached frame's plan counts once per window, however many scans read it") {
    import org.apache.spark.sql.functions.col
    val w = new Profile.Window
    Rounds.cached(spark.range(100).toDF().repartition(3, col("id"))) { c =>
      val twice = c.union(c)
      twice.collect()
      Profile.countOps(twice.queryExecution.executedPlan, w)
    }
    assert(w.ops("InMemoryTableScan") == 2 && w.ops("Exchange") == 1, w.ops)
  }

  test("the run names exactly the queries that left CacheManager entries") {
    def row(q: String, before: Int, after: Int) =
      Seq("query" -> q, "cache_before" -> before, "cache_after" -> after)
    val rows = Seq(row("q_a", 0, 0), row("q_b", 0, 1), row("q_c", 3, 5), row("q_d", 2, 1),
      Seq("query" -> "q_e", "error" -> "java.lang.RuntimeException"))
    assert(Profile.cacheLeaks(rows) == Seq("q_b", "q_c"))
    assert(Profile.cacheLeaks(rows.take(1)).isEmpty)
  }

  test("a query that throws yields an error row, not a dropped one") {
    val missingDir = new File(sf, "no_such_sf").getPath
    val row = Profile.profile(spark, "q_filter_word", missingDir, trials = 2).toMap
    assert(row("error") == "org.apache.spark.sql.AnalysisException", row)
    assert(identity.forall(row.contains) && !measured.exists(row.contains), row)
  }
}
