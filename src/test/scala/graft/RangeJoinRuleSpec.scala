package graft

import graft.plans.RangeJoinRule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinRuleSpec extends AnyFunSuite {

  // an isolated child session: getOrCreate would APPLY builder confs to
  // the one session every suite in this JVM shares, so setting the
  // broadcast threshold there would silently break other suites'
  // broadcast plan gates
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-rangejoin-rule-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.experimental.extraOptimizations ++= Seq(RangeJoinRule)
    s
  }

  private def frames() = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val points = (0 until 200).map(i => (i.toLong, rng.nextDouble() * 40 - 20))
      .toDF("p_id", "x")
    val intervals = (0 until 60).map { i =>
      val lo = rng.nextDouble() * 40 - 22
      (1000L + i, lo, lo + rng.nextDouble() * 6)
    }.toDF("iv_id", "lo", "hi")
    (points, intervals)
  }

  test("width set: a plain theta join rewrites to an equi-join, output unchanged") {
    val (points, intervals) = frames()
    spark.conf.set(RangeJoinRule.WidthConf, "2.5")
    try {
      val joined = points.join(intervals,
        col("lo") <= col("x") && col("x") <= col("hi"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
      // output columns preserved exactly — the rewrite is transparent
      assert(joined.columns.toSeq == Seq("p_id", "x", "iv_id", "lo", "hi"))
      val got = joined.select("p_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      spark.conf.unset(RangeJoinRule.WidthConf)
      val want = points.join(intervals,
          col("lo") <= col("x") && col("x") <= col("hi"))
        .select("p_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == want && got.nonEmpty)
    } finally spark.conf.unset(RangeJoinRule.WidthConf)
  }

  test("strict bounds and reversed comparisons rewrite too, exactly") {
    val (points, intervals) = frames()
    spark.conf.set(RangeJoinRule.WidthConf, "3.0")
    try {
      val joined = points.join(intervals,
        col("x") > col("lo") && col("hi") >= col("x"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
      val got = joined.select("p_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      spark.conf.unset(RangeJoinRule.WidthConf)
      val want = points.join(intervals,
          col("x") > col("lo") && col("hi") >= col("x"))
        .select("p_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == want && got.nonEmpty)
    } finally spark.conf.unset(RangeJoinRule.WidthConf)
  }

  test("no-ops: width unset, equi-join present, or no containment pattern") {
    val (points, intervals) = frames()
    // width unset -> untouched (nested loop stays)
    val raw = points.join(intervals,
        col("lo") <= col("x") && col("x") <= col("hi"))
      .queryExecution.executedPlan.toString
    assert(raw.contains("NestedLoop") || raw.contains("CartesianProduct"), raw.take(2000))
    spark.conf.set(RangeJoinRule.WidthConf, "2.0")
    try {
      // an existing cross-side equality -> leave the plan alone
      val equi = points.join(intervals,
          col("p_id") === col("iv_id") &&
            col("lo") <= col("x") && col("x") <= col("hi"))
        .queryExecution.executedPlan.toString
      assert(!equi.contains("__graft_bucket_p"), equi.take(2000))
      // a one-sided comparison only -> no containment, untouched
      val half = points.join(intervals, col("lo") <= col("x"))
        .queryExecution.executedPlan.toString
      assert(!half.contains("__graft_bucket_p"), half.take(2000))
    } finally spark.conf.unset(RangeJoinRule.WidthConf)
  }

  test("q_rangejoin_rule plans as an equi-join and matches the baseline output") {
    val sf = TestData.Sf0001
    val df = SparkEntry.queries("q_rangejoin_rule")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("__graft_bucket_p"), "rule did not fire:\n" + p.take(2000))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = SparkEntry.queries("q_containment_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("inverted intervals are filtered before the explode under the rule") {
    import spark.implicits._
    spark.conf.set(RangeJoinRule.WidthConf, "2.0")
    try {
      val points = Seq((1L, 5.0), (2L, 7.0)).toDF("p_id", "x")
      val intervals = Seq((9L, 4.0, 8.0), (10L, 100.0, -100.0)).toDF("iv_id", "lo", "hi")
      val got = points.join(intervals,
          col("lo") <= col("x") && col("x") <= col("hi"))
        .select("p_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 9L), (2L, 9L)))
    } finally spark.conf.unset(RangeJoinRule.WidthConf)
  }
}
