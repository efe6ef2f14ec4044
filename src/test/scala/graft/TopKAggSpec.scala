package graft

import graft.functions.{GraftFunctions, TopKLongsAgg}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded-heap top-k native aggregate: value correctness against
  * a window-function reference, merge correctness across forced
  * partials, serialization round-trip, and the two plan properties
  * that make it scale — ObjectHashAggregate (not collect_list's
  * whole-group state) and a partial/final two-phase split so the
  * shuffle carries at most k longs per group per map partition.
  */
class TopKAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-topk-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def topk(values: Seq[(String, Long)], k: Int, parts: Int): Map[String, Seq[Long]] = {
    import spark.implicits._
    GraftFunctions.register(spark)
    values.toDF("g", "v").repartition(parts)
      .groupBy(col("g"))
      .agg(call_function("topk_longs", col("v"), lit(k)).as("tk"))
      .as[(String, Seq[Long])].collect().toMap
  }

  test("top-k equals the sorted-take reference, duplicates kept, ties by value") {
    val data = Seq("a" -> 5L, "a" -> 9L, "a" -> 9L, "a" -> 1L, "a" -> 7L,
      "b" -> 2L, "b" -> 2L, "c" -> 42L)
    val got = topk(data, k = 3, parts = 1)
    assert(got("a") == Seq(9L, 9L, 7L))
    assert(got("b") == Seq(2L, 2L))
    assert(got("c") == Seq(42L))
  }

  test("merge across many partials is arrival-order invariant") {
    val vals = (1L to 500L) ++ (1L to 500L) // duplicates across the range
    val data = vals.map(v => "g" -> v)
    val expected = vals.sorted(Ordering[Long].reverse).take(7)
    assert(topk(data, k = 7, parts = 1)("g") == expected)
    assert(topk(data, k = 7, parts = 13)("g") == expected)
    assert(topk(data.reverse, k = 7, parts = 13)("g") == expected)
  }

  test("groups smaller than k return all values descending") {
    assert(topk(Seq("x" -> 3L, "x" -> 8L), k = 10, parts = 3)("x") == Seq(8L, 3L))
  }

  test("nulls are skipped, not counted") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val got = Seq(("g", Some(4L)), ("g", None), ("g", Some(6L)))
      .toDF("g", "v").repartition(2)
      .groupBy(col("g"))
      .agg(call_function("topk_longs", col("v"), lit(5)).as("tk"))
      .as[(String, Seq[Long])].collect().toMap
    assert(got("g") == Seq(6L, 4L))
  }

  test("serialize/deserialize round-trips the heap state") {
    val agg = TopKLongsAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L),
      org.apache.spark.sql.catalyst.expressions.Literal(4))
    val b = agg.createAggregationBuffer()
    Seq(5L, -2L, 9L, 9L, 1L, 3L).foreach(b.insert)
    val b2 = agg.deserialize(agg.serialize(b))
    assert(agg.eval(b2) == agg.eval(b))
    // merge of a round-tripped partial behaves like the original
    val m = agg.createAggregationBuffer()
    m.insert(7L)
    agg.merge(m, b2)
    assert(agg.eval(m).toString == agg.eval({
      val m2 = agg.createAggregationBuffer()
      m2.insert(7L); agg.merge(m2, b)
      m2
    }).toString)
  }

  test("plan: ObjectHashAggregate with a partial/final two-phase split") {
    val p = SparkEntry.queries("q_topk_agg")(spark, TestData.Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final phases:\n${p.take(2000)}")
    assert(!p.contains("CollectList"), p.take(2000))
  }

  test("driver query ranks are 1-based and value-descending") {
    val rows = SparkEntry.queries("q_topk_agg")(spark, TestData.Sf0001)
      .orderBy(col("lang"), col("rank")).collect()
    val byLang = rows.groupBy(_.getString(0))
    byLang.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).toSeq == (1 to rs.length))
      val vs = rs.map(_.getLong(2)).toSeq
      assert(vs == vs.sorted(Ordering[Long].reverse))
    }
  }
}
