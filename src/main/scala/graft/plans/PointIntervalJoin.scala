package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DoubleType

/** Broadcast point-in-interval lookup join as a FULL custom operator —
  * stage (c) of the custom-operator preference order: a dedicated
  * `LogicalPlan` node, a `SparkStrategy` planning it, and a physical
  * `SparkPlan` executing it, injected via `SparkSessionExtensions`
  * ([[graft.functions.GraftExtensions]]).
  *
  * Why the built-ins don't cover this shape: `point BETWEEN lo AND hi`
  * with a broadcastable interval side plans as BroadcastNestedLoopJoin
  * — O(points x intervals) comparisons, which at 10^5 intervals is a
  * 10^5x per-row tax on a 100 TB point side. The bucketed equi-join
  * ([[graft.operators.RangeJoin]]) is the two-big-sides answer but
  * pays an interval-width-dependent explode. This operator is the
  * third regime: interval side fits one executor's memory -> sort it
  * by `lo` ONCE, precompute a running max of `hi`, broadcast the
  * arrays, and each point row binary-searches (O(log m)) then scans
  * backward only while the prefix-max `hi` can still reach the point —
  * the classic sorted-interval stab lookup. No shuffle, no explode, no
  * per-row full scan; cost is O(points x (log m + answers)).
  *
  * Semantics: inner join on `lo <= point AND point <= hi` (closed);
  * null points/bounds and inverted intervals (lo > hi) match nothing.
  * All three expressions are cast to double at construction.
  */
case class PointIntervalJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    point: Expression,
    lo: Expression,
    hi: Expression) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): PointIntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[PointIntervalJoin]]; injected via
  * `injectPlannerStrategy(_ => PointIntervalJoinStrategy)`.
  */
object PointIntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PointIntervalJoin(l, r, p, lo, hi) =>
      PointIntervalJoinExec(planLater(l), planLater(r), p, lo, hi) :: Nil
    case _ => Nil
  }
}

/** Physical stab-lookup join. The interval side is collected once on
  * the driver (the BroadcastNestedLoopJoin contract — the caller
  * asserts it fits), sorted by `lo` with a prefix-max of `hi`, and
  * broadcast; each point task binary-searches the `lo` array and walks
  * backward while `maxHi(i) >= p` — the prefix max is exactly the
  * early-termination bound that makes arbitrary overlap safe.
  */
case class PointIntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    point: Expression,
    lo: Expression,
    hi: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): PointIntervalJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    // driver-side build: evaluate (lo, hi) per collected interval row,
    // drop null/inverted intervals, sort by lo, prefix-max the hi
    val boundsProj = UnsafeProjection.create(
      Seq(Cast(lo, DoubleType), Cast(hi, DoubleType)), right.output)
    val built = right.executeCollect().flatMap { r =>
      val b = boundsProj(r)
      if (b.isNullAt(0) || b.isNullAt(1)) None
      else {
        val l = b.getDouble(0); val h = b.getDouble(1)
        if (l > h) None else Some((l, h, r.copy()))
      }
    }.sortBy(_._1)
    val los = built.map(_._1)
    val his = built.map(_._2)
    val maxHi = new Array[Double](built.length)
    var i = 0
    var run = Double.NegativeInfinity
    while (i < built.length) {
      if (his(i) > run) run = his(i)
      maxHi(i) = run
      i += 1
    }
    val rows = built.map(_._3)
    val bc = sparkContext.broadcast((los, maxHi, his, rows))

    val leftOut = left.output
    val rightOut = right.output
    val pointExpr = Cast(point, DoubleType)
    left.execute().mapPartitions { iter =>
      val (blo, bmax, bhi, brows) = bc.value
      val pProj = UnsafeProjection.create(Seq(pointExpr), leftOut)
      val resultProj = UnsafeProjection.create(output, leftOut ++ rightOut)
      val joined = new JoinedRow
      iter.flatMap { lrow =>
        val pv = pProj(lrow)
        if (pv.isNullAt(0) || blo.isEmpty) Iterator.empty
        else {
          val p = pv.getDouble(0)
          // last index with lo <= p
          var a = 0; var b = blo.length
          while (a < b) {
            val mid = (a + b) >>> 1
            if (blo(mid) <= p) a = mid + 1 else b = mid
          }
          var idx = a - 1
          val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          while (idx >= 0 && bmax(idx) >= p) {
            if (bhi(idx) >= p) out += resultProj(joined(lrow, brows(idx))).copy()
            idx -= 1
          }
          out.iterator
        }
      }
    }
  }
}

/** Public construction API: the DataFrame-level entry that builds the
  * custom logical node from resolved child plans (the strategy must be
  * injected — GraftExtensions does — or planning fails fast with "no
  * plan for PointIntervalJoin", which is the correct failure mode for
  * a missing extension).
  */
object PointIntervalJoin {
  def lookup(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String): DataFrame = {
    val lPlan = points.queryExecution.analyzed
    val rPlan = intervals.queryExecution.analyzed
    def resolve(plan: LogicalPlan, df: DataFrame, name: String): Expression =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val node = PointIntervalJoin(lPlan, rPlan,
      resolve(lPlan, points, pointCol),
      resolve(rPlan, intervals, loCol),
      resolve(rPlan, intervals, hiCol))
    org.apache.spark.sql.graft.PlanBridge.ofRows(points.sparkSession, node)
  }
}
