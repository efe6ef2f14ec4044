package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The index-ordered dot-product fold
  * `aggregate(sequence(1, size(a)), 0.0D, (acc, i) ->
  *    acc + cast(element_at(a, i) as double) * cast(element_at(b, i) as double))`
  * as ONE native codegen'd expression. Spark evaluates the HOF
  * interpreted (CodegenFallback), re-entering the lambda machinery per
  * element — the dominant cost of the brute-force cosine baselines
  * (q_mutual_knn's bounded n^2 slice runs it per PAIR).
  *
  * Bit-identical to the HOF on well-formed inputs: each step is one
  * double add of a double product of exactly-widened elements, in
  * ascending index order — the identical IEEE operation sequence. Null
  * semantics match where the HOF is defined: null array -> null;
  * a null element, or b shorter than a, poisons the accumulator ->
  * null (the HOF's acc + null stays null). Elements must be float or
  * double arrays; float widens exactly. (The HOF raises on an empty a
  * — sequence(1,0) descends to an invalid 0 index; this returns 0.0,
  * unreachable for the fixed-dimension embedding fixtures.)
  *
  * Use only where the query previously CAST BOTH SIDES to double:
  * Ann.dot's zip_with form multiplies floats in FLOAT precision first,
  * which is a different rounding sequence — do not swap that in.
  */
case class DotFoldExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "dot_fold"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_fold expects float/double arrays, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def lFloat = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rFloat = right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any =
    DotFoldExpr.evalStatic(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      lFloat, rFloat)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val lGen = left.genCode(ctx)
    val rGen = right.genCode(ctx)
    val boxed = ctx.freshName("dotBoxed")
    val resultCode =
      code"""
        ${lGen.code}
        ${rGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${lGen.isNull} && !${rGen.isNull}) {
          Double $boxed = graft.functions.DotFoldExpr.evalStatic(
            ${lGen.value}, ${rGen.value}, $lFloat, $rFloat);
          if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
        }
      """
    ev.copy(code = resultCode)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotFoldExpr =
    copy(left = newLeft, right = newRight)
}

object DotFoldExpr {

  /** null return encodes the HOF's poisoned accumulator. */
  def evalStatic(l: ArrayData, r: ArrayData,
      lFloat: Boolean, rFloat: Boolean): java.lang.Double = {
    val n = l.numElements()
    if (r.numElements() < n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      val lv = if (lFloat) l.getFloat(i).toDouble else l.getDouble(i)
      val rv = if (rFloat) r.getFloat(i).toDouble else r.getDouble(i)
      acc += lv * rv
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
