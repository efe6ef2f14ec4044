package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.DataType

/** Optimizer fence: passes its child through unchanged, but is
  * non-deterministic, so `PushPredicateThroughNonJoin` keeps a filter
  * above the Project that computes it — and so above any exchange below
  * that Project — instead of substituting the Project's expressions into
  * a filter that runs under the exchange and again over it. The fenced
  * column must be one the filter or the output reads: an unread column
  * is pruned before pushdown and fences nothing. Codegen emits the child.
  */
case class FenceExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "fence"
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): FenceExpr =
    copy(child = newChild)
}

object FenceExpr {
  def fence(c: Column): Column = PlanBridge.column(FenceExpr(PlanBridge.expression(c)))
}
