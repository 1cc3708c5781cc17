package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** Its child, marked evaluate-once: the value is the child's, computed
  * with the child's own code, but Catalyst treats it as nondeterministic.
  *
  * Why: a row-dropping stage projects its keep predicate and filters on
  * the result. `PushPredicateThroughNonJoin` pushes a `Filter` through
  * any all-deterministic `Project` below it and inlines the aliases it
  * references, so a predicate over `text` becomes a predicate over the
  * whole upstream processor chain (`strip_markup → pii_redact →
  * normalize_text` is a dozen `regexp_replace`s), copied once per
  * reference. `FilterExec` has no subexpression elimination, so every
  * copy is code-generated on the driver and evaluated per row. A
  * nondeterministic projection is the one thing that rule does not push
  * through, and `CollapseProject` does not inline it either, so the
  * predicate stays a column computed once per row, above the chain.
  *
  * Wrap only a keep predicate ([[graft.spec.Compiler.keepRows]]), never
  * a payload column: pruning and collapsing keep applying to those.
  */
case class EvalOnce(child: Expression) extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_eval_once"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = child.eval(input)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EvalOnce {
  /** Column builder. */
  def of(c: Column): Column = Bridge.column(EvalOnce(Bridge.expression(c)))
}
