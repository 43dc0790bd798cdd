package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types.DataType

/** Identity wrapper marked non-deterministic so the optimizer pins the
  * wrapped alias in place: predicate pushdown will NOT substitute it into a
  * filter and push further down, and projections referencing it are not
  * collapsed into consumers.
  *
  * Two users (one mechanism):
  *  - `Gen.turns` (round-4 postmortem): a filter pushed through the pure
  *    generator expression tree inlines the full text/conv_id CASEs dozens
  *    of times and blows Janino's 64 KB method limit;
  *  - `Curate` (round 6, guide §4.4): a Filter node re-evaluates every
  *    occurrence of an expensive shared subexpression (FilterExec gets no
  *    subexpression elimination, unlike ProjectExec), so the quality/lang
  *    predicates — ~15 `text_profile(text)` references after alias
  *    substitution — pay ~15 byte scans per row; evaluating the predicate
  *    ONCE behind this barrier halves the measured filter cost (round-6 A/B:
  *    0.43-0.50 s inline vs 0.22-0.25 s projected, 100k docs, warm).
  *
  * The VALUE is still fully deterministic in the row — only the optimizer
  * contract says "don't move me", the same contract Spark's own
  * uuid()/rand() rely on.
  */
case class PushdownBarrier(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def prettyName: String = "pushdown_barrier"
  override def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(newChild: Expression): PushdownBarrier =
    copy(child = newChild)
}

object PushdownBarrier {
  /** Pin `c`'s evaluation where it is aliased (see class scaladoc). */
  def barrier(c: Column): Column =
    ColumnBridge.column(PushdownBarrier(ColumnBridge.expression(c)))
}
