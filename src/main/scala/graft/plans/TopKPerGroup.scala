package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Sort, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** SURVEY.md §4/§7.4 — custom logical operator for per-group top-k.
  *
  * `filter(row_number() OVER (PARTITION BY g ORDER BY o) <= k)` is the
  * universal top-k-per-group idiom (E9/B8/B13 all use it), but WindowExec
  * fully sorts every group before the filter throws most rows away. At
  * 100 TB the difference between "sort every group" and "keep a k-row
  * heap per group, partial before the shuffle" is the job. This node +
  * RewriteWindowTopK + TopKStrategy (TopKPerGroupExec.scala) implement
  * the bounded form: map-side partial top-k, shuffle only survivors,
  * final top-k + rank on the reduce side.
  *
  * Output = child.output :+ the original row_number attribute, so the
  * rewrite is a drop-in replacement for the Filter(Window(...)) subtree.
  */
case class TopKPerGroup(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr

  override def producedAttributes: AttributeSet = AttributeSet(rnAttr)

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Optimizer rule: spot Filter(rn cond, Window(row_number-only)) and swap
  * in TopKPerGroup. Conservative by design — only fires when the window
  * computes exactly one expression (a row_number) and the filter bounds
  * that attribute by a literal; everything else keeps stock WindowExec.
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  /** cond must bound `rn` above by a literal: rn <= k, rn < k, rn = 1. */
  private def boundOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) => Some(k - 1)
    case EqualTo(a: Attribute, Literal(1, IntegerType)) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  /** Stock Spark 4's "Infer window group limit" batch puts sort-based
    * WindowGroupLimit / local Sort nodes under the Window. It runs after
    * the pre-CBO batch GraftExtensions injects this rule into, so there
    * the Window has none yet; it runs before a session's experimental
    * optimizer hooks, which do see them. Our heap-based exec
    * needs neither — strip them so the work isn't done twice.
    */
  private def stripGroupLimit(p: LogicalPlan): LogicalPlan = p match {
    case wgl: WindowGroupLimit => stripGroupLimit(wgl.child)
    case s: Sort if !s.global => stripGroupLimit(s.child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) if w.windowExpressions.length == 1 =>
      w.windowExpressions.head match {
        case al @ Alias(WindowExpression(RowNumber(), spec), _)
            if spec.partitionSpec == w.partitionSpec && spec.orderSpec == w.orderSpec =>
          boundOf(cond, al.toAttribute) match {
            case Some(k) if k >= 1 && w.orderSpec.nonEmpty =>
              TopKPerGroup(w.partitionSpec, w.orderSpec, k, al.toAttribute,
                stripGroupLimit(w.child))
            case _ => f
          }
        case _ => f
      }
  }
}
