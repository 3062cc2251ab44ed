package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native exact Jaccard over two DISTINCT string arrays:
  * `graft_jaccard(a, b)` = |a∩b| / (|a|+|b|-|a∩b|).
  *
  * Semantics contract: both inputs must already be duplicate-free (the
  * shingle pipeline applies array_distinct) — then the value is
  * bit-identical to the declarative
  * `size(array_intersect(a,b)) / (size(a)+size(b)-size(array_intersect))`
  * spelling: same exact integer operands into one IEEE division.
  *
  * Why native: `ArrayIntersect` builds an interpreted hash set and
  * materializes the intersection array per call — at j14's 50k pairs ×
  * ~500-element sets it was half the query's 4 s. This is one JVM loop,
  * counting membership only, no output array.
  */
case class JaccardSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSim.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardSim.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

object JaccardSim {

  val name = "graft_jaccard"

  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // build the set from the smaller side, probe with the larger
    val (small, ns, large, nl) = if (na <= nb) (a, na, b, nb) else (b, nb, a, na)
    val set = new java.util.HashSet[UTF8String](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var c = 0
    i = 0
    while (i < nl) {
      if (set.contains(large.getUTF8String(i))) c += 1
      i += 1
    }
    c.toDouble / (na + nb - c)
  }

  private[functions] val builder: Seq[Expression] => Expression =
    es => { GraftFnArgs.exact(name, es, 2); JaccardSim(es(0), es(1)) }
}
