package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native sliding-window minimum: `graft_winnow(grams, w)` maps an
  * `array<bigint>` of k-gram hashes to the array of each w-window's
  * minimum — the winnowing step of the document-fingerprint scheme
  * (SURVEY.md §2.11 text analysis).
  *
  * Why native: the declarative spelling
  * `transform(sequence(1, max(n-w+1, 1)), i -> array_min(slice(grams, i, w)))`
  * allocates a w-element slice and runs an interpreted min per position —
  * the honest 100×-corpus measurement put it at minutes for 500k docs.
  * This expression is the O(n) monotonic-deque sliding minimum with zero
  * per-window allocation.
  *
  * Semantics contract (WinnowSpec + scalacheck pin it): exactly equal to
  * the declarative spelling, including n < w (one window over all n
  * elements) and n = 0 (a single null, matching `array_min(empty)`).
  */
case class Winnow(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    Winnow.winnow(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Winnow.winnow($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {

  val name = "graft_winnow"

  def winnow(grams: ArrayData, w: Int): ArrayData = {
    val n = grams.numElements()
    if (n == 0) return new GenericArrayData(Array[Any](null))
    val m = math.max(n - w + 1, 1)
    val out = new Array[Long](m)
    val idx = new Array[Int](n) // deque of candidate indices, values increasing
    var head = 0
    var tail = 0 // window is [head, tail)
    var i = 0
    while (i < n) {
      val v = grams.getLong(i)
      while (tail > head && grams.getLong(idx(tail - 1)) >= v) tail -= 1
      idx(tail) = i; tail += 1
      if (idx(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = grams.getLong(idx(head))
      i += 1
    }
    if (n < w) out(0) = grams.getLong(idx(head)) // single window over all n
    new GenericArrayData(out)
  }

  private[functions] val builder: Seq[Expression] => Expression =
    es => Winnow(GraftFnArgs.exact(name, es, 2).head, GraftFnArgs.intLit(name, es, 1))

  /** `graft_winnow(grams, w)` as a typed column. */
  def of(grams: Column, w: Int): Column = Native(Winnow(Native.expr(grams), w))
}
