package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product of two float-array columns:
  * `graft_dot(a, b)` — the kernel behind TextOps.dotCol/l2Col.
  *
  * Semantics contract: value-identical to the HOF fold
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0,
  * (acc, x) -> acc + x)` — a left fold from 0.0 in index order of each
  * element pair widened to double before the multiply. Null if either
  * array is null, the lengths differ (zip_with pads the shorter side with
  * nulls) or any element is null; two empty arrays give 0.0.
  * DotProductSpec pins it bit-for-bit against that spelling.
  *
  * Why native: Spark evaluates zip_with/aggregate/transform lambdas
  * without codegen and materializes the zipped array per row; this is
  * one fused loop inside whole-stage codegen.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = DotProduct.name
  // unequal lengths and null elements give null even for non-null arrays
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got ${l.simpleString} and ${r.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  // fresh names throughout: a fixed local name collides as soon as two
  // graft_dot calls share one codegen scope (a cosine has three), and
  // Janino's redefinition error drops the operator to interpreted mode
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("dotN")
      val acc = ctx.freshName("dotAcc")
      val i = ctx.freshName("dotI")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  val name = "graft_dot"

  private[functions] val builder: Seq[Expression] => Expression =
    es => { GraftFnArgs.exact(name, es, 2); DotProduct(es(0), es(1)) }

  /** `graft_dot(a, b)` as a typed column. */
  def of(a: Column, b: Column): Column = Native(DotProduct(Native.expr(a), Native.expr(b)))
}
