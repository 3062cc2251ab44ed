package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** SURVEY.md §2.12 K5 — native Catalyst expression for cosine similarity
  * over two float-array columns, with `doGenCode` so it fuses into
  * whole-stage codegen (no UDF serialization, no boxing per element).
  *
  * Semantics contract: bit-identical to the HOF formulation in
  * TextOps.dotCol/l2Col (left fold from 0.0 in index order, float widened
  * to double before multiply, norms multiplied before the single divide) —
  * CosineSimSpec asserts equality against j8 and the k5 oracle twin runs
  * the same DuckDB SQL as j8.
  *
  * This is the hot-path option for 100 TB similarity scans: one fused
  * loop per row versus a chain of three HOF array traversals.
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  // inputs must be array<float>; enforced by the graft API surface
  // (ExpectsInputTypes is private[sql] in Spark 4, so no declared
  // inputTypes here)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // Every local goes through ctx.freshName: a fixed name ("i", "dot", …)
  // collides as soon as two cosines share a codegen scope (one projection
  // with two graft_cosine calls), and Janino's redefinition error silently
  // drops the whole operator to interpreted mode.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("cosN")
      val dot = ctx.freshName("cosDot")
      val na = ctx.freshName("cosNa")
      val nb = ctx.freshName("cosNb")
      val i = ctx.freshName("cosI")
      val xi = ctx.freshName("cosXi")
      val yi = ctx.freshName("cosYi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  val name = "graft_cosine"
  private[functions] val builder: Seq[Expression] => Expression =
    es => { GraftFnArgs.exact(name, es, 2); CosineSim(es(0), es(1)) }

  /** Runtime registration on an existing session (test/driver path). */
  def register(spark: SparkSession): Unit =
    GraftFnReg.quietReplace(spark, name, builder, "internal")
}

/** Production registration path: `--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` makes the native graft_* functions
  * first-class SQL functions and installs the bounded-heap top-k rewrite
  * in every session of the cluster. [[graft.Harness.session]] installs
  * it the same way for every main. Each function is injected with its
  * companion's own `builder`, the one its runtime `register` uses.
  *
  * The top-k rewrite goes in as a pre-CBO rule, which runs once on the
  * plan the operator-optimization batches finished — the plan a
  * session's experimental optimizer hooks also rewrite, so both wirings
  * plan every declared query alike (pinned by WiringSpec). An
  * `injectOptimizerRule` placement runs inside those batches instead:
  * it can fire before a window key that a filter pins to a constant is
  * folded away, and the top-k then groups and shuffles on that constant.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      (CosineSim.name, classOf[CosineSim], CosineSim.builder),
      (Shingles.name, classOf[Shingles], Shingles.builder),
      (MinHashSig.name, classOf[MinHashSig], MinHashSig.builder),
      (Winnow.name, classOf[Winnow], Winnow.builder),
      (LshBands.name, classOf[LshBands], LshBands.builder),
      (SigAgree.name, classOf[SigAgree], SigAgree.builder),
      (HyperplaneKeys.name, classOf[HyperplaneKeys], HyperplaneKeys.builder),
      (JaccardSim.name, classOf[JaccardSim], JaccardSim.builder)
    ).foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectPreCBORule(_ => graft.plans.RewriteWindowTopK)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
