package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native random-hyperplane LSH keys: `graft_hyperplane_keys(emb, nBits,
  * tables)` maps an `array<float>` embedding to one packed sign-bit bucket
  * key per hash table (`array<bigint>`, length = tables) —
  * SURVEY.md §2.11 J9's bucketing step.
  *
  * Why native: the HOF spelling folds `aggregate(sequence(...))` lambdas
  * three deep — tables × nBits × dim interpreted closure dispatches per
  * row (665M at 200k vectors / 13 bits / 4 tables; the 1000× smoke
  * measured the bucketing, not the joins, dominating cosineNearDupPairs).
  * This is the same per-element-lambda pathology the Shingles / MinHashSig
  * / Winnow expressions fixed, with the same cure: one fused JVM loop.
  *
  * Semantics contract: BIT-IDENTICAL keys to the HOF spelling
  * (`AnnOps.hyperplaneKeyHof`, kept as the test reference) — the
  * hyperplane component reproduces Catalyst's `xxhash64(plane, j)` chain
  * (seed 42, ints hashed in child order) exactly, and both folds preserve
  * index order, so every existing bucket assignment is unchanged.
  * AnnSpec pins the equality.
  */
case class HyperplaneKeys(child: Expression, nBits: Int, tables: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = HyperplaneKeys.name

  // this is injected as public SQL surface (GraftExtensions): reject
  // non-float arrays at analysis time — getFloat over an 8-byte-stride
  // double array would read garbage with no error
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HyperplaneKeys.keys(input.asInstanceOf[ArrayData], nBits, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HyperplaneKeys.keys($c, $nBits, $tables)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneKeys =
    copy(child = newChild)
}

object HyperplaneKeys {

  val name = "graft_hyperplane_keys"

  /** One packed key per table. Component (plane, j) reproduces Spark's
    * `xxhash64(plane, j)` for int inputs: hash = hashInt(j, hashInt(plane,
    * 42L)); j is 1-based like the `sequence(1, dim)` HOF spelling.
    */
  def keys(emb: ArrayData, nBits: Int, tables: Int): ArrayData = {
    val dim = emb.numElements()
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = emb.getFloat(i).toDouble; i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var acc = 0L
      var p = 0
      while (p < nBits) {
        val planeSeed = XXH64.hashInt(p + t * 1024, 42L)
        var dot = 0.0
        var j = 1
        while (j <= dim) {
          dot += v(j - 1) * XXH64.hashInt(j, planeSeed).toDouble
          j += 1
        }
        acc = acc * 2 + (if (dot >= 0) 1L else 0L)
        p += 1
      }
      out(t) = acc
      t += 1
    }
    new GenericArrayData(out)
  }

  private[functions] val builder: Seq[Expression] => Expression =
    es => HyperplaneKeys(GraftFnArgs.exact(name, es, 3).head,
      GraftFnArgs.intLit(name, es, 1), GraftFnArgs.intLit(name, es, 2))

  /** Runtime registration on an existing session (test/driver path). */
  def register(spark: SparkSession): Unit =
    GraftFnReg.quietReplace(spark, name, builder, "internal")
}

/** Margin-ranked multi-probe keys: `graft_hyperplane_probes(emb, nBits,
  * tables, m)` returns, per table, the base bucket key followed by the m
  * keys obtained by flipping the LOWEST-|dot| planes — the planes the
  * vector sits closest to, i.e. exactly the sign bits a true near
  * neighbor is most likely to disagree on (the multi-probe LSH insight:
  * probe order should follow the margin, not the bit position). Output is
  * `array<bigint>` of length tables·(m+1), laid out table-major, so
  * `pos / (m+1)` recovers the table id after `posexplode`.
  *
  * Same per-plane dot products as [[HyperplaneKeys]] (bit-identical base
  * keys, AnnSpec-pinned); the only addition is keeping the nBits margins
  * and an O(nBits·m) selection — still one fused codegen'd loop per row.
  */
case class HyperplaneProbes(child: Expression, nBits: Int, tables: Int, m: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = HyperplaneProbes.name

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HyperplaneProbes.probes(input.asInstanceOf[ArrayData], nBits, tables, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HyperplaneProbes.probes($c, $nBits, $tables, $m)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbes =
    copy(child = newChild)
}

object HyperplaneProbes {

  val name = "graft_hyperplane_probes"

  def probes(emb: ArrayData, nBits: Int, tables: Int, m: Int): ArrayData = {
    // m clamps into [0, nBits]: this is registered SQL surface, and a
    // negative literal used to allocate an empty output then index it
    // (AIOOBE); m = 0 degrades to the base keys, same as no multi-probe
    val mm = math.max(0, math.min(m, nBits))
    val dim = emb.numElements()
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = emb.getFloat(i).toDouble; i += 1 }
    val out = new Array[Long](tables * (mm + 1))
    val dots = new Array[Double](nBits)
    val used = new Array[Boolean](nBits)
    var t = 0
    while (t < tables) {
      var acc = 0L
      var p = 0
      while (p < nBits) {
        val planeSeed = XXH64.hashInt(p + t * 1024, 42L)
        var dot = 0.0
        var j = 1
        while (j <= dim) {
          dot += v(j - 1) * XXH64.hashInt(j, planeSeed).toDouble
          j += 1
        }
        dots(p) = dot
        acc = acc * 2 + (if (dot >= 0) 1L else 0L)
        p += 1
      }
      out(t * (mm + 1)) = acc
      // mm smallest |dot| planes by repeated scan — nBits ≤ 64, so the
      // O(nBits·mm) selection is cheaper than sorting
      java.util.Arrays.fill(used, false)
      var r = 0
      while (r < mm) {
        var best = -1
        var bestAbs = Double.MaxValue
        var q = 0
        while (q < nBits) {
          if (!used(q) && math.abs(dots(q)) < bestAbs) {
            bestAbs = math.abs(dots(q)); best = q
          }
          q += 1
        }
        if (best < 0) {
          // all remaining margins NaN (non-finite embedding): degrade to
          // first-unused-plane order instead of crashing — same buckets a
          // first-m prober would emit, and the cosine re-rank discards
          // non-finite vectors anyway
          var q = 0
          while (best < 0 && q < nBits) { if (!used(q)) best = q; q += 1 }
        }
        used(best) = true
        out(t * (mm + 1) + r + 1) = acc ^ (1L << (nBits - 1 - best))
        r += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Runtime registration on an existing session (test/driver path). */
  def register(spark: SparkSession): Unit =
    GraftFnReg.quietReplace(spark, name,
      es => HyperplaneProbes(GraftFnArgs.exact(name, es, 4).head,
        GraftFnArgs.intLit(name, es, 1), GraftFnArgs.intLit(name, es, 2),
        GraftFnArgs.intLit(name, es, 3)),
      "internal")
}
