package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: `graft_minhash(shingles, n)` maps an
  * `array<string>` shingle set to its n-function MinHash signature
  * (`array<bigint>`), SURVEY.md §2.11 J2 / §2.12 K4-adjacent.
  *
  * Why native: the HOF spelling
  * `transform(sequence(0, n-1), s -> array_min(transform(shs, sh ->
  * xxhash64(s, sh))))` re-hashes every shingle's bytes once per hash
  * function — n×|shs| string hashes through interpreted lambda
  * dispatch, ~milliseconds per document at n=128. This expression hashes
  * each shingle's bytes ONCE (xxHash64), then derives the n functions by
  * integer avalanche mixing of that base hash — the standard
  * one-hash + universal-mixing MinHash construction — in one tight JVM
  * loop: O(|shs|·n) long ops, no per-element allocation.
  *
  * Signature VALUES differ from the HOF spelling (both are
  * engine-specific hash families); the collision/estimate guarantees are
  * the same and DedupSpec's planted-dup + ε-bound tests pin them.
  */
case class MinHashSig(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.sig($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  val name = "graft_minhash"

  private final val P2 = 0xC2B2AE3D27D4EB4FL // xxHash64 primes
  private final val P3 = 0x165667B19E3779F9L

  /** xxHash64-style avalanche of (base ^ f(seed)) — one distinct
    * permutation-quality mix per hash-function index.
    */
  private def mix(base: Long, i: Int): Long = {
    var h = base ^ (i * P3 + P2)
    h ^= h >>> 33; h *= P2
    h ^= h >>> 29; h *= P3
    h ^= h >>> 32
    h
  }

  def sig(shs: ArrayData, n: Int): ArrayData = {
    val m = shs.numElements()
    val out = new Array[Long](n)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < m) {
      val s = shs.getUTF8String(j)
      val base = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var i = 0
      while (i < n) {
        val h = mix(base, i)
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  private[functions] val builder: Seq[Expression] => Expression =
    es => MinHashSig(GraftFnArgs.exact(name, es, 2).head, GraftFnArgs.intLit(name, es, 1))

  /** `graft_minhash(shingles, n)` as a typed column. */
  def of(shs: Column, n: Int): Column = Native(MinHashSig(Native.expr(shs), n))

  /** Installs `graft_minhash` on a session built without
    * [[GraftExtensions]], for SQL text on that session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "internal")
}

/** Native signature agreement: `graft_sig_agree(a, b)` = fraction of
  * positions where two equal-length `array<bigint>` MinHash signatures
  * agree — the estimated-Jaccard verify step that runs once per LSH
  * candidate pair. The HOF spelling
  * (`size(filter(zip_with(a,b,==), id)) / size(a)`) dispatches three
  * interpreted lambdas per signature position per pair; this is one
  * compiled loop, value-identical (exact integer count, one IEEE
  * division — SigAgreeProps pins it).
  */
case class SigAgree(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = SigAgree.name

  override def nullable: Boolean = true

  // injected as public SQL surface (GraftExtensions): reject non-bigint
  // arrays at analysis time — getLong over a 4/8-byte-stride mismatch
  // (array<int> / array<double>) would silently return garbage fractions
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> signatures, got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SigAgree.agree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SigAgree.agreeNonEmpty($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgree =
    copy(left = newLeft, right = newRight)
}

object SigAgree {

  val name = "graft_sig_agree"

  /** Agreements are counted over the common prefix and divided by
    * size(a), matching the HOF reference exactly (zip_with pads the
    * shorter side with nulls, which the equality filter drops); an empty
    * `a` returns null like the HOF's 0/0 division does.
    */
  def agree(a: ArrayData, b: ArrayData): Any =
    if (a.numElements() == 0) null else agreeNonEmpty(a, b)

  def agreeNonEmpty(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val n = math.min(na, b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c.toDouble / na
  }

  private[functions] val builder: Seq[Expression] => Expression =
    es => { GraftFnArgs.exact(name, es, 2); SigAgree(es(0), es(1)) }

  /** `graft_sig_agree(a, b)` as a typed column. */
  def of(a: Column, b: Column): Column = Native(SigAgree(Native.expr(a), Native.expr(b)))
}

/** Native LSH band keys: `graft_lsh_bands(sig, bands, rows)` maps a
  * MinHash signature (`array<bigint>`, length ≥ bands·rows) to one 64-bit
  * key per band — the band index folded into the hash, so a single long
  * IS the (band, bucket) join key. Replaces an interpreted
  * slice-and-hash-a-struct per band (16M of them at a 500k-doc corpus)
  * and shrinks the band-shuffle key to 8 bytes.
  */
case class LshBands(child: Expression, bands: Int, rows: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_bands"

  override def nullSafeEval(input: Any): Any =
    LshBands.bandKeys(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshBands.bandKeys($c, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}

object LshBands {

  val name = "graft_lsh_bands"

  private final val P2 = 0xC2B2AE3D27D4EB4FL
  private final val P3 = 0x165667B19E3779F9L

  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L ^ (b * P3) // distinct bands never collide by construction
      var r = 0
      while (r < rows) {
        h = (h ^ sig.getLong(b * rows + r)) * P2
        h ^= h >>> 29
        r += 1
      }
      h ^= h >>> 33; h *= P3; h ^= h >>> 32
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  private[functions] val builder: Seq[Expression] => Expression =
    es => LshBands(GraftFnArgs.exact(name, es, 3).head,
      GraftFnArgs.intLit(name, es, 1), GraftFnArgs.intLit(name, es, 2))

  /** `graft_lsh_bands(sig, bands, rows)` as a typed column. */
  def of(sig: Column, bands: Int, rows: Int): Column =
    Native(LshBands(Native.expr(sig), bands, rows))
}
