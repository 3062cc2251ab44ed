package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** SURVEY.md §2.11 J9 (IVF-PQ) — product-quantization codec as native
  * Catalyst expressions. A `dim`-float embedding is split into `m`
  * subvectors of `dsub = dim/m` dims; each subvector is replaced by the
  * index of its nearest codeword among `ksub` per-subspace centroids.
  * A 64-float vector (256 B) becomes `m` small ints — the memory story
  * that lets a 100 TB corpus keep its searchable representation in a
  * fraction of the raw footprint, with raw vectors re-joined by id only
  * for the final exact re-rank of a bounded candidate set.
  *
  * The codebook (`m × ksub × dsub` floats, flat, subspace-major) is a
  * driver-computed argument captured in the expression — the
  * [[ProbeShingleHits]] pattern: bounded client data (a few hundred KB at
  * production sizes), shipped once per executor with the serialized
  * expression, shared across rows via `addReferenceObj`. Encode/decode
  * are exact inverses of each other's indexing, so
  * `decode(encode(v))` is the standard PQ reconstruction.
  */
case class PqEncode(child: Expression, m: Int, ksub: Int, dsub: Int,
                    codebook: Array[Float])
  extends UnaryExpression {

  require(codebook.length == m * ksub * dsub,
    s"PqEncode: codebook length ${codebook.length} != m*ksub*dsub (${m * ksub * dsub})")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = PqEncode.name

  def compute(input: ArrayData): ArrayData = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < ksub) {
        val base = (s * ksub + k) * dsub
        var d2 = 0.0
        var j = 0
        while (j < dsub) {
          val diff = input.getFloat(s * dsub + j).toDouble - codebook(base + j)
          d2 += diff * diff
          j += 1
        }
        // strict < keeps the FIRST codeword on ties — deterministic
        if (d2 < bestD) { bestD = d2; best = k }
        k += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {

  val name = "graft_pq_encode"

  /** Encode `vectors` against a CAPTURED codebook (driver-trained,
    * bounded): each call's codebook lives in its own expression. */
  def of(vectors: Column, m: Int, ksub: Int, dsub: Int, codebook: Array[Float]): Column =
    Native(PqEncode(Native.expr(vectors), m, ksub, dsub, codebook))
}

/** Reconstruction: codes back to the concatenated codewords —
  * `m` array gathers per row, fused into codegen, so the approximate
  * ranking stage (`graft_cosine(probe, graft_pq_decode(codes))`) runs
  * from codes alone and never touches the raw corpus vectors.
  */
case class PqDecode(child: Expression, m: Int, ksub: Int, dsub: Int,
                    codebook: Array[Float])
  extends UnaryExpression {

  require(codebook.length == m * ksub * dsub,
    s"PqDecode: codebook length ${codebook.length} != m*ksub*dsub (${m * ksub * dsub})")

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = PqDecode.name

  def compute(input: ArrayData): ArrayData = {
    val out = new Array[Float](m * dsub)
    var s = 0
    while (s < m) {
      val k = input.getInt(s)
      val base = (s * ksub + k) * dsub
      var j = 0
      while (j < dsub) {
        out(s * dsub + j) = codebook(base + j)
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDecode", this, classOf[PqDecode].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqDecode =
    copy(child = newChild)
}

object PqDecode {

  val name = "graft_pq_decode"

  /** Decode `codes` against the codebook they were encoded with. */
  def of(codes: Column, m: Int, ksub: Int, dsub: Int, codebook: Array[Float]): Column =
    Native(PqDecode(Native.expr(codes), m, ksub, dsub, codebook))
}
