package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused k-char shingle + portable gram hash:
  * `graft_shingle_md5_60(text, k)` is the array of top-60-bits-of-md5
  * for every k-char window — bit-identical to
  * `transform(graft_shingles(t,k), g -> conv(substring(md5(g),1,15),16,10))`
  * (j33's DuckDB-portable hash; Md5Props pins the equality) with none of
  * that spelling's per-gram allocation: no gram UTF8String, no 32-char
  * hex string, no substring, no base conversion through decimal strings.
  * One UTF-8 boundary walk, one thread-reused MessageDigest, the digest
  * taken over the window's byte slice directly. The top 60 bits are the
  * first 15 hex nibbles of the digest = the first 8 digest bytes
  * big-endian >>> 4.
  *
  * Why it exists: the declarative chain evaluated five allocating
  * expressions per gram; at sf0.1 that made j33 — a map-only pass — the
  * heaviest query in the bench (7.8 s) once the r10 toRdd action stopped
  * `.count()` from pruning the fingerprint columns away.
  */
case class ShingleMd5(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = ShingleMd5.name

  // a non-string argument must fail at ANALYSIS with a typed message, not
  // a ClassCastException at eval. NullType stays legal: a bare NULL
  // literal evaluates to NULL through nullSafeEval.
  override def checkInputDataTypes() = child.dataType match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.NullType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"${ShingleMd5.name} expects STRING, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleMd5.hashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMd5.hashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5 =
    copy(child = newChild)
}

object ShingleMd5 {

  val name = "graft_shingle_md5_60"

  // MessageDigest is stateful and not thread-safe; executor task threads
  // each get one reused instance (reset() between grams is free).
  private val mdPool = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def hashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // char start offsets, one boundary walk (Shingles.shingle's contract:
    // nChars < k degenerates to one window over the whole text)
    val starts = new Array[Int](len + 1)
    var nChars = 0
    var off = 0
    while (off < len) {
      starts(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    starts(nChars) = len
    val nOut = math.max(nChars - k + 1, 1)
    val out = new Array[Long](nOut)
    val md = mdPool.get()
    var i = 0
    while (i < nOut) {
      val from = starts(i)
      val to = starts(math.min(i + k, nChars))
      md.reset()
      md.update(bytes, from, to - from)
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = h >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_shingle_md5_60(text, k)` as a typed column. */
  def of(text: Column, k: Int): Column = Native(ShingleMd5(Native.expr(text), k))
}
