package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused native spellings of the PORTABLE (md5-based, DuckDB-recomputable)
  * fingerprint hashes behind j39/j40 — the [[ShingleMd5]] move applied to
  * token fingerprints: the declarative chain
  * `conv(substring(md5(concat(i, ':', tok)), 1, 15), 16, 10)` pays five
  * allocating expressions per (seed, token); these walk the token array
  * once with a thread-reused MessageDigest and take the top 60 bits of
  * the digest directly (first 8 bytes big-endian >>> 4 — the first 15
  * hex nibbles). Bit-identity with the declarative spelling is pinned in
  * PortableFpSpec over the fixture and multi-byte edges.
  */
object PortableFpMd5 {

  private val mdPool = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** top-60-bits-of-md5 of the given bytes (optionally prefixed). */
  @inline private def top60(md: MessageDigest, prefix: Array[Byte],
                            b: Array[Byte]): Long = {
    md.reset()
    if (prefix != null) md.update(prefix)
    md.update(b)
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** `"<seed>:"` UTF-8 prefixes, cached for the seed counts in use. */
  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(64)(i => s"$i:".getBytes("UTF-8"))

  /** j40's portable MinHash signature: position i = min over the tokens
    * of top60(md5(i || ':' || tok)). The caller passes DISTINCT tokens
    * (duplicates wouldn't change a min, but the declarative twin
    * dedupes, so the contract matches).
    */
  def minhashSig(ws: ArrayData, nSeeds: Int): ArrayData = {
    val md = mdPool.get()
    val out = Array.fill(nSeeds)(Long.MaxValue)
    val n = ws.numElements()
    var t = 0
    var any = false
    while (t < n) {
      // null elements are skipped, not hashed: the declarative twin's
      // md5(concat(seed, ':', tok)) is NULL for a null token, and
      // array_min ignores NULLs — the native function must not
      // NPE on array('a', NULL) (ADVICE r10)
      if (!ws.isNullAt(t)) {
        any = true
        val tok = ws.getUTF8String(t).getBytes
        var i = 0
        while (i < nSeeds) {
          val h = top60(md, prefixes(i), tok)
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      t += 1
    }
    // no non-null token: the declarative array_min over an all-NULL list
    // is NULL per seed — match it rather than leak the Long.MaxValue
    // sentinel (r11 review)
    if (!any) new GenericArrayData(Array.fill[Any](nSeeds)(null))
    else new GenericArrayData(out)
  }

  /** j39's portable SimHash: bit b of the result is set iff at least half
    * of the token hashes (top60(md5(tok)), one per array element —
    * multiset, not deduped) have bit b set.
    */
  def simhash(ws: ArrayData): Long = {
    val md = mdPool.get()
    val votes = new Array[Int](60)
    val n = ws.numElements()
    var t = 0
    while (t < n) {
      // a null token casts NO votes (the declarative filter() drops its
      // NULL hash) but still counts in the majority DENOMINATOR — the
      // pinned twin divides by size(array), nulls included (r11 review:
      // an nz denominator diverged from the bit-identity contract)
      if (!ws.isNullAt(t)) {
        val h = top60(md, null, ws.getUTF8String(t).getBytes)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1
          b += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (2 * votes(b) >= n) fp |= (1L << b)
      b += 1
    }
    fp
  }

  val minhashName = "graft_minhash_md5"
  val simhashName = "graft_simhash_md5"
}

object MinHashMd5 {
  /** `graft_minhash_md5(tokens, nSeeds)` as a typed column. */
  def of(tokens: Column, nSeeds: Int): Column = Native(MinHashMd5(Native.expr(tokens), nSeeds))
}

case class MinHashMd5(child: Expression, nSeeds: Int) extends UnaryExpression {
  require(nSeeds > 0 && nSeeds <= 64, s"nSeeds must be in [1, 64], got $nSeeds")
  // containsNull: an all-null/empty token array yields null positions
  // (array_min semantics); the gated corpus path (split tokens) never does
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = PortableFpMd5.minhashName
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${PortableFpMd5.minhashName} expects ARRAY<STRING>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    PortableFpMd5.minhashSig(input.asInstanceOf[ArrayData], nSeeds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableFpMd5.minhashSig($c, $nSeeds)")
  override protected def withNewChildInternal(newChild: Expression): MinHashMd5 =
    copy(child = newChild)
}

object SimHashMd5 {
  /** `graft_simhash_md5(tokens)` as a typed column. */
  def of(tokens: Column): Column = Native(SimHashMd5(Native.expr(tokens)))
}

case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = PortableFpMd5.simhashName
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${PortableFpMd5.simhashName} expects ARRAY<STRING>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    PortableFpMd5.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableFpMd5.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}
