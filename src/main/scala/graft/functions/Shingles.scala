package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native character-shingle generator: `graft_shingles(text, k)` returns
  * the array of all k-char substrings (the MinHash / n-gram-Jaccard
  * substrate, SURVEY.md §2.11 J3/J14).
  *
  * Why native: the declarative spelling
  * `transform(sequence(1, len-k+1), i -> substr(text, i, k))` calls
  * `Substring` once per position, and each call re-walks the string's
  * UTF-8 bytes from offset 0 to find char position i — O(len²) per
  * document (measured: shingle generation alone was 3.7 s of j14's 4 s at
  * sf0.1). This expression walks the bytes ONCE, tracking char boundaries,
  * and slices each shingle in O(k) — O(len·k) total, ~20× less work at
  * fixture text lengths and asymptotically safe for long documents at
  * 100 TB.
  *
  * Semantics contract (ShinglesSpec pins it): exactly equal to the
  * declarative spelling above for every input, including numChars < k
  * (one shingle: the whole text — `sequence(1, max(len-k+1, 1))`
  * semantics), empty strings, and multi-byte UTF-8 chars (shingles are
  * CHAR windows, not byte windows).
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    Shingles.shingle(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.shingle($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  val name = "graft_shingles"

  /** One pass over the UTF-8 bytes: record every char's byte offset, then
    * slice k-char windows by byte range. Total O(len·k) bytes touched.
    */
  def shingle(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // char start offsets (ASCII fast path: offsets are 0..len-1)
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
    val out = new Array[AnyRef](nOut)
    var i = 0
    while (i < nOut) {
      val from = starts(i)
      val to = starts(math.min(i + k, nChars))
      out(i) = UTF8String.fromBytes(bytes, from, to - from)
      i += 1
    }
    new GenericArrayData(out)
  }

  private[functions] val builder: Seq[Expression] => Expression =
    es => Shingles(GraftFnArgs.exact(name, es, 2).head, GraftFnArgs.intLit(name, es, 1))

  /** `graft_shingles(text, k)` as a typed column. */
  def of(text: Column, k: Int): Column = Native(Shingles(Native.expr(text), k))

  /** Installs `graft_shingles` on a session built without
    * [[GraftExtensions]], for SQL text on that session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "internal")
}
