package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native fixed-width word chunker: `graft_word_chunks(words, k)` maps an
  * `array<string>` of words to the array of its consecutive `k`-word
  * chunks, each joined by a single space; the last chunk holds the
  * remaining `size % k` words when `k` does not divide the size. The
  * paragraph segmentation of j45/j47 (8-word chunks of the split text).
  *
  * Why native: the declarative spelling
  * `transform(sequence(0, ceil(size(ws) / k) - 1),
  * i -> array_join(slice(ws, i * k + 1, k), " "))` is an `ArrayTransform`,
  * which Spark evaluates interpreted (`CodegenFallback`) inside its
  * whole-stage-codegen stage, with a lambda-variable write, a `Slice`
  * copy and an `ArrayJoin` per chunk. This expression compiles into the
  * stage and joins each chunk straight from the input array.
  *
  * Semantics contract (WordChunksSpec pins it): exactly equal to the
  * declarative spelling above for every array with at least one element,
  * including null elements (skipped by the join, as `array_join` skips
  * them) and multi-byte UTF-8 words. Null input gives null. An empty
  * array gives no chunks, where the declarative spelling's descending
  * `sequence(0, -1)` gave two empty strings; `split` never yields an
  * empty array, so no caller sees the difference.
  */
case class WordChunks(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"${WordChunks.name}: k must be positive, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = WordChunks.name

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${WordChunks.name} expects ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    WordChunks.chunks(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordChunks.chunks($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

object WordChunks {

  val name = "graft_word_chunks"

  private val space = UTF8String.fromString(" ")

  /** The `ceil(n / k)` chunks of `words`; `concatWs` skips null words. */
  def chunks(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val out = new Array[AnyRef](if (n == 0) 0 else (n - 1) / k + 1)
    var c = 0
    while (c < out.length) {
      val from = c * k
      val part = new Array[UTF8String](math.min(k, n - from))
      var j = 0
      while (j < part.length) {
        part(j) = if (words.isNullAt(from + j)) null else words.getUTF8String(from + j)
        j += 1
      }
      out(c) = UTF8String.concatWs(space, part: _*)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_word_chunks(words, k)` as a typed column. */
  def of(words: Column, k: Int): Column = Native(WordChunks(Native.expr(words), k))
}
