package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Typed columns over Spark's NATIVE sketch expressions — the exact
  * operators Catalyst injects for runtime bloom-filter joins
  * ([public: o.a.s.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
  * [public: o.a.s.sql.catalyst.expressions.BloomFilterMightContain]) —
  * so the sketch-path queries ([[graft.ops.SketchOps]]) build and probe
  * the filter with codegen'd built-ins instead of a Scala UDF. The value
  * is pre-hashed with Spark's own XxHash64, matching the runtime-filter
  * shape, so the aggregate's input is a long and the probe never
  * materializes the gram twice.
  */
object SketchFns {

  private def hashed(value: Column): Expression = XxHash64(Seq(Native.expr(value)), 42L)

  /** Bloom filter aggregate over `value` — distributed build via
    * partial/final TypedImperativeAggregate merge; the result is the
    * serialized filter, ≤ numBits/8 bytes BY CONSTRUCTION at any corpus
    * size (the bound that makes the one-row driver materialization in
    * SketchOps legitimate).
    */
  def bloomAgg(value: Column, estItems: Column, numBits: Column): Column =
    Native.agg(new BloomFilterAggregate(hashed(value),
      Native.expr(estItems), Native.expr(numBits)))

  /** Membership probe — `bloom` must be a literal/foldable (the
    * broadcast-inlined filter); value is hashed the same way the build
    * side was.
    */
  def bloomMight(bloom: Column, value: Column): Column =
    Native(BloomFilterMightContain(Native.expr(bloom), hashed(value)))

  /** The NON-foldable probe: the bloom arrives as a regular binary column
    * (a banded bloom-index row joined alongside the probe — see
    * [[graft.ops.DedupOps.incrementalAdmit]]), which Spark's native
    * [[BloomFilterMightContain]] rejects (it requires a literal/scalar
    * subquery). Value hashing is identical to the build/probe pair above
    * (XxHash64 seed 42), so a filter built by [[bloomAgg]] answers both
    * probe spellings interchangeably.
    *
    * The bloom side MUST arrive via a broadcast join: the per-instance
    * deserialization cache keys on array IDENTITY, which broadcast hash
    * relations preserve across probe rows (one array instance per band
    * per executor). After a shuffle every row carries its own copy — the
    * cache would thrash AND the exchange would move megabytes per row,
    * so a beyond-broadcast bloom index is the wrong plan shape in the
    * first place (use the exact anti-join / persisted hash-index path).
    */
  def bloomMightCol(bloom: Column, value: Column): Column =
    Native(BloomMightContainCol(Native.expr(bloom), hashed(value)))

  val bloomMightColName = "graft_bloom_might_col"
}

/** Bloom membership probe against a column-valued serialized filter.
  * Interpreted-only (CodegenFallback): it runs on the PROBE side of a
  * broadcast bloom-index join — a boolean per incoming row, off every
  * hot aggregation path — and the per-row work is one cached-filter
  * lookup plus k bit probes. Deserialized filters are cached per
  * expression instance keyed on the byte array's identity (broadcast
  * relations hand every probe row the same array instance per band);
  * the cache is cleared if it ever exceeds 1024 entries, which only a
  * mis-planned post-shuffle bloom column could cause.
  */
case class BloomMightContainCol(left: Expression, right: Expression)
    extends BinaryExpression with Predicate with CodegenFallback {

  override def prettyName: String = SketchFns.bloomMightColName
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (BINARY, BIGINT), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  @transient private lazy val cache =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[Array[Byte], org.apache.spark.util.sketch.BloomFilter]())

  override protected def nullSafeEval(bloomBytes: Any, v: Any): Any = {
    val bytes = bloomBytes.asInstanceOf[Array[Byte]]
    var bf = cache.get(bytes)
    if (bf == null) {
      bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      if (cache.size > 1024) cache.clear()
      cache.put(bytes, bf)
    }
    bf.mightContainLong(v.asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContainCol =
    copy(left = newLeft, right = newRight)
}
