package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native probe-set shingle intersection: `graft_probe_hits(text)` against
  * a bounded, constructor-injected probe table computes, in ONE pass over
  * the document's bytes, the exact k-char-shingle intersection count with
  * every probe document — the J14 exact-Jaccard substrate.
  *
  * Why native (r6 VERDICT task 4): the inverted-index spelling explodes
  * every distinct shingle of every corpus doc (~n_chars rows per doc,
  * ~125M rows at sf1) through a broadcast hash join and a partial
  * aggregate, only for almost all of those rows to match nothing. This
  * expression fuses shingle → distinct → probe-lookup → count into one
  * JVM loop per document: per shingle it costs one hash-set insert and
  * (for new shingles) one probe-map lookup, and emits one OUTPUT ROW PER
  * INTERSECTING PROBE (≤ |probes|, usually 0) instead of one per shingle.
  * The winnow-FINGERPRINT prefilter the verdict floated was evaluated and
  * rejected as unsound for an exact top-k: fingerprint sharing implies
  * shingle sharing but not conversely (two docs with permuted identical
  * shingle sets can share zero winnowed fingerprints yet have Jaccard
  * 1.0 — the winnowing guarantee covers contiguous runs only), so it
  * could drop true top-5 pairs on an adversarial corpus. This fusion is
  * exact by construction.
  *
  * Semantics contract (MiscSpec A/B pins it): for each probe `(pid, pn,
  * shingles)`, `c = |shingles ∩ distinctShingles(text, k)|` and `dn =
  * |distinctShingles(text, k)|` exactly equal `size(array_distinct(
  * graft_shingles(text, k)))`-based spellings — including the
  * numChars < k case (one shingle: the whole text, [[Shingles.shingle]]'s
  * rule). Output: `array<struct<pid:long, pn:int, c:int, dn:int>>` with
  * one entry per probe with c > 0, in probe-table order; `dn` rides in
  * each entry so a single generator consumes the value without
  * re-evaluating the expression (CollapseProject would otherwise
  * duplicate the whole pass).
  *
  * Scale: the probe table is a client argument (a handful of query
  * documents), never data — the map is built once per executor instance
  * and shared across rows; per-row state is one hash set sized by the
  * document. The corpus side stays a narrow scan: no shuffle, no join,
  * no aggregate.
  */
case class ProbeShingleHits(child: Expression, k: Int,
                            probes: Seq[(Long, Seq[String])])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pid", LongType, nullable = false),
    StructField("pn", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("dn", IntegerType, nullable = false))), containsNull = false)

  override def prettyName: String = ProbeShingleHits.name

  /** The documented semantics are per-DISTINCT-shingle; dedupe here so the
    * contract is self-enforcing rather than caller-enforced — a probe list
    * with repeats would otherwise over-increment c and inflate pn
    * (ADVICE r7). TextOps already passes array_distinct output, so this is
    * a no-op on the current caller.
    */
  private def dedupProbes: Seq[(Long, Seq[String])] =
    probes.map { case (id, sh) => (id, sh.distinct) }

  private val pids: Array[Long] = probes.map(_._1).toArray
  private val pns: Array[Int] = dedupProbes.map(_._2.size).toArray

  /** shingle → indices of probes containing it; built once per
    * deserialized instance (i.e. once per executor), shared across rows.
    */
  @transient private lazy val probeMap: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, java.util.ArrayList[Integer]]()
    dedupProbes.zipWithIndex.foreach { case ((_, sh), idx) =>
      sh.foreach { g =>
        m.computeIfAbsent(UTF8String.fromString(g),
          _ => new java.util.ArrayList[Integer]()).add(idx)
      }
    }
    val out = new java.util.HashMap[UTF8String, Array[Int]](m.size() * 2)
    m.forEach((g, lst) => {
      val a = new Array[Int](lst.size())
      var i = 0; while (i < a.length) { a(i) = lst.get(i); i += 1 }
      out.put(g, a)
    })
    out
  }

  /** The fused per-document pass (also the codegen target). */
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // char start offsets, same walk as Shingles.shingle
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
    val seen = new java.util.HashSet[UTF8String](nOut * 2)
    val counters = new Array[Int](pids.length)
    val pm = probeMap
    var i = 0
    while (i < nOut) {
      val from = starts(i)
      val to = starts(math.min(i + k, nChars))
      val sub = UTF8String.fromBytes(bytes, from, to - from)
      if (seen.add(sub)) {
        val hit = pm.get(sub)
        if (hit != null) {
          var h = 0
          while (h < hit.length) { counters(hit(h)) += 1; h += 1 }
        }
      }
      i += 1
    }
    val dn = seen.size
    var nHits = 0
    var p = 0
    while (p < counters.length) { if (counters(p) > 0) nHits += 1; p += 1 }
    val rows = new Array[Any](nHits)
    var w = 0
    p = 0
    while (p < counters.length) {
      if (counters(p) > 0) {
        rows(w) = InternalRow(pids(p), pns(p), counters(p), dn)
        w += 1
      }
      p += 1
    }
    new GenericArrayData(rows)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS instance so generated code shares the lazily-built
    // probe map instead of re-encoding the table into source text
    val ref = ctx.addReferenceObj("probeHits", this,
      classOf[ProbeShingleHits].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeShingleHits =
    copy(child = newChild)
}

object ProbeShingleHits {

  val name = "graft_probe_hits"

  /** Probe hits of `text` against a CAPTURED probe table (the probes are
    * query arguments, not expressible as SQL literals at any reasonable
    * size): each call's table lives in its own expression. */
  def of(text: Column, k: Int, probes: Seq[(Long, Seq[String])]): Column =
    Native(ProbeShingleHits(Native.expr(text), k, probes))
}
