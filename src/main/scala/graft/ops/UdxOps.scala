package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** SURVEY.md §2.12 K — user-defined extension surface, each validated
  * against a pure-SQL oracle so the extension mechanism itself is what's
  * under test.
  *
  * Perf note: Scala UDFs/UDAFs break whole-stage codegen and serialize
  * per row — they exist to prove the extension surface. Everything in the
  * hot paths of the other op files uses codegen'd builtins instead, which
  * is the posture a 100 TB deployment wants.
  */
object UdxOps {

  /** K2 buffer: exact decimal sum. Mirrors Spark's double→DECIMAL(18,2)
    * cast (shortest-decimal repr then HALF_UP) so results bit-match the
    * plain `sum(CAST(... AS DECIMAL(18,2)))` oracle.
    */
  class DecimalSum extends Aggregator[java.lang.Double, java.math.BigDecimal, java.math.BigDecimal] {
    private def toDec(d: java.lang.Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d).setScale(2, java.math.RoundingMode.HALF_UP)
    def zero: java.math.BigDecimal = java.math.BigDecimal.ZERO
    def reduce(b: java.math.BigDecimal, a: java.lang.Double): java.math.BigDecimal =
      if (a == null) b else b.add(toDec(a))
    def merge(b1: java.math.BigDecimal, b2: java.math.BigDecimal): java.math.BigDecimal = b1.add(b2)
    def finish(r: java.math.BigDecimal): java.math.BigDecimal = r
    def bufferEncoder: Encoder[java.math.BigDecimal] = Encoders.DECIMAL
    def outputEncoder: Encoder[java.math.BigDecimal] = Encoders.DECIMAL
  }

  /** k1: scalar Scala UDF (q*2+1 — FP-exact, so the SQL oracle matches
    * bit-for-bit).
    */
  def k1_udf_scalar: Q = (s, d) => {
    val f = udf((q: Double) => q * 2 + 1)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), f(col("l_quantity")).as("v"))
      // (l_orderkey, l_linenumber) is not unique in the fixture — v tiebreak
      // keeps the LIMIT deterministic (R1).
      .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
        asc_nulls_last("v")).limit(200)
  }

  /** k2: typed UDAF via Aggregator + functions.udaf — exact decimal sum,
    * oracle = plain SUM(CAST AS DECIMAL).
    */
  def k2_udaf_sum: Q = (s, d) => {
    val dsumUdaf = udaf(new DecimalSum, Encoders.DOUBLE)
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(dsumUdaf(col("o_totalprice")).cast("double").as("s"))
      .orderBy(asc_nulls_last("o_orderstatus"))
  }

  /** k3: table function — a UDF returning Seq[String] exploded into rows
    * (the compose form of a Generator; oracle = unnest(string_split)).
    */
  def k3_udtf_explode: Q = (s, d) => {
    val tokenize = udf((text: String) =>
      if (text == null) Seq.empty[String] else text.split(" ", -1).toSeq)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokenize(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_last("doc_id")).limit(100)
  }

  /** k5: j8 re-expressed through the native codegen'd CosineSim Catalyst
    * expression (graft.functions.CosineSim) — same oracle as j8, so the
    * driver gate proves the custom expression is bit-identical to the
    * HOF formulation.
    */
  def k5_expr_cosine: Q = (s, d) => {
    val emb = graft.Tables.embeddings(s, d)
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("pid"), col("embedding").as("p_emb"))
    val sims = broadcast(probes).crossJoin(emb)
      .where(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        graft.functions.CosineSim.of(col("p_emb"), col("embedding")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select("pid", "vec_id", "rn")
      .orderBy(asc_nulls_last("pid"), asc_nulls_last("rn"))
  }

  def queries: Map[String, Q] = Map(
    "k1_udf_scalar" -> k1_udf_scalar,
    "k2_udaf_sum" -> k2_udaf_sum,
    "k3_udtf_explode" -> k3_udtf_explode,
    "k5_expr_cosine" -> k5_expr_cosine)
}
