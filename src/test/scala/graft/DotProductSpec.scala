package graft

import graft.functions.DotProduct
import graft.ops.TextOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** graft_dot, the kernel behind TextOps.dotCol/l2Col: bit-identical to the
  * interpreted HOF fold it replaced, null-exact on the edge cases, and
  * compiled inside whole-stage codegen on both of its paths.
  */
class DotProductSpec extends SparkSuite {

  // the HOF fold spelled out here, so the reference never becomes the
  // kernel under test: a left fold from 0.0 in index order of
  // (double) x * (double) y
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** All ordered pairs (self-pairs included) of a 50-row embedding slice. */
  private def pairs: DataFrame = {
    val emb = Tables.embeddings(spark, sf).where(col("vec_id") < 50)
    emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("eb")))
  }

  /** Edge rows, read back from parquet so the projection is not folded
    * away by the optimizer's local-relation evaluation.
    */
  private lazy val edges: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val rows = Seq(
      Row(0, null, Seq(1.0f)),
      Row(1, Seq(1.0f), null),
      Row(2, Seq(1.0f, null), Seq(1.0f, 2.0f)),
      Row(3, Seq(1.0f, 2.0f), Seq(1.0f)),
      Row(4, Seq.empty[Float], Seq.empty[Float]),
      Row(5, Seq(0.5f, -2.0f, 3.25f), Seq(4.0f, 0.25f, -1.0f)))
    val dir = SparkSuite.tempDir("graft-dot-edges").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("graft_dot is bit-identical to the HOF fold over all pairs of 50 embeddings") {
    val got = pairs.select(col("a"), col("b"),
        DotProduct.of(col("ea"), col("eb")).as("native"), hofDot(col("ea"), col("eb")).as("hof"),
        TextOps.l2Col(col("ea")).as("l2"), sqrt(hofDot(col("ea"), col("ea"))).as("hof_l2"))
      .collect()
    assert(got.length == 2500)
    val bad = got.filterNot(r => bits(r.get(2)) == bits(r.get(3)) && bits(r.get(4)) == bits(r.get(5)))
    assert(bad.length == 0, s"pairs differ, e.g. ${bad.take(3).mkString("; ")}")
    assert(got.forall(r => r.get(2) != null))
  }

  test("null array, null element and unequal lengths give null; empty arrays give 0.0; non-float arrays are rejected") {
    val got = edges.select(col("id"), DotProduct.of(col("a"), col("b")).as("native"),
        hofDot(col("a"), col("b")).as("hof"))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap
    Seq(0, 1, 2, 3).foreach(i => assert(got(i) == ((null, null)), s"row $i: ${got(i)}"))
    assert(got(4) == ((0.0, 0.0)))
    val want = 0.5 * 4.0 + -2.0 * 0.25 + 3.25 * -1.0
    assert(got(5) == ((want, want)))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(DotProduct.of(array(lit(1.0d)), array(lit(1.0d)))).collect())
    assert(e.getMessage.contains("array<float>"), e.getMessage)
  }

  test("graft_dot stays in whole-stage codegen (fallback off, CODEGEN_ONLY)") {
    withConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val emb = Tables.embeddings(spark, sf).where(col("vec_id") < 20)
      // two calls in one projection and the predicate: fresh local names
      val two = emb.select(col("vec_id"),
          DotProduct.of(col("embedding"), col("embedding")).as("d1"),
          DotProduct.of(reverse(col("embedding")), col("embedding")).as("d2"))
        .where(DotProduct.of(col("embedding"), col("embedding")) > 0.0
          && DotProduct.of(reverse(col("embedding")), col("embedding")).isNotNull)
      val plan = two.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project [vec_id") && plan.contains("graft_dot"),
        s"no codegen span in:\n$plan")
      assert(two.count() == 20)
      assert(edges.select(DotProduct.of(col("a"), col("b"))).collect().length == 6)
    }
  }

  test("interpreted and codegen evaluation agree bit-for-bit") {
    def eval(): Seq[(Any, Option[Long])] =
      pairs.where(col("a") < 10).select(concat_ws(",", col("a"), col("b")),
          DotProduct.of(col("ea"), col("eb")))
        .union(edges.select(col("id").cast("string"), DotProduct.of(col("a"), col("b"))))
        .collect().map(r => (r.get(0), bits(r.get(1)))).sortBy(_._1.toString).toSeq
    val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(eval())
    val gen = withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(eval())
    assert(interp.length == 506)
    assert(interp == gen)
  }

  test("j8's cosine runs graft_dot, with no lambda function left in its plan") {
    val plan = SparkEntry.queries("j8_sim_topk")(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot"), plan)
    assert(!plan.contains("lambdafunction"), plan)
  }
}
