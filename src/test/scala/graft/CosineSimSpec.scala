package graft

import graft.functions.CosineSim
import graft.ops.{TextOps, UdxOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class CosineSimSpec extends SparkSuite {

  // the interpreted HOF fold, spelled out here rather than taken from
  // TextOps.dotCol/l2Col (which run the native graft_dot kernel), so the
  // reference stays independent of any native kernel
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def hofL2(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  test("k5 native expression reproduces j8 bit-for-bit") {
    val j8 = TextOps.j8_sim_topk(spark, sf).collect().map(_.toString)
    val native = UdxOps.k5_expr_cosine(spark, sf).collect().map(_.toString)
    assert(native.sameElements(j8))
  }

  test("cosine values themselves are bit-identical to the HOF fold") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("eb")))
      .where(col("a") < col("b"))
    val both = pairs.select(
      CosineSim.of(col("ea"), col("eb")).as("native"),
      (hofDot(col("ea"), col("eb"))
        / (hofL2(col("ea")) * hofL2(col("eb")))).as("hof"))
    val diff = both.where(col("native") =!= col("hof")).count()
    assert(diff == 0, s"$diff pairs differ between codegen and HOF cosine")
  }

  test("expression participates in whole-stage codegen") {
    val emb = Tables.embeddings(spark, sf)
    val plan = emb.select(CosineSim.of(col("embedding"), col("embedding")).as("c"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact form
    assert(plan.contains("*(1) Project [graft_cosine"), s"no codegen span in:\n$plan")
  }

  test("two cosines in one projection+predicate stay in codegen (fresh names)") {
    // Regression for the fixed-local-name bug: with literals `n/dot/na/nb/i`
    // in doGenCode, two graft_cosine calls in one codegen scope hit Janino's
    // "Redefinition of local variable" and silently fell back to interpreted
    // mode. fallback=false + CODEGEN_ONLY make any such failure throw.
    // restore whatever the harness had set, not hardcoded defaults
    val saved = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val emb = Tables.embeddings(spark, sf).limit(20)
      val two = emb.select(
          CosineSim.of(col("embedding"), col("embedding")).as("c1"),
          CosineSim.of(reverse(col("embedding")), col("embedding")).as("c2"))
        .where(CosineSim.of(col("embedding"), col("embedding")) > 0.5
          && CosineSim.of(reverse(col("embedding")), col("embedding")) >= -1.0)
      assert(two.count() == 20)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("interpreted eval path (nullSafeEval) matches codegen path") {
    val saved = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = UdxOps.k5_expr_cosine(spark, sf).collect().map(_.toString)
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      val gen = UdxOps.k5_expr_cosine(spark, sf).collect().map(_.toString)
      assert(interp.sameElements(gen))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
