package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY §3 E2 — the SQL-string entry point: the same declared semantics
  * expressed as `spark.sql(...)` text (ANTLR parse → analysis → the
  * identical Catalyst pipeline) must produce row-identical results to the
  * DataFrame-DSL twins, including through the graft-native functions the
  * session extensions inject.
  */
class SqlPathSpec extends SparkSuite {

  private def rows(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("b7 latest-version read via pure SQL equals the DSL twin") {
    Tables.cells(spark, sf).createOrReplaceTempView("cells_v")
    val sql = spark.sql(
      """SELECT rowkey, qualifier, value FROM (
        |  SELECT rowkey, qualifier, value,
        |         row_number() OVER (PARTITION BY rowkey, cf, qualifier
        |                            ORDER BY ts DESC, value) AS rn
        |  FROM cells_v WHERE op = 'put')
        |WHERE rn = 1
        |ORDER BY rowkey NULLS LAST, qualifier NULLS LAST LIMIT 500""".stripMargin)
    assert(rows(sql).sameElements(rows(
      ops.FilterOps.b7_latest_cells(spark, sf))))
  }

  test("d6 rollup via pure SQL equals the DSL twin") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem_v
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    assert(rows(sql).sameElements(rows(
      ops.AggOps.queries("d6_agg_rollup")(spark, sf))))
  }

  test("graft-native functions work from SQL text (k5 cosine twin)") {
    // the session the mains run: GraftExtensions installs graft_cosine
    val g = SparkSuite.graft
    Tables.embeddings(g, sf).createOrReplaceTempView("emb_v")
    val sql = g.sql(
      """SELECT pid, vec_id, rn FROM (
        |  SELECT p.vec_id AS pid, e.vec_id,
        |         row_number() OVER (PARTITION BY p.vec_id
        |             ORDER BY graft_cosine(p.embedding, e.embedding) DESC,
        |                      e.vec_id) AS rn
        |  FROM emb_v p JOIN emb_v e ON e.vec_id != p.vec_id
        |  WHERE p.vec_id < 10)
        |WHERE rn <= 5
        |ORDER BY pid NULLS LAST, rn NULLS LAST""".stripMargin)
    assert(rows(sql).sameElements(rows(
      ops.UdxOps.k5_expr_cosine(spark, sf))))
  }
}
