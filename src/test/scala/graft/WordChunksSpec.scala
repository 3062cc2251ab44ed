package graft

import graft.functions.WordChunks
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** graft_word_chunks, the j45/j47 paragraph segmenter: bit-identical to
  * the interpreted HOF chunker it replaced, on the fixture corpus and the
  * edge cases, interpreted, under whole-stage codegen and under
  * CODEGEN_ONLY.
  */
class WordChunksSpec extends SparkSuite {

  // the HOF chunker spelled out here, so the reference never becomes the
  // kernel under test: chunk i joins words i*k+1 .. i*k+k with one space
  private def hofChunks(ws: Column, k: Int): Column =
    transform(sequence(lit(0), ceil(size(ws) / lit(k.toDouble)).cast("int") - 1),
      i => array_join(slice(ws, i * k + 1, lit(k)), " "))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  private def words(n: Int, w: Int => String = i => s"w$i"): String =
    (0 until n).map(w).mkString(" ")

  /** Edge texts, read back from parquet so the projection is not folded
    * away by the optimizer's local-relation evaluation. `ws`, when set,
    * is the word array itself (null words are not reachable through
    * `split`); otherwise the words are `split(lower(text), " ")`.
    */
  private lazy val edges: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("text", StringType),
      StructField("ws", ArrayType(StringType, containsNull = true))))
    val texts = Seq(
      null, "", "One", words(7), words(8), words(9), words(16), words(17),
      words(24), "a  b   c", " lead and trail ",
      words(9, i => Seq("héllo", "wörld", "日本語", "のテキスト", "aあbいc")(i % 5)),
      words(17, i => s"Ünï$i😀"))
    val arrays = Seq(Seq("a", null, "b"), Seq(null, null), (0 until 9).map(i =>
      if (i == 8) null else s"x$i"))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i, t, null) } ++
      arrays.zipWithIndex.map { case (a, i) => Row(100 + i, null, a) }
    val dir = SparkSuite.tempDir("graft-word-chunks-edges").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .select(col("id"),
        when(col("ws").isNotNull, col("ws"))
          .otherwise(split(lower(col("text")), " ")).as("ws"))
  }

  private def fixture: DataFrame = Tables.documents(spark, sf)
    .select(col("doc_id").cast("int").as("id"), split(lower(col("text")), " ").as("ws"))

  /** (id, kernel chunks, HOF chunks) over the fixture corpus and the edges. */
  private def eval(k: Int): Seq[(Int, Seq[String], Seq[String])] =
    fixture.union(edges.select(col("id") - 1000000, col("ws")))
      .select(col("id"), WordChunks.of(col("ws"), k), hofChunks(col("ws"), k))
      .collect().map(r => (r.getInt(0), Option(r.getSeq[String](1)).orNull,
        Option(r.getSeq[String](2)).orNull))
      .sortBy(_._1).toSeq

  test("graft_word_chunks is bit-identical to the HOF chunker in every evaluation mode") {
    val byMode = modes.map { case (mode, conf) => mode -> withConf(conf: _*)(eval(8)) }
    byMode.foreach { case (mode, rows) =>
      val bad = rows.filterNot(r => r._2 == r._3)
      assert(bad.isEmpty, s"$mode: ${bad.take(3).mkString("; ")}")
    }
    val (_, interp) = byMode.head
    byMode.tail.foreach { case (mode, rows) => assert(rows == interp, mode) }
    val edge = interp.filter(_._1 < 0).map(r => (r._1 + 1000000) -> r._2).toMap
    assert(edge(0) == null) // null text
    assert(edge(1) == Seq("")) // "" splits to one empty word
    assert(edge(2) == Seq("one"))
    assert(edge(4) == Seq(words(8)))
    assert(edge(5) == Seq(words(8), "w8"))
    assert(edge(7).length == 3 && edge(7).last == "w16")
    assert(edge(100) == Seq("a b"))
    assert(edge(101) == Seq(""))
    assert(edge(102) == Seq("x0 x1 x2 x3 x4 x5 x6 x7", ""))
    assert(edge(11).last == "のテキスト" && edge(12).last == "ünï16😀")
  }

  test("other widths match too; an empty array has no chunks") {
    for (k <- Seq(1, 3, 50)) {
      val bad = eval(k).filterNot(r => r._2 == r._3)
      assert(bad.isEmpty, s"k=$k: ${bad.take(3).mkString("; ")}")
    }
    assert(WordChunks.chunks(new GenericArrayData(Array.empty[AnyRef]), 8).numElements() == 0)
    val one = WordChunks.chunks(new GenericArrayData(Array[AnyRef](UTF8String.fromString("a"))), 8)
    assert(one.numElements() == 1 && one.getUTF8String(0).toString == "a")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(WordChunks.of(array(lit(1)), 8)).collect())
    assert(e.getMessage.contains("ARRAY<STRING>"), e.getMessage)
  }

  test("graft_word_chunks compiles into a whole-stage codegen span (fallback off, CODEGEN_ONLY)") {
    withConf(modes.last._2: _*) {
      val df = fixture.select(col("id"), posexplode(WordChunks.of(col("ws"), 8)))
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.matches(""".*\*\(\d+\) .*graft_word_chunks.*""")),
        s"no codegen span runs graft_word_chunks in:\n$plan")
    }
  }

  test("j45 runs graft_word_chunks and j3 graft_shingles, with no lambda function left in either plan") {
    val j45 = SparkEntry.queries("j45_dedup_paragraphs")(spark, sf).queryExecution.executedPlan.toString
    assert(j45.contains("graft_word_chunks"), j45)
    assert(!j45.contains("lambdafunction"), j45)
    val j3 = SparkEntry.queries("j3_text_shingles")(spark, sf).queryExecution.executedPlan.toString
    assert(j3.contains("graft_shingles"), j3)
    assert(!j3.contains("lambdafunction"), j3)
  }
}
