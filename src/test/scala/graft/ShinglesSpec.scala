package graft

import graft.functions.{ShingleMd5, Shingles}
import org.apache.spark.sql.functions._

/** The native O(len·k) shingle expression must equal the declarative
  * substr-per-position spelling on every input — including the fixture
  * corpus, multi-byte UTF-8 (char windows, not byte windows), and the
  * short/empty edge cases the sequence(1, max(len-k+1, 1)) form defines.
  */
class ShinglesSpec extends SparkSuite {

  private def declarative(c: org.apache.spark.sql.Column, k: Int) =
    transform(
      sequence(lit(1), greatest(length(c) - (k - 1), lit(1))),
      i => c.substr(i, lit(k)))

  test("equals the declarative spelling on the fixture corpus") {
    val df = Tables.documents(spark, sf)
      .select(lower(col("text")).as("t"))
      .select(Shingles.of(col("t"), 5).as("native"),
        declarative(col("t"), 5).as("decl"))
      .where(not(col("native") === col("decl")))
    assert(df.count() == 0)
  }

  test("edge cases: empty, shorter-than-k, exactly-k, multi-byte chars") {
    import spark.implicits._
    val rows = Seq("", "ab", "abcde", "abcdef", "héllo wörld", "日本語のテキスト", "aあbいc")
    val df = rows.toDF("t")
      .select(col("t"), Shingles.of(col("t"), 5).as("native"),
        declarative(col("t"), 5).as("decl"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"input '${r.getString(0)}'")
    }
  }

  test("k=2 and k=9 windows match too") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "日本語テキストです").toDF("t")
    for (k <- Seq(2, 9)) {
      val bad = df.select(Shingles.of(col("t"), k).as("native"),
          declarative(col("t"), k).as("decl"))
        .where(not(col("native") === col("decl"))).count()
      assert(bad == 0, s"k=$k")
    }
  }

  /** The fused shingle+hash (j33's hot path) must be bit-identical to the
    * declarative md5-hex-conv chain it replaces — same windows, same top
    * 60 bits, including multi-byte UTF-8 (the digest is over the CHAR
    * window's byte slice) and the shorter-than-k degenerate window.
    */
  private def declarativeMd5(c: org.apache.spark.sql.Column, k: Int) =
    transform(
      transform(
        sequence(lit(1), greatest(length(c) - (k - 1), lit(1))),
        i => c.substr(i, lit(k))),
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))

  test("graft_shingle_md5_60 equals the declarative md5/conv chain (fixture + edges)") {
    import spark.implicits._
    val fixture = Tables.documents(spark, sf).select(lower(col("text")).as("t"))
    val edges = Seq("", "ab", "abcdef", "abcdefg", "héllo wörld",
      "日本語のテキスト", "aあbいc").toDF("t")
    for ((df, what) <- Seq((fixture, "fixture"), (edges, "edges")); k <- Seq(3, 7)) {
      val bad = df.select(ShingleMd5.of(col("t"), k).as("native"),
          declarativeMd5(col("t"), k).as("decl"))
        .where(not(col("native") === col("decl"))).count()
      assert(bad == 0, s"$what k=$k")
    }
  }

  /** j3's earlier relational spelling, spelled out here: every 5-char
    * window through a shuffle into countDistinct. */
  private def j3Relational(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(length(col("text")) - 4, lit(0))),
          i => col("text").substr(i, lit(5)))).as("sh"))
      .groupBy("doc_id")
      .agg(countDistinct("sh").as("shingles"))

  test("j3's distinct-shingle count equals its relational spelling (fixture + edges)") {
    import org.apache.spark.sql.types._
    val texts = Seq(null, "", "a", "abcd", "abcde", "abcdef", "aaaaaaaaaa",
      "abcabcabcabc", "héllo wörld", "日本語のテキスト", "aあbいc", "aあbいcう",
      "😀😀😀😀😀😀", "Ünïcödé Ünïcödé")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val dir = SparkSuite.tempDir("graft-j3-edges").toString
    spark.createDataFrame(java.util.Arrays.asList(
        texts.zipWithIndex.map { case (t, i) => org.apache.spark.sql.Row(i.toLong, t) }: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val edges = spark.read.parquet(dir)
    for ((docs, what) <- Seq(edges -> "edges", Tables.documents(spark, sf) -> "fixture")) {
      val got = graft.ops.TextOps.distinctShingleCounts(docs).collect().map(_.toString).sorted
      val want = j3Relational(docs).collect().map(_.toString).sorted
      assert(got.toSeq == want.toSeq, what)
    }
    val j3 = SparkEntry.queries("j3_text_shingles")(spark, sf).collect().map(_.toString)
    val want = j3Relational(Tables.documents(spark, sf).where(col("doc_id") < 50))
      .orderBy("doc_id").collect().map(_.toString)
    assert(j3.toSeq == want.toSeq && j3.length == 50)
  }
}
