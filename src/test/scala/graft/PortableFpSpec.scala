package graft

import graft.functions.{MinHashMd5, SimHashMd5}
import org.apache.spark.sql.functions._

/** The fused native portable fingerprints (j39/j40's hot paths) must be
  * bit-identical to the declarative md5/conv spellings they replace —
  * the same contract ShinglesSpec pins for graft_shingle_md5_60. The
  * declarative forms below are also exactly what the DuckDB oracles
  * spell, so these equalities are what keep the cross-engine gates
  * honest after the native swap.
  */
class PortableFpSpec extends SparkSuite {

  private val declSimhash =
    """aggregate(
         transform(sequence(0, 59),
           b -> IF(2 * size(filter(transform(split(lower(text), ' '),
                                     tok -> CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)),
                             h -> (shiftright(h, b) & 1) = 1))
                   >= size(split(lower(text), ' ')),
                   shiftleft(1L, b), 0L)),
         0L, (a, x) -> a + x)"""

  private val declMinhash =
    """transform(sequence(0, 15), i ->
         array_min(transform(array_distinct(split(lower(text), ' ')), tok ->
           CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', tok)), 1, 15),
                     16, 10) AS BIGINT))))"""

  private def frames = Seq(
    Tables.documents(spark, sf).select("text"),
    {
      import spark.implicits._
      Seq("", "a", "a a a", "héllo wörld tok", "日本語 の テキスト",
        "x:colon 0:seedish token").toDF("text")
    })

  test("graft_simhash_md5 equals the declarative bit-vote chain (fixture + edges)") {
    for (df <- frames) {
      val bad = df.select(
          SimHashMd5.of(split(lower(col("text")), " ")).as("native"),
          expr(declSimhash).as("decl"))
        .where(not(col("native") === col("decl"))).count()
      assert(bad == 0)
    }
  }

  test("graft_minhash_md5 equals the declarative seeded-min chain (fixture + edges)") {
    for (df <- frames) {
      val bad = df.select(
          MinHashMd5.of(array_distinct(split(lower(col("text")), " ")), 16).as("native"),
          expr(declMinhash).as("decl"))
        .where(not(col("native") === col("decl"))).count()
      assert(bad == 0)
    }
  }

  test("null tokens: no vote but full-length denominator (simhash), null positions (minhash)") {
    // the ADVICE r10 null-skip must match the declarative spellings
    // EXACTLY (r11 review: an nz denominator diverged): the declarative
    // filter() drops a null hash's vote, but size(arr) still counts it
    import spark.implicits._
    val arr = "array('alpha', CAST(NULL AS STRING), 'beta', 'alpha')"
    val declSim =
      s"""aggregate(
           transform(sequence(0, 59),
             b -> IF(2 * size(filter(transform($arr,
                                       tok -> CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)),
                               h -> (shiftright(h, b) & 1) = 1))
                     >= size($arr),
                     shiftleft(1L, b), 0L)),
           0L, (a, x) -> a + x)"""
    val declMin =
      s"""transform(sequence(0, 15), i ->
           array_min(transform($arr, tok ->
             CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', tok)), 1, 15),
                       16, 10) AS BIGINT))))"""
    val row = Seq(1).toDF("one").select(
      SimHashMd5.of(expr(arr)).as("ns"),
      expr(declSim).as("ds"),
      MinHashMd5.of(expr(arr), 16).as("nm"),
      expr(declMin).as("dm")).head()
    assert(row.getLong(0) == row.getLong(1), "simhash null semantics diverged")
    assert(row.getSeq[Long](2) == row.getSeq[Long](3), "minhash null semantics diverged")
    // all-null input: declarative array_min yields NULL per position; the
    // native twin must match, not leak a sentinel
    val nulls = Seq(1).toDF("one")
      .select(MinHashMd5.of(expr("array(CAST(NULL AS STRING))"), 4).as("nm")).head()
    assert(nulls.getSeq[Any](0) == Seq(null, null, null, null))
  }

  test("Tables.load resolves a fixture relation once per (session, path)") {
    // the r11 constant-removal: re-resolving per invocation re-ran file
    // listing + footer schema inference inside every timed region
    assert(Tables.load(spark, sf, "nation") eq Tables.load(spark, sf, "nation"))
    assert(!(Tables.load(spark, sf, "nation") eq Tables.load(spark, sf, "region")))
  }
}
