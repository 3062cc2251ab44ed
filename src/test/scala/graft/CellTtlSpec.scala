package graft

import graft.sources.HFileOps
import org.apache.spark.sql.functions._

/** Cell-level TTL semantics (sources/HFileOps.scala b32 machinery):
  * tag round-trip through real storage, per-cell (not per-family)
  * expiry, and the delete-lattice interactions — an EXPIRED delete
  * stops masking, a live delete still masks a live put — that the
  * b32 oracle's aggregate digest cannot isolate.
  */
class CellTtlSpec extends SparkSuite {

  private def tmp(tag: String): String =
    SparkSuite.tempDir(s"graft-ttl-$tag").toString

  private def df(rows: Seq[(String, String, String, Long, Double, String, Long)]) = {
    import spark.implicits._
    rows.toDF("rowkey", "cf", "qualifier", "ts", "value", "op", "ttl_ms")
  }

  test("the TTL tag round-trips byte-exactly through bulkWrite/readWithTtl") {
    val dir = tmp("rt")
    val in = df((0 until 50).map(i =>
      (f"r$i%03d", "e", "q", 1000L + i, i.toDouble, "put", 1000L * (i + 1))))
    HFileOps.bulkWrite(in, dir, regions = 2, ttlMsCol = Some("ttl_ms"))
    val back = HFileOps.readWithTtl(spark, dir)
    assert(back.count() == 50)
    assert(back.where(col("ttl_ms").isNull).count() == 0)
    val mismatch = back.join(in.select(col("rowkey"), col("ttl_ms").as("want")),
      "rowkey").where(col("ttl_ms") =!= col("want")).count()
    assert(mismatch == 0, "a TTL tag decoded to a different value")
  }

  test("a store written WITHOUT TTLs reads ttl_ms as null") {
    val dir = tmp("none")
    HFileOps.bulkWrite(df(Seq(("r1", "e", "q", 1L, 1.0, "put", 99L)))
      .drop("ttl_ms"), dir, regions = 1)
    val back = HFileOps.readWithTtl(spark, dir)
    assert(back.count() == 1 && back.where(col("ttl_ms").isNull).count() == 1)
  }

  test("expiry is per CELL: same coordinate, one version expires, one lives") {
    val dir = tmp("percell")
    // both versions of (r1, e, q): old version has a LONG ttl (alive at
    // now), new version a short one (expired) — per-family TTL could
    // never produce this split
    val now = 10000000L
    HFileOps.bulkWrite(df(Seq(
      ("r1", "e", "q", 1000L, 1.0, "put", 10000L),  // 1000 + 10000*1000 > now: alive
      ("r1", "e", "q", 2000L, 2.0, "put", 5L))),    // 2000 + 5000 < now: expired
      dir, regions = 1, ttlMsCol = Some("ttl_ms"))
    val live = HFileOps.readWithTtl(spark, dir)
      .where(col("ts") + col("ttl_ms") * 1000L >= now)
    val got = live.select("ts", "value").collect()
    assert(got.length == 1 && got(0).getLong(0) == 1000L && got(0).getDouble(1) == 1.0,
      s"per-cell expiry wrong: ${got.mkString(",")}")
  }

  test("an EXPIRED delete stops masking; a live delete still masks") {
    val dir = tmp("lattice")
    val now = 10000000L
    HFileOps.bulkWrite(df(Seq(
      // pair A: put(ts=1000, long ttl) masked by delete(ts=2000, EXPIRED)
      ("a", "e", "q", 1000L, 1.0, "put", 100000L),
      ("a", "e", "q", 2000L, 0.0, "delete", 5L),
      // pair B: put(ts=1000, long ttl) masked by delete(ts=2000, LIVE)
      ("b", "e", "q", 1000L, 2.0, "put", 100000L),
      ("b", "e", "q", 2000L, 0.0, "delete", 100000L))),
      dir, regions = 1, ttlMsCol = Some("ttl_ms"))
    val live = HFileOps.readWithTtl(spark, dir)
      .where(col("ts") + col("ttl_ms") * 1000L >= now)
    val coord = org.apache.spark.sql.expressions.Window
      .partitionBy("rowkey", "cf", "qualifier")
    val visible = live
      .withColumn("del_ts", max(when(col("op") === "delete", col("ts"))).over(coord))
      .where(col("op") === "put"
        && (col("del_ts").isNull || col("ts") > col("del_ts")))
      .select("rowkey").collect().map(_.getString(0)).sorted.toSeq
    // A's delete expired so A's put resurfaces; B's live delete masks
    assert(visible == Seq("a"),
      s"lattice wrong: visible rowkeys = $visible (want only 'a')")
  }

  test("multi-tag blobs: TTL and visibility round-trip independently per cell") {
    import spark.implicits._
    val dir = tmp("multi")
    val in = Seq(
      ("r1", "e", "q", 1L, 1.0, "put", 111L, "finance&exec"),
      ("r2", "e", "q", 2L, 2.0, "put", 222L, "ops|admin"),
      ("r3", "e", "q", 3L, 3.0, "put", 333L, "")) // unlabeled: NO vis tag
      .toDF("rowkey", "cf", "qualifier", "ts", "value", "op", "ttl_ms", "vis")
    HFileOps.bulkWrite(in, dir, regions = 1,
      ttlMsCol = Some("ttl_ms"), visCol = Some("vis"))
    val back = HFileOps.readWithCellTags(spark, dir).orderBy("rowkey").collect()
    assert(back.length == 3)
    assert(back(0).getLong(6) == 111L && back(0).getString(7) == "finance&exec")
    assert(back(1).getLong(6) == 222L && back(1).getString(7) == "ops|admin")
    // the unlabeled cell keeps its TTL tag but carries NO visibility tag
    assert(back(2).getLong(6) == 333L && back(2).isNullAt(7),
      "empty expression must be written as tag ABSENCE, not an empty tag")
  }

  test("an authorization-invisible delete cannot mask a visible put") {
    import spark.implicits._
    val dir = tmp("invdel")
    val in = Seq(
      // put is world-readable; the NEWER delete is exec-only — a scan
      // authorized {internal} must not see the delete, so the put lives
      ("a", "e", "q", 1000L, 1.0, "put", ""),
      ("a", "e", "q", 2000L, 0.0, "delete", "exec"),
      // control: a world-readable delete masks as usual
      ("b", "e", "q", 1000L, 2.0, "put", ""),
      ("b", "e", "q", 2000L, 0.0, "delete", ""))
      .toDF("rowkey", "cf", "qualifier", "ts", "value", "op", "vis")
    HFileOps.bulkWrite(in, dir, regions = 1, visCol = Some("vis"))
    val authed = HFileOps.readWithCellTags(spark, dir)
      .where(graft.ops.FilterOps.visibleUnder(
        coalesce(col("vis"), lit("")), Seq("internal")))
    val coord = org.apache.spark.sql.expressions.Window
      .partitionBy("rowkey", "cf", "qualifier")
    val visible = authed
      .withColumn("del_ts", max(when(col("op") === "delete", col("ts"))).over(coord))
      .where(col("op") === "put"
        && (col("del_ts").isNull || col("ts") > col("del_ts")))
      .select("rowkey").collect().map(_.getString(0)).toSeq.sorted
    assert(visible == Seq("a"),
      s"lattice wrong: visible = $visible (want only 'a')")
  }

  test("mixed tag presence in one store: tagged and untagged cells coexist") {
    val dir = tmp("mixed")
    // two writes into one store via generations: gen 0 tagged, gen 1 not
    HFileOps.bulkWrite(df(Seq(("r1", "e", "q", 1L, 1.0, "put", 777L))),
      dir, regions = 1, generation = 0, ttlMsCol = Some("ttl_ms"))
    HFileOps.bulkWrite(df(Seq(("r2", "e", "q", 2L, 2.0, "put", 0L)))
      .drop("ttl_ms"), dir, regions = 1, generation = 1)
    val back = HFileOps.readWithTtl(spark, dir).orderBy("rowkey").collect()
    assert(back.length == 2)
    assert(back(0).getLong(6) == 777L, "tagged cell lost its TTL")
    assert(back(1).isNullAt(6), "untagged cell grew a TTL")
  }
}
