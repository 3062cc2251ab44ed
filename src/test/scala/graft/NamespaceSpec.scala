package graft

import graft.sources.{HFileOps, NamespaceOps}
import org.apache.spark.sql.functions._

/** Namespace admin semantics (sources/NamespaceOps.scala): the
  * metadata-only listing's exactness, manifest-pinned clone isolation
  * across tables, and the structural facts (file counts per table) the
  * a22 oracle digest cannot see.
  */
class NamespaceSpec extends SparkSuite {

  private def tmp(tag: String): String =
    SparkSuite.tempDir(s"graft-ns-$tag").toString

  private def someCells(n: Int, prefix: String) = {
    import spark.implicits._
    (0 until n).map(i => (f"$prefix$i%05d", "e", s"q${i % 3}", 1000L + i,
        i.toDouble, if (i % 10 == 0) "delete" else "put"))
      .toDF("rowkey", "cf", "qualifier", "ts", "value", "op")
  }

  test("the listing's counts are exact and metadata-only per table") {
    val ns = tmp("list")
    NamespaceOps.createTable(someCells(300, "a"), ns, "alpha", regions = 3)
    NamespaceOps.createTable(someCells(120, "b"), ns, "beta", regions = 2)
    val got = NamespaceOps.listNamespace(spark, ns)
      .orderBy("table").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("alpha", "beta"))
    // trailer entryCount includes tombstones: exact total cells
    assert(got(0).getLong(3) == 300L && got(1).getLong(3) == 120L,
      s"n_cells wrong: ${got.mkString(",")}")
    assert(got(0).getLong(1) == 3L && got(1).getLong(1) == 2L,
      "files-per-table must equal the region count written")
    assert(got.forall(_.getLong(2) > 0L), "bytes must come from the listing")
    // and the metadata count equals a real data read, per table
    assert(HFileOps.read(spark, s"$ns/alpha").count() == 300L)
  }

  test("namespace clone is isolated: a post-snapshot delta is invisible") {
    val ns = tmp("iso")
    NamespaceOps.createTable(someCells(200, "a"), ns, "alpha", regions = 2)
    NamespaceOps.createTable(someCells(100, "b"), ns, "beta", regions = 2)
    val manifests = NamespaceOps.snapshotNamespace(spark, ns, tmp("iso_m"))
    assert(manifests.map(_._1) == Seq("alpha", "beta"))
    // delta lands on alpha AFTER the snapshot (a new generation — store
    // files are immutable, the delta never touches pinned files)
    HFileOps.bulkWrite(someCells(50, "z").withColumn("ts", col("ts") + 10L),
      s"$ns/alpha", regions = 2, generation = 1)
    val clone = NamespaceOps.readNamespaceClone(spark, manifests)
    val cloneAlpha = clone.where(col("table") === "alpha")
    // clone: the 180 puts pinned at snapshot time — no z-rows
    assert(cloneAlpha.count() == 180L,
      s"clone saw a post-snapshot delta (${cloneAlpha.count()} rows)")
    assert(cloneAlpha.where(col("rowkey").startsWith("z")).count() == 0L)
    // live table DOES see the delta
    assert(HFileOps.mergedRead(spark, s"$ns/alpha")
      .where(col("rowkey").startsWith("z")).count() == 45L)
    // beta untouched either way
    assert(clone.where(col("table") === "beta").count() == 90L)
  }

  test("an empty namespace snapshot clones to an empty cells+table view") {
    // ADVICE r14: .reduce over zero tables threw; the clone must instead
    // match mergedReadFiles' empty-input behavior — a well-typed empty
    // DataFrame downstream code can union/filter without special-casing
    val empty = NamespaceOps.readNamespaceClone(spark, Seq.empty)
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq ==
      HFileOps.cellsSchema.fieldNames.toSeq :+ "table")
    // and it composes: a union with a real clone is just the real clone
    assert(empty.unionByName(empty).count() == 0L)
  }

  test("quota statuses: VIOLATION exactly when used > limit, WARN at the inclusive 80% edge") {
    import spark.implicits._
    // fixed per-table limit of 100 cells isolates the status arms from
    // the listing: 101 → VIOLATION (just over), 100 → WARN (at the
    // limit but not over — used*10 >= 800), 80 → WARN (the inclusive
    // 80% edge), 79 → OK (just under the edge)
    val listing = Seq(("t_over", 101L), ("t_at", 100L),
        ("t_edge", 80L), ("t_under", 79L))
      .toDF("table", "n_cells")
    val got = NamespaceOps.quotaReport(listing, "nsx",
        tableLimitExpr = "100", nsLimitExpr = "400")
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(got("table:t_over") == "VIOLATION")
    assert(got("table:t_at") == "WARN")
    assert(got("table:t_edge") == "WARN")
    assert(got("table:t_under") == "OK")
    // ns rollup: 360 used vs 400 limit = 90% → WARN, and pct_bp is the
    // exact integer basis points
    val ns = NamespaceOps.quotaReport(listing, "nsx",
        tableLimitExpr = "100", nsLimitExpr = "400")
      .where($"scope" === "ns:nsx").collect().head
    assert(ns.getString(4) == "WARN" && ns.getLong(3) == 9000L)
  }

  test("quota edges: empty namespace is used=0 OK; usage against a zero quota is VIOLATION") {
    import spark.implicits._
    val empty = NamespaceOps.quotaReport(
        Seq.empty[(String, Long)].toDF("table", "n_cells"), "nsy",
        tableLimitExpr = "tot DIV 2", nsLimitExpr = "(tot DIV 10) * 11")
      .collect()
    assert(empty.length == 1, "empty namespace must still report its ns row")
    assert(empty.head.getString(0) == "ns:nsy" && empty.head.getLong(1) == 0L
      && empty.head.getString(4) == "OK", empty.head.toString)
    val zeroQuota = NamespaceOps.quotaReport(
        Seq(("t", 5L)).toDF("table", "n_cells"), "nsz",
        tableLimitExpr = "0", nsLimitExpr = "0")
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(zeroQuota("table:t") == "VIOLATION" && zeroQuota("ns:nsz") == "VIOLATION")
  }

  test("throttle ladder: DISABLE at the inclusive 2x edge, NO_WRITES under it, " +
      "WARN gets the headroom budget, OK emits nothing") {
    import spark.implicits._
    // limits fixed at 100: 200 = exactly 2x → DISABLE/0 (inclusive edge),
    // 199 → NO_WRITES/limit, 90 (WARN band) → headroom throttle of 10,
    // 50 → OK, no action row at all
    val listing = Seq(("t_dis", 200L), ("t_now", 199L),
        ("t_thr", 90L), ("t_ok", 50L))
      .toDF("table", "n_cells")
    val plan = NamespaceOps.quotaThrottlePlan(
        NamespaceOps.quotaReport(listing, "nst",
          tableLimitExpr = "100", nsLimitExpr = "1000"))
      .collect().map(r => r.getString(0) -> (r.getString(3), r.getLong(4))).toMap
    assert(plan("table:t_dis") == ("DISABLE", 0L), plan.toString)
    assert(plan("table:t_now") == ("NO_WRITES", 100L), plan.toString)
    assert(plan("table:t_thr") == ("THROTTLE_REQUEST_NUMBER", 10L), plan.toString)
    assert(!plan.contains("table:t_ok"), "OK scopes must emit no action")
    // ns rollup: 539/1000 is under the WARN band → no ns action either
    assert(!plan.contains("ns:nst"), plan.toString)
  }

  test("applyThrottles is a keyed upsert: plan wins, others kept, re-apply is a no-op") {
    import spark.implicits._
    val state = Seq(("table:a", "NO_WRITES", 10L), ("table:b", "DISABLE", 0L))
      .toDF("scope", "policy", "clamp")
    val plan = Seq(("table:a", "DISABLE", 0L), ("table:c", "THROTTLE_REQUEST_NUMBER", 7L))
      .toDF("scope", "policy", "clamp")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val once = NamespaceOps.applyThrottles(state, plan)
    // planned scopes replaced (a escalated), untouched kept (b), new added (c)
    assert(rows(once) == rows(Seq(("table:a", "DISABLE", 0L),
      ("table:b", "DISABLE", 0L), ("table:c", "THROTTLE_REQUEST_NUMBER", 7L))
      .toDF("scope", "policy", "clamp")))
    // idempotence: re-delivering the same plan changes nothing (the a21
    // re-delivery discipline — the enforcement chore can always be retried)
    assert(rows(NamespaceOps.applyThrottles(once, plan)) == rows(once))
  }
}
