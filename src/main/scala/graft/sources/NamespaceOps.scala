package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import graft.Tables
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Namespace / multi-table ADMIN surface — the thin layer above the
  * per-table store machinery that an HBase operator drives through
  * [public: o.a.h.hbase.client.Admin#createNamespace /
  * #listTableDescriptorsByNamespace / #snapshot / #cloneSnapshot]:
  * a namespace is a directory of table store dirs; listing it is a
  * METADATA walk (filesystem status + one trailer read per store file —
  * never a data block, the master's META view, O(files) at any data
  * size); a namespace snapshot is one per-table manifest (the a18 model
  * applied across tables — still zero data copy); a namespace clone
  * reads every table through its pinned manifest.
  *
  * Closes VERDICT r13 "What's missing" #3 (snapshot was per-table; the
  * admin story lacked the namespace grouping).
  */
object NamespaceOps {

  /** Create/replace table `table` in namespace `nsDir` from a cells
    * DataFrame — a thin name-mapping over [[HFileOps.bulkWrite]] (one
    * store dir per table, HBase's `ns:table` → directory layout).
    */
  def createTable(cells: DataFrame, nsDir: String, table: String,
                  regions: Int,
                  compression: Int = HFileCodec.CompressionNone,
                  encoding: Int = HFileCodec.EncodingNone): Seq[String] =
    HFileOps.bulkWrite(cells, s"$nsDir/$table", regions,
      compression = compression, encoding = encoding)

  private val listingSchema = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("files", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("n_cells", LongType, nullable = false)))

  /** The admin listing: per table — store-file count, on-disk bytes,
    * and the EXACT cell count — every number from filesystem metadata
    * plus one store-file open per file (the trailer's `entryCount`; the
    * trailer and the load-on-open section, two positioned reads), never
    * a data block. Table names move through the driver (bounded: an admin
    * surface); the per-file trailer reads run as one tiny metadata job
    * so a 4096-region table doesn't serialize its opens on the driver.
    */
  def listNamespace(spark: SparkSession, nsDir: String): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val nsPath = new HPath(nsDir)
    val fs = nsPath.getFileSystem(hadoopConf)
    val tables = Option(fs.listStatus(nsPath)).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    val files: Seq[(String, String, Long)] = tables.flatMap { t =>
      Option(fs.globStatus(new HPath(s"$nsDir/$t", "*.hfile")))
        .getOrElse(Array.empty)
        .map(st => (t, st.getPath.toString, st.getLen))
    }
    val serConf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    val perFile =
      if (files.isEmpty) Seq.empty
      else spark.sparkContext
        .parallelize(files, math.min(files.size, 64))
        .map { case (t, p, bytes) =>
          (t, bytes, HFileOps.openRegion(p, serConf.value)(_.trailer.entryCount))
        }.collect().toSeq
    val rows = perFile.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, fs0) =>
      Row(t, fs0.size.toLong, fs0.map(_._2).sum, fs0.map(_._3).sum)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size)), listingSchema)
  }

  /** Snapshot every table of the namespace: one manifest per table under
    * `manifestDir` (`<table>.manifest`), each pinning the table's live
    * store files — O(files) metadata across the namespace. Returns
    * (table, manifestPath) pairs.
    */
  def snapshotNamespace(spark: SparkSession, nsDir: String,
                        manifestDir: String): Seq[(String, String)] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val nsPath = new HPath(nsDir)
    val fs = nsPath.getFileSystem(hadoopConf)
    val tables = Option(fs.listStatus(nsPath)).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    new HPath(manifestDir).getFileSystem(hadoopConf).mkdirs(new HPath(manifestDir))
    tables.map { t =>
      val stores = Option(fs.globStatus(new HPath(s"$nsDir/$t", "*.hfile")))
        .getOrElse(Array.empty).map(_.getPath.toString).toSeq
      val m = s"$manifestDir/$t.manifest"
      HFileOps.snapshot(spark, stores, m)
      (t, m)
    }
  }

  /** Clone-read the whole namespace from its manifests: every table
    * resolved through [[HFileOps.readSnapshot]]'s merge-on-read lattice,
    * union-tagged with its table name. Tables don't shuffle into each
    * other — the union is a plan-level concat of per-table reads.
    */
  def readNamespaceClone(spark: SparkSession,
                         manifests: Seq[(String, String)],
                         maxVersions: Int = 1): DataFrame =
    // an empty namespace snapshot (no tables) clones to an empty
    // cells+table view, matching mergedReadFiles' empty-input behavior —
    // .reduce on Nil would throw (ADVICE r14)
    if (manifests.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(HFileOps.cellsSchema.fields :+
          org.apache.spark.sql.types.StructField(
            "table", org.apache.spark.sql.types.StringType, nullable = false)))
    else manifests.map { case (t, m) =>
      HFileOps.readSnapshot(spark, m, maxVersions).withColumn("table", lit(t))
    }.reduce(_.unionByName(_))

  /** a22 — the namespace admin story gated end to end: the cells view
    * splits into two tables of one namespace (hot clicks/views vs
    * transactional rest, DIFFERENT codecs), the namespace is listed
    * (metadata-only exact cell counts), snapshotted (per-table
    * manifests), and clone-read; the gate digests the CLONE per
    * (table, qualifier) with the listing's metadata count joined in —
    * so the table split, the manifest pinning, the multi-table clone
    * resolution, AND the trailer-derived admin counts must all agree
    * with the storage-free oracle in one hash.
    */
  val a22_namespace_admin: graft.ops.Q = (s, d) => {
    val nsDir = Tables.appTmpDir(s, "graft_ns", d)
    val manifestDir = Tables.appTmpDir(s, "graft_ns_manifests", d)
    val cells = Tables.cells(s, d)
    val regions = HFileOps.regionCountForBytes(
      Tables.bytesOnDisk(s, d, "events") / 2)
    createTable(cells.where(col("qualifier").isin("click", "view")),
      nsDir, "t_click", regions,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingFastDiff)
    createTable(cells.where(!col("qualifier").isin("click", "view")),
      nsDir, "t_txn", regions,
      compression = HFileCodec.CompressionSnappy,
      encoding = HFileCodec.EncodingPrefix)
    val listing = listNamespace(s, nsDir).select(
      col("table"), col("n_cells").as("meta_n"))
    val clone = readNamespaceClone(s, snapshotNamespace(s, nsDir, manifestDir))
    clone.groupBy("table", "qualifier")
      .agg(count(lit(1)).as("n"),
        graft.ops.dsum(col("value")).as("vsum"),
        sum((col("ts") % 999959L).cast(
          org.apache.spark.sql.types.DecimalType(18, 0))).cast("long").as("tsum"))
      .join(broadcast(listing), "table")
      // `tbl`, not `table`: the oracle twin would need to quote the
      // reserved word in DuckDB — the rename dodges a dialect trap
      .select(col("table").as("tbl"), col("qualifier"), col("n"),
        col("vsum"), col("tsum"), col("meta_n"))
      .orderBy(asc_nulls_last("tbl"), asc_nulls_last("qualifier"))
  }

  /** Quota report over an admin listing `(table, n_cells)` — the
    * [public: o.a.h.hbase.quotas.SpaceQuotaSnapshot /
    * SpaceViolationPolicy] semantics re-expressed over the exact
    * trailer-metadata counts the listing already carries: per table,
    * usage vs a configured limit with status OK / WARN (≥ 80% of
    * limit) / VIOLATION (over limit), plus one namespace rollup row
    * against the namespace's own limit. Production quotas meter BYTES;
    * the gate meters exact CELL COUNTS so both engines compare
    * integers (SURVEY R1 determinism) — the WARN threshold is the
    * cross-multiplied `used·10 ≥ limit·8`, never an IEEE ratio, and
    * `pct_bp` (basis points) is integer division. Everything here is
    * metadata-sized: the listing is O(tables) rows.
    */
  def quotaReport(listing: DataFrame, nsName: String,
                  tableLimitExpr: String, nsLimitExpr: String): DataFrame = {
    val l = listing.select(col("table"), col("n_cells"))
    // an empty namespace is used=0, not used=NULL (sum over zero rows)
    val tot = l.agg(coalesce(sum("n_cells"), lit(0L)).as("tot"))
    val perTable = l.crossJoin(broadcast(tot))
      .select(concat(lit("table:"), col("table")).as("scope"),
        col("n_cells").as("used"), expr(tableLimitExpr).as("lim"))
    val nsRow = tot.select(lit(s"ns:$nsName").as("scope"),
      col("tot").as("used"), expr(nsLimitExpr).as("lim"))
    perTable.unionByName(nsRow)
      // NULL basis points on a zero quota (undefined percent; ANSI DIV
      // would throw), status still resolves below
      .withColumn("pct_bp",
        when(col("lim") > 0, expr("(used * 10000) DIV lim")))
      .withColumn("status",
        when(col("used") > col("lim"), "VIOLATION")
          // lim > 0 guard: a zero-quota zero-usage scope is OK, not
          // WARN-by-0≥0 (usage against a zero quota is VIOLATION above)
          .when(col("lim") > 0 && col("used") * 10 >= col("lim") * 8, "WARN")
          .otherwise("OK"))
      .orderBy(asc_nulls_last("scope"))
  }

  /** a28 — the quota report gated end to end: the a22 two-table
    * namespace is written and LISTED (so `used` comes from hfile
    * trailer metadata, which must equal the oracle's recount of the
    * source rows), then statused against a deterministic quota config —
    * each table capped at half the namespace total (t_txn, the bigger
    * split, lands VIOLATION; t_click lands WARN/OK by its share), the
    * namespace capped at 110% of its own usage (always WARN: the
    * "approaching the limit" page an operator actually gets).
    */
  val a28_quota_report: graft.ops.Q = (s, d) => {
    val nsDir = Tables.appTmpDir(s, "graft_ns_quota", d)
    val cells = Tables.cells(s, d)
    val regions = HFileOps.regionCountForBytes(
      Tables.bytesOnDisk(s, d, "events") / 2)
    createTable(cells.where(col("qualifier").isin("click", "view")),
      nsDir, "t_click", regions)
    createTable(cells.where(!col("qualifier").isin("click", "view")),
      nsDir, "t_txn", regions)
    quotaReport(listNamespace(s, nsDir), "graft_ns",
      tableLimitExpr = "tot DIV 2",
      nsLimitExpr = "(tot DIV 10) * 11")
  }

  /** Throttle-plan derivation — the ENFORCEMENT half of the quota story
    * [public: o.a.h.hbase.quotas.SpaceViolationPolicy (DISABLE /
    * NO_WRITES / ...) + ThrottleType (REQUEST_NUMBER ...) — a28 reports
    * usage vs limits; this emits, per scope that is not OK, the action
    * an enforcing master applies]. Deterministic integer ladder over
    * the [[quotaReport]] columns (every comparison cross-multiplied or
    * exact — no IEEE anywhere):
    *
    *   - VIOLATION at ≥ 2× the limit → `DISABLE` (clamp 0: the scope
    *     is taken offline, HBase's most severe space policy)
    *   - VIOLATION under 2× → `NO_WRITES` (clamp = the limit: reads
    *     continue, writes are rejected until usage falls back under it)
    *   - WARN → `THROTTLE_REQUEST_NUMBER` (clamp = lim − used: the
    *     remaining headroom becomes the request budget — the soft
    *     throttle an operator applies while the scope approaches its
    *     limit)
    *   - OK scopes emit nothing (no action to take)
    *
    * The plan is a PURE function of (used, lim), so re-deriving it from
    * an unchanged report is trivially stable; the stateful half —
    * applying it to an existing throttle table — is [[applyThrottles]],
    * whose keyed upsert makes re-delivery a no-op (NamespaceSpec pins
    * double-apply ≡ single-apply). O(scopes) metadata end to end.
    */
  def quotaThrottlePlan(report: DataFrame): DataFrame =
    report.where(col("status") =!= "OK")
      .select(col("scope"), col("used"), col("lim"),
        when(col("status") === "VIOLATION" && col("used") >= lit(2L) * col("lim"),
          "DISABLE")
          .when(col("status") === "VIOLATION", "NO_WRITES")
          .otherwise("THROTTLE_REQUEST_NUMBER").as("policy"),
        when(col("status") === "VIOLATION" && col("used") >= lit(2L) * col("lim"),
          lit(0L))
          .when(col("status") === "VIOLATION", col("lim"))
          .otherwise(col("lim") - col("used")).as("clamp"))

  /** Apply a throttle plan to an existing throttle-state table
    * `(scope, policy, clamp)` as a keyed UPSERT: planned scopes replace
    * their previous action, untouched scopes keep theirs — so
    * re-applying the same plan (a retried enforcement chore, the a21
    * re-delivery discipline) is structurally a no-op. Both sides are
    * O(scopes) metadata.
    */
  def applyThrottles(state: DataFrame, plan: DataFrame): DataFrame = {
    val p = plan.select("scope", "policy", "clamp")
    state.select("scope", "policy", "clamp")
      .join(p.select("scope"), Seq("scope"), "left_anti")
      .unionByName(p)
  }

  /** a37 — the throttle plan under the driver gate: the a28 namespace
    * usage with a TIGHTER table limit (each table capped at a QUARTER
    * of the namespace total) so every ladder arm fires at every
    * fixture SF — t_txn (the majority split, >½ of usage) lands at
    * ≥ 2× its quarter-limit → DISABLE; t_click (the click/view ~2/5
    * share) is over the quarter but under 2× → NO_WRITES; the
    * namespace row (limit = 110% of usage) is WARN → the headroom
    * throttle. The usage numbers still come from hfile trailer
    * metadata via the real listing, so the write path stays in the
    * hash; the gate digests the plan applied TWICE through
    * [[applyThrottles]] — idempotence is part of the hash, not just
    * the spec.
    */
  val a37_quota_throttle: graft.ops.Q = (s, d) => {
    val nsDir = Tables.appTmpDir(s, "graft_ns_throttle", d)
    val cells = Tables.cells(s, d)
    val regions = HFileOps.regionCountForBytes(
      Tables.bytesOnDisk(s, d, "events") / 2)
    createTable(cells.where(col("qualifier").isin("click", "view")),
      nsDir, "t_click", regions)
    createTable(cells.where(!col("qualifier").isin("click", "view")),
      nsDir, "t_txn", regions)
    val plan = quotaThrottlePlan(
      quotaReport(listNamespace(s, nsDir), "graft_ns",
        tableLimitExpr = "tot DIV 4",
        nsLimitExpr = "(tot DIV 10) * 11"))
    val empty = s.createDataFrame(
      s.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("scope", StringType, nullable = false),
        StructField("policy", StringType, nullable = false),
        StructField("clamp", LongType, nullable = false))))
    applyThrottles(applyThrottles(empty, plan), plan)
      .join(plan.select("scope", "used", "lim"), Seq("scope"))
      .select(col("scope"), col("used"), col("lim"), col("policy"),
        col("clamp"))
      .orderBy(asc_nulls_last("scope"))
  }

  val queries: Map[String, graft.ops.Q] =
    Map("a22_namespace_admin" -> a22_namespace_admin,
      "a28_quota_report" -> a28_quota_report,
      "a37_quota_throttle" -> a37_quota_throttle)
}
