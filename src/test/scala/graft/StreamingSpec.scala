package graft

import graft.streaming.StreamOps
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** SURVEY §5.4 — batch–stream equivalence: each streaming op replayed
  * over the events fixture (AvailableNow file stream) must equal its
  * batch twin computed with the same expressions.
  */
class StreamingSpec extends SparkSuite {

  /** Start a streaming query and run it to the end of its input. The
    * query is stopped even when it fails (the failure is rethrown), so
    * none outlives its test in the shared session.
    */
  private def runToEnd(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.start()
    try q.awaitTermination() finally q.stop()
    q
  }

  /** A streaming query into memory table `name`, in Complete or Append
    * mode.
    */
  private def memorySink(df: DataFrame, mode: String, name: String): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow())

  /** Run a streaming query to completion into a memory sink and return
    * the result table.
    */
  private def runStream(df: DataFrame, mode: String, name: String): DataFrame = {
    runToEnd(memorySink(df, mode, name))
    spark.table(name)
  }

  /** The root paths of every file scan in an executed plan (adaptive
    * stages and subqueries included). A serving index read from its
    * materialized partitions scans no fixture file.
    */
  private def scannedRoots(plan: SparkPlan): Seq[String] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
      case scan: FileSourceScanExec => scan.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten

  /** The executed plan of a stopped query's last micro-batch. */
  private def lastTriggerPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  /** Events as WAL cells; seq = event_id is a monotone edit order that is
    * independent of micro-batching.
    */
  private def walCells(df: DataFrame): DataFrame = df.select(
    col("event_id").as("seq"),
    concat(Tables.pad(col("user_id")), lit(":"), Tables.pad(col("event_id"))).as("rowkey"),
    lit("e").as("cf"), col("event_type").as("qualifier"),
    col("event_id").as("ts"), col("value"),
    when(col("event_id") % 97 === 0, "delete").otherwise("put").as("op"))

  private lazy val batchEvents =
    Tables.events(spark, sf).withColumn("ets", col("ts").cast("timestamp")).cache()

  test("I1/I2: tumbling window stream equals batch twin") {
    val streamed = runStream(StreamOps.tumblingCounts(StreamOps.eventsStream(spark, sf)),
      "complete", "t_tumbling")
    val batch = batchEvents
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
    assert(streamed.select("wstart", "event_type", "n").collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I11: deterministic hash sample is micro-batch invariant (stream equals batch)") {
    // stateless filter, append mode, no watermark: every micro-batch must
    // make the identical keep/drop decision the batch backfill makes, so
    // incremental ingestion and a full recompute produce the same sample
    val streamed = runStream(
      graft.ops.SampleOps.sampleHash(StreamOps.documentsStream(spark, sf))
        .select("doc_id", "lang"),
      "append", "t_sample")
    val batch = graft.ops.SampleOps.sampleHash(Tables.documents(spark, sf))
      .select("doc_id", "lang")
    assert(streamed.count() > 0, "sample must be non-vacuous")
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I25: visibility-labeled scan is micro-batch invariant (stream equals batch)") {
    // b31's per-cell authorization check at ingest time: the label
    // evaluator is a row-local codegen'd predicate, so the streamed scan
    // must admit exactly the batch scan's cells — and a different auth
    // set must change the admitted count (non-vacuous policy)
    val auths = Seq("internal", "finance", "ops")
    val streamed = runStream(
      StreamOps.visibilityScanStream(
        StreamOps.cellsStream(StreamOps.eventsStream(spark, sf)), auths)
        .select("rowkey", "qualifier", "value", "vis"),
      "append", "t_vis")
    val batch = StreamOps.visibilityScanStream(Tables.cells(spark, sf), auths)
      .select("rowkey", "qualifier", "value", "vis")
    assert(streamed.count() > 0, "visibility scan must admit some cells")
    assert(streamed.count() < Tables.cells(spark, sf).count(),
      "visibility scan must reject some cells (policy non-vacuous)")
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
    // exec-only escalation: dropping 'finance' from the auth set must
    // hide every purchase cell (both its clauses need finance)
    val opsOnly = StreamOps.visibilityScanStream(
      Tables.cells(spark, sf), Seq("internal", "ops"))
    assert(opsOnly.where(col("qualifier") === "purchase").count() == 0)
  }

  test("I29: streaming tagged-cell ingest reconstructs the b33 lattice (stream equals batch)") {
    import graft.ops.FilterOps
    val dir = SparkSuite.tempDir("graft_tags_stream").toString
    val ckpt = SparkSuite.tempDir("graft_tags_stream_ckpt").toString
    runToEnd(StreamOps.taggedCellsSink(
      FilterOps.withTagColumns(
        StreamOps.cellsStream(StreamOps.eventsStream(spark, sf))),
      dir, ckpt))
    // multi-generation store accrued (one per non-empty micro-batch) —
    // otherwise the twin degenerates to the batch write itself
    val gens = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".hfile"))
      .map(_.getName.split("-")(1)).distinct
    assert(gens.length >= 2, s"expected multi-batch ingest, got gens ${gens.mkString(",")}")
    val cols = Seq("rowkey", "cf", "qualifier", "ts", "value", "ttl_ms", "vis")
    val streamed = FilterOps.tagLattice(
      graft.sources.HFileOps.readWithCellTags(spark, dir))
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    // batch twin: one-shot tagged write over the same cells view
    val bdir = SparkSuite.tempDir("graft_tags_batch").toString
    graft.sources.HFileOps.bulkWrite(
      FilterOps.withTagColumns(Tables.cells(spark, sf)), bdir, regions = 2,
      ttlMsCol = Some("ttl_ms"), visCol = Some("vis"))
    val batch = FilterOps.tagLattice(
      graft.sources.HFileOps.readWithCellTags(spark, bdir))
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // the lattice is non-vacuous on this fixture: TTL expiry AND the
    // authorization filter each reject something
    val raw = graft.sources.HFileOps.readWithCellTags(spark, dir)
    val afterTtl = raw.where(col("ttl_ms").isNull
      || col("ts") + col("ttl_ms") * 1000L >= lit(FilterOps.TagLatticeNowUs))
    assert(afterTtl.count() < raw.count(), "TTL expiry must drop some cells")
    assert(FilterOps.tagLattice(raw, auths = Seq("internal", "ops"))
      .count() < FilterOps.tagLattice(raw).count(),
      "narrowing the auth set must hide some cells")
  }

  test("I26: streaming MOB ingest reconstructs the batch view; payload replay is a no-op") {
    val dir = SparkSuite.tempDir("graft_mob_stream").toString
    val ckpt = SparkSuite.tempDir("graft_mob_stream_ckpt").toString
    runToEnd(StreamOps.mobIngestSink(
      StreamOps.documentsStream(spark, sf, splits = 8), dir, ckpt))
    // multi-generation store accrued (one per non-empty micro-batch)
    val gens = new java.io.File(s"$dir/main").listFiles()
      .filter(_.getName.endsWith(".hfile"))
      .map(_.getName.split("-")(1)).distinct
    assert(gens.length >= 2, s"expected multi-batch ingest, got gens ${gens.mkString(",")}")
    val streamed = graft.ops.ScanOps.mobReconstruct(spark, dir)
      .collect().map(_.toString).sorted
    // batch twin: one-shot a17 write + reconstruction over the same corpus
    val bdir = SparkSuite.tempDir("graft_mob_batch").toString
    graft.ops.ScanOps.mobWrite(Tables.documents(spark, sf), bdir, regions = 2)
    val batch = graft.ops.ScanOps.mobReconstruct(spark, bdir)
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // the split is non-vacuous on this fixture: both storage classes exist
    assert(graft.ops.ScanOps.mobReconstruct(spark, dir)
      .select("is_mob").distinct().count() == 2)
    // replayed batch: re-writing the whole corpus under one generation in
    // a FRESH dir twice must reconstruct identically (per-generation
    // overwrite + content-hash payload identity)
    val rdir = SparkSuite.tempDir("graft_mob_replay").toString
    graft.ops.ScanOps.mobWrite(Tables.documents(spark, sf), rdir, 2, generation = 0)
    graft.ops.ScanOps.mobWrite(Tables.documents(spark, sf), rdir, 2, generation = 0)
    val replayed = graft.ops.ScanOps.mobReconstruct(spark, rdir)
      .collect().map(_.toString).sorted
    assert(replayed.sameElements(batch), "batch replay changed the reconstruction")
  }

  test("I15: pixel decode is micro-batch invariant (stream equals batch)") {
    // the media curation step as continuous ingestion: PNG build + ImageIO
    // decode are pure per-row functions of doc_id, so incremental arrival
    // changes nothing about the extracted features
    def pixels(docs: DataFrame) = graft.ops.MultimodalOps.decodePixels(spark,
        graft.ops.MultimodalOps.grayPngFiles(spark, docs).toDF())
      .toDF().select("media_id", "width", "height", "gray_sum", "entropy_mb")
    val streamed = runStream(pixels(StreamOps.documentsStream(spark, sf)),
      "append", "t_pixels")
    val batch = pixels(Tables.documents(spark, sf))
    assert(streamed.count() == Tables.documents(spark, sf).count())
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I30: perceptual image hash is micro-batch invariant (stream equals batch)") {
    // fingerprint-at-ingest for image dedup: PNG build + decode + the
    // integer-exact block-mean hash are pure per-row functions of doc_id,
    // so streamed hashes equal the batch backfill row-for-row — and the
    // downstream dedup groupBy sees identical keys either way
    val streamed = runStream(
      StreamOps.imageHashStream(spark, StreamOps.documentsStream(spark, sf)),
      "append", "t_imghash")
    val batch = StreamOps.imageHashStream(spark, Tables.documents(spark, sf))
    assert(streamed.count() == Tables.documents(spark, sf).count())
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
    // planted duplicates collapse to one key per run of 5 under either path
    assert(streamed.select("ahash", "w", "h").distinct().count() <
      streamed.count())
  }

  test("I32: streaming hot-bucket skew report equals batch b35 after full replay") {
    // live hotspot monitoring: complete-mode bucket counts accumulate in
    // the state store; the skew report recomputes per trigger over the
    // bounded bucket table. The final trigger has seen the whole feed,
    // so its report must be the declared b35 table in order.
    var last: Array[String] = Array.empty
    var triggers = 0
    val ckpt = SparkSuite.tempDir("hotb_ckpt").toString
    runToEnd(StreamOps.hotBucketsSink(StreamOps.eventsStream(spark, sf), ckpt) { rep =>
      last = rep.collect().map(_.toString); triggers += 1
    })
    assert(triggers >= 2, s"replay must be multi-micro-batch, got $triggers")
    val batch = SparkEntry.queries("b35_hot_buckets")(spark, sf)
      .collect().map(_.toString)
    assert(last.nonEmpty && last.sameElements(batch),
      s"streamed hot-bucket report diverges from batch b35 " +
        s"(${last.take(3).mkString(";")} vs ${batch.take(3).mkString(";")})")
  }

  test("I33: streaming replication monitor equals batch a26 after full replay") {
    // live divergence paging: the replica's cell feed accumulates its
    // unfolded range manifest in the state store (complete mode); each
    // trigger folds it and re-plans against the materialized static
    // source manifest. The final trigger has seen the whole replica, so
    // its plan must be the declared a26 table (modulo its output ORDER BY).
    var last: Array[String] = Array.empty
    var triggers = 0
    val scanned = scala.collection.mutable.Set.empty[String]
    val ckpt = SparkSuite.tempDir("syncmon_ckpt").toString
    runToEnd(StreamOps.syncMonitorSink(spark, sf,
        StreamOps.eventsStream(spark, sf), ckpt) { plan =>
      last = plan.collect().map(_.toString).sorted; triggers += 1
      scanned ++= scannedRoots(plan.queryExecution.executedPlan)
    })
    assert(triggers >= 2, s"replay must be multi-micro-batch, got $triggers")
    assert(!scanned.contains(s"$sf/events.parquet"),
      "a trigger rebuilt the source manifest from the events fixture")
    val batch = SparkEntry.queries("a26_sync_ranges")(spark, sf)
      .collect().map(_.toString).sorted
    assert(last.nonEmpty && last.sameElements(batch),
      s"streamed sync plan diverges from batch a26 " +
        s"(${last.take(3).mkString(";")} vs ${batch.take(3).mkString(";")})")
  }

  test("I34: streaming canary monitor equals batch a27 after full replay") {
    // live health paging: put counts per probe-row coordinate accumulate
    // in the state store (complete mode, bounded by the probe set); each
    // trigger collapses them to live counts and re-assembles the report
    // against the materialized static probe set. The final trigger has
    // seen the whole feed, so its report must be the declared a27 table —
    // including the found=0 tombstoned probe row and the rollup.
    var last: Array[String] = Array.empty
    var triggers = 0
    val ckpt = SparkSuite.tempDir("canary_ckpt").toString
    val q = runToEnd(StreamOps.canarySink(spark, sf,
        StreamOps.eventsStream(spark, sf), ckpt) { rep =>
      last = rep.collect().map(_.toString); triggers += 1
    })
    assert(triggers >= 2, s"replay must be multi-micro-batch, got $triggers")
    // the probe set is pinned on the stream's own semi-probe: the report
    // frame the sink receives reads canaryReport's checkpoint, not probes
    assert(!scannedRoots(lastTriggerPlan(q)).contains(s"$sf/events.parquet"),
      "the last trigger rebuilt the canary probe set from the events fixture")
    val batch = SparkEntry.queries("a27_canary_probe")(spark, sf)
      .collect().map(_.toString)
    assert(last.nonEmpty && last.sameElements(batch),
      s"streamed canary report diverges from batch a27 " +
        s"(${last.take(3).mkString(";")} vs ${batch.take(3).mkString(";")})")
  }

  test("I35: streaming quota watcher equals batch a28 after full replay") {
    // live quota paging: per-table running counts in bounded complete-
    // mode state; each trigger re-runs the same quotaReport. After full
    // replay the streamed counts equal a28's trailer-metadata counts
    // (entryCount IS the delivered cell count), so the final report must
    // be the declared a28 table — statuses, basis points and all.
    var last: Array[String] = Array.empty
    var triggers = 0
    val ckpt = SparkSuite.tempDir("quota_ckpt").toString
    runToEnd(StreamOps.quotaWatchSink(StreamOps.eventsStream(spark, sf), ckpt) { rep =>
      last = rep.collect().map(_.toString); triggers += 1
    })
    assert(triggers >= 2, s"replay must be multi-micro-batch, got $triggers")
    val batch = SparkEntry.queries("a28_quota_report")(spark, sf)
      .collect().map(_.toString)
    assert(last.nonEmpty && last.sameElements(batch),
      s"streamed quota report diverges from batch a28 " +
        s"(${last.take(3).mkString(";")} vs ${batch.take(3).mkString(";")})")
  }

  test("I36: streaming compaction monitor equals batch a30 after full replay") {
    // live compaction debt: per-(region, generation) file sizes in
    // bounded complete-mode state (the manifest's own cardinality);
    // each trigger re-runs the ratio policy. After full replay the
    // streamed sizes equal a30's batch manifest, so the final selection
    // must be the declared a30 table — actions, caps and all.
    var last: Array[String] = Array.empty
    var triggers = 0
    val ckpt = SparkSuite.tempDir("compact_ckpt").toString
    runToEnd(StreamOps.compactionWatchSink(
        StreamOps.eventsStream(spark, sf), ckpt) { rep =>
      last = rep.collect().map(_.toString); triggers += 1
    })
    assert(triggers >= 2, s"replay must be multi-micro-batch, got $triggers")
    val batch = SparkEntry.queries("a30_compaction_select")(spark, sf)
      .collect().map(_.toString)
    assert(last.nonEmpty && last.sameElements(batch),
      s"streamed compaction selection diverges from batch a30 " +
        s"(${last.take(3).mkString(";")} vs ${batch.take(3).mkString(";")})")
  }

  test("I34/I35/I36 under RocksDB state store: monitor reports are provider-independent") {
    // the monitors' 100 TB state path: same bounded complete-mode state,
    // held in RocksDB instead of executor heap — final reports must be
    // bit-identical to the batch queries the default-provider tests pin
    StreamOps.withStateStore(spark, StreamOps.RocksDbProvider)
    try {
      var canary: Array[String] = Array.empty
      runToEnd(StreamOps.canarySink(spark, sf,
          StreamOps.eventsStream(spark, sf),
          SparkSuite.tempDir("canary_rocks").toString) { rep =>
        canary = rep.collect().map(_.toString)
      })
      assert(canary.sameElements(
        SparkEntry.queries("a27_canary_probe")(spark, sf)
          .collect().map(_.toString)))
      var quota: Array[String] = Array.empty
      runToEnd(StreamOps.quotaWatchSink(StreamOps.eventsStream(spark, sf),
          SparkSuite.tempDir("quota_rocks").toString) { rep =>
        quota = rep.collect().map(_.toString)
      })
      assert(quota.sameElements(
        SparkEntry.queries("a28_quota_report")(spark, sf)
          .collect().map(_.toString)))
      var compact: Array[String] = Array.empty
      runToEnd(StreamOps.compactionWatchSink(StreamOps.eventsStream(spark, sf),
          SparkSuite.tempDir("compact_rocks").toString) { rep =>
        compact = rep.collect().map(_.toString)
      })
      assert(compact.sameElements(
        SparkEntry.queries("a30_compaction_select")(spark, sf)
          .collect().map(_.toString)),
        "I36 under RocksDB diverges from batch a30")
    } finally StreamOps.withStateStore(spark, StreamOps.DefaultProvider)
  }

  test("I31: streaming Jaccard verify equals batch j61 row-for-row") {
    // the verify stage's serving shape: candidate pairs stream in, the
    // static shingle-set index is materialized once at setup; stateless
    // stream-static inner joins, so the streamed verdicts must be the
    // declared j61 table exactly (modulo its output ORDER BY)
    val q = runToEnd(memorySink(
      StreamOps.jaccardVerifyStream(spark, sf, StreamOps.documentsStream(spark, sf)),
      "append", "t_jverify"))
    assert(!scannedRoots(lastTriggerPlan(q)).contains(s"$sf/documents.parquet"),
      "the last trigger rebuilt the shingle-set index from the documents fixture")
    val streamed = spark.table("t_jverify")
    val batch = SparkEntry.queries("j61_jaccard_verify")(spark, sf)
    assert(streamed.count() > 0, "no pairs verified on this fixture")
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted),
      "streamed Jaccard verify diverges from batch j61")
  }

  test("I16: BPE encode with a batch-trained model is micro-batch invariant") {
    // train once on the full (batch) corpus, tokenize the stream with the
    // broadcast model: token sequences must equal the batch backfill's
    // (encoding is stateless given the model)
    val docs = Tables.documents(spark, sf)
    val model = graft.ops.BpeOps.train(
      graft.ops.BpeOps.wordCounts(docs, 20000), numMerges = 120)
    val streamed = runStream(
      graft.ops.BpeOps.encode(spark, StreamOps.documentsStream(spark, sf), model)
        .select(col("doc_id"), concat_ws("", col("tokens")).as("joined")),
      "append", "t_bpe")
    val batch = graft.ops.BpeOps.encode(spark, docs, model)
      .select(col("doc_id"), concat_ws("", col("tokens")).as("joined"))
    assert(streamed.count() == docs.count())
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I18: decontamination flags are micro-batch invariant (row-wise stream equals relational batch)") {
    // the j29 pass as continuous ingestion: eval grams extracted once
    // (batch), each arriving doc flagged inside its own row, so the
    // flagging is stateless. The batch side runs the RELATIONAL spelling
    // (explode → broadcast semi-join → groupBy), so this also pins
    // row-wise ≡ relational.
    val docs = Tables.documents(spark, sf)
    val relational = graft.ops.RepetitionOps.contaminationHits(docs, n = 3)
    val evSet = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .where(col("doc_id") % 97 === 0)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 2),
        i => concat_ws(" ", slice(col("ws"), i, lit(3))))).as("g"))
      .distinct().collect().map(_.getString(0)).toSeq
    val streamed = runStream(
      graft.ops.RepetitionOps.contaminationHitsRowwise(
        StreamOps.documentsStream(spark, sf), evSet, n = 3),
      "append", "t_decon")
    val batch = relational.collect().map(_.toString)
    assert(streamed.count() > 0, "decontamination must flag rows on this fixture")
    assert(streamed.collect().map(_.toString).sorted.sameElements(batch.sorted))
  }

  test("I19: PII scrub + winnow fingerprint are micro-batch invariant (stream equals batch)") {
    // the j33/j34 quality passes as continuous ingestion: both are
    // computed inside the arriving row (map-only in batch, PlanSpec-pinned),
    // so the stream must reproduce the batch backfill exactly
    val streamed = runStream(
      graft.ops.TextAnalysisOps.scrubFingerprint(StreamOps.documentsStream(spark, sf)),
      "append", "t_scrubfp")
    val batch = graft.ops.TextAnalysisOps.scrubFingerprint(Tables.documents(spark, sf))
    assert(streamed.count() == Tables.documents(spark, sf).count())
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I20: portable SimHash + MinHash fingerprints are micro-batch invariant (stream equals batch)") {
    // j39/j40 as continuous ingestion: both fingerprints are row-local
    // projections (the batch plans are map-only scans), so the stream
    // reproduces the batch exactly
    def sketch(docs: DataFrame) = graft.ops.DedupOps.withMinhashPortable(
        graft.ops.DedupOps.withSimhashPortable(docs))
      .select("doc_id", "simhash", "sig_md5")
    val streamed = runStream(sketch(StreamOps.documentsStream(spark, sf)),
      "append", "t_fpsketch")
    val batch = sketch(Tables.documents(spark, sf))
    assert(streamed.count() == Tables.documents(spark, sf).count())
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I21: BM25 scoring of a streaming probe feed equals the batch run") {
    // the serving shape of j35: probes stream in, the corpus index is
    // static — same function on a batch probe frame must agree exactly
    val q = runToEnd(memorySink(
      StreamOps.bm25ScoreStream(spark, sf, StreamOps.documentsStream(spark, sf)),
      "complete", "t_bm25"))
    assert(!scannedRoots(lastTriggerPlan(q)).contains(s"$sf/documents.parquet"),
      "the last trigger rebuilt the BM25 index from the documents fixture")
    val streamed = spark.table("t_bm25")
    val batch = StreamOps.bm25ScoreStream(spark, sf, Tables.documents(spark, sf))
    assert(streamed.count() > 0, "no probe docs scored on this fixture")
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
    // and the serving path IS j35: every ranked row of the declared
    // batch operator appears in the serving scores bit-identically, so
    // a retune of j35's constants/probe rule can't silently diverge the
    // twin (the two spell the same formula over the same probe carve)
    val j35 = SparkEntry.queries("j35_bm25_topk")(spark, sf)
      .select("qid", "doc_id", "score")
    assert(j35.exceptAll(batch.select("qid", "doc_id", "score")).count() == 0,
      "j35 top-k rows diverge from the serving-path scores")
  }

  test("I23: RRF hybrid serving over a streaming request feed equals batch j42") {
    // the serving shape of j42: probe REQUEST ids stream in, both
    // indexes are static; each trigger answers its request sliver with
    // full fused ranking (foreachBatch — window ranks are inexpressible
    // as a streaming aggregation), and disjoint request batches must
    // union to exactly the batch j42 table
    val answered = scala.collection.mutable.ArrayBuffer.empty[String]
    var triggers = 0
    val scanned = scala.collection.mutable.Set.empty[String]
    val requests = StreamOps.documentsStream(spark, sf)
      .where(graft.ops.RankOps.probeWorkload(col("doc_id")))
      .select(col("doc_id").as("qid"))
    val ckpt = SparkSuite.tempDir("rrf_serve_ckpt").toString
    runToEnd(StreamOps.rrfServeSink(spark, sf, requests, ckpt) { out =>
      answered ++= out.collect().map(_.toString); triggers += 1
      scanned ++= scannedRoots(out.queryExecution.executedPlan)
    })
    assert(triggers >= 2, s"replay must be multi-micro-batch, got $triggers")
    // query terms legitimately re-read documents; the embedding index not
    assert(!scanned.contains(s"$sf/embeddings.parquet"),
      "a trigger rebuilt the embedding index from the embeddings fixture")
    val batch = SparkEntry.queries("j42_rrf_fusion")(spark, sf)
      .collect().map(_.toString)
    assert(answered.nonEmpty && answered.sorted.sameElements(batch.sorted),
      s"streamed RRF serving diverges from batch j42 " +
        s"(${answered.size} streamed vs ${batch.length} batch rows)")
  }

  test("I12: domain-mix sample is micro-batch invariant (stream equals batch)") {
    // j22's twin of I11: the per-language mix coins are stateless hash
    // decisions, so streaming ingestion and a batch recompute keep the
    // same docs at the same weights
    val streamed = runStream(
      graft.ops.SampleOps.mixDomains(StreamOps.documentsStream(spark, sf))
        .select("doc_id", "lang"),
      "append", "t_mix")
    val batch = graft.ops.SampleOps.mixDomains(Tables.documents(spark, sf))
      .select("doc_id", "lang")
    assert(streamed.count() > 0, "mix must be non-vacuous")
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I13: stratified exact-k stream equals batch j23; bounded state only improves per epoch") {
    // j23's stateful twin: per-language bounded top-k heaps maintained
    // across a genuine multi-micro-batch replay must converge to the
    // batch answer (the k smallest hashes per stratum are split-
    // invariant), under BOTH state store providers. foreachBatch captures
    // each epoch's upsert so the per-epoch invariant is assertable: a
    // stratum's sample can only improve (rank-r hash keys never move up).
    for (provider <- Seq(StreamOps.DefaultProvider, StreamOps.RocksDbProvider)) {
      StreamOps.withStateStore(spark, provider)
      try {
        val history = scala.collection.mutable.ArrayBuffer
          .empty[Map[String, Seq[(Long, Long)]]] // lang -> (doc_id, rn) by rank
        var state = Map.empty[String, Seq[(Long, Long)]]
        runToEnd(StreamOps.stratifiedTopKStream(spark,
            StreamOps.documentsStream(spark, sf)).toDF()
          .writeStream.outputMode("update")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: DataFrame, _: Long) =>
            val upd = df.collect().groupBy(_.getString(0)).map {
              case (lang, rs) =>
                lang -> rs.map(r => (r.getLong(1), r.getLong(2)))
                  .sortBy(_._2).toSeq
            }
            if (upd.nonEmpty) { state = state ++ upd; history += state }
            ()
          })
        assert(history.size >= 2,
          s"replay must be multi-micro-batch, got ${history.size} epochs")
        // final state = batch j23, row-exact
        val got = state.toSeq.flatMap { case (lang, docs) =>
          docs.map { case (id, rn) => (lang, id, rn) }
        }.sortBy(t => (t._1, t._3))
        val want = graft.ops.SampleOps.j23_sample_stratified(spark, sf)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSeq.sortBy(t => (t._1, t._3))
        assert(got == want, s"provider $provider: final state diverges from batch j23")
        // per-epoch: at each rank the (hash, doc_id) key never worsens,
        // and a stratum's sample never shrinks — the bounded-heap law
        history.toList.sliding(2).foreach {
          case List(prev, cur) =>
            prev.foreach { case (lang, pdocs) =>
              val cdocs = cur.getOrElse(lang, Seq.empty)
              assert(cdocs.size >= pdocs.size, s"stratum $lang shrank")
              pdocs.zip(cdocs).foreach { case ((pid, _), (cid, _)) =>
                val pk = (SampleHashProps.refMix(pid), pid)
                val ck = (SampleHashProps.refMix(cid), cid)
                assert(Ordering[(Long, Long)].lteq(ck, pk),
                  s"stratum $lang rank worsened: $pk -> $ck")
              }
            }
          case _ =>
        }
      } finally StreamOps.withStateStore(spark, StreamOps.DefaultProvider)
    }
  }

  test("I3: sliding window stream equals batch twin") {
    // the batch twin is collected before the stream starts, so its job
    // never runs beside the streaming query's
    val batch = batchEvents
      .groupBy(window(col("ets"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .collect().map(_.toString).sorted
    val streamed = runStream(StreamOps.slidingCounts(StreamOps.eventsStream(spark, sf)),
      "complete", "t_sliding")
    assert(streamed.collect().map(_.toString).sorted.sameElements(batch))
  }

  test("I4: session window stream equals batch session_window") {
    val streamed = runStream(StreamOps.sessionCounts(StreamOps.eventsStream(spark, sf)),
      "complete", "t_session")
    val batch = batchEvents
      .groupBy(session_window(col("ets"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sstart"), col("user_id"), col("n"))
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I6: streaming dedup equals batch dropDuplicates") {
    val streamed = runStream(StreamOps.dedupStream(StreamOps.eventsStream(spark, sf))
      .select("event_id"), "append", "t_dedup")
    assert(streamed.count() == batchEvents.dropDuplicates("event_id").count())
  }

  test("I7: flatMapGroupsWithState sessionizer equals i4 batch twin across micro-batches") {
    val streamed = runStream(
      StreamOps.sessionize(spark, StreamOps.eventsStream(spark, sf)).toDF(),
      "append", "t_fmgws")
    // emission contract: final session state = max(n) per (user, start)
    val finalSessions = streamed.groupBy("user_id", "session_start")
      .agg(max("n").as("n"))
    // EXACT row equality against the i4 oracle query's own output: i4
    // numbers sessions ordinally per user in time order, so rank the
    // streamed sessions by start the same way and the full
    // (user_id, session_id, n) row sets must match — every session
    // boundary and every per-session count, not just per-user aggregates.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_start")
    val streamedRows = finalSessions
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select("user_id", "session_id", "n")
    val batch = ops.WindowOps.i4_window_session_batch(spark, sf)
      .select("user_id", "session_id", "n")
    assert(streamedRows.exceptAll(batch).isEmpty
      && batch.exceptAll(streamedRows).isEmpty)
  }

  test("I22: streaming CheckAndPut state + overlay equals the batch d17 view") {
    val streamed = runStream(
      StreamOps.latestCellsStream(spark, StreamOps.eventsStream(spark, sf)).toDF(),
      "update", "t_cap")
    // reconstruct the FINAL serving state from the update log: per
    // coordinate the latest is monotone (ts never decreases, equal-ts
    // re-emissions only lower value), so the final state row is the
    // (ts desc, value asc) head — the same rule the state itself applies
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rowkey", "qualifier")
      .orderBy(col("ts").desc, col("value").asc)
    val finalLatest = streamed.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
    val streamedAgg = StreamOps.checkAndPutOverlay(finalLatest)
      .groupBy("qualifier")
      .agg(count(lit(1)).as("n"), ops.dsum(col("value")).as("vsum"))
    val batch = ops.AggOps.d17_check_and_put(spark, sf)
    assert(streamedAgg.exceptAll(batch).isEmpty
      && batch.exceptAll(streamedAgg).isEmpty,
      "streamed CheckAndPut view diverged from the batch d17 query")
  }

  test("I7 under RocksDB state store: sessionizer equivalence is provider-independent") {
    // The 100 TB state path (StreamOps.withStateStore): same sessionizer,
    // same replay, state held in RocksDB instead of executor heap. The
    // final session set must be bit-identical to the default provider's
    // (which the previous test already pinned against the i4 batch twin).
    StreamOps.withStateStore(spark, StreamOps.RocksDbProvider)
    try {
      val streamed = runStream(
        StreamOps.sessionize(spark, StreamOps.eventsStream(spark, sf)).toDF(),
        "append", "t_fmgws_rocks")
      val finalSessions = streamed.groupBy("user_id", "session_start")
        .agg(max("n").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      val streamedRows = finalSessions
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select("user_id", "session_id", "n")
      val batch = ops.WindowOps.i4_window_session_batch(spark, sf)
        .select("user_id", "session_id", "n")
      assert(streamedRows.exceptAll(batch).isEmpty
        && batch.exceptAll(streamedRows).isEmpty)
    } finally StreamOps.withStateStore(spark, StreamOps.DefaultProvider)
  }

  test("I8: stream-static join equals batch join") {
    val streamed = runStream(
      StreamOps.streamStaticJoin(StreamOps.eventsStream(spark, sf),
        Tables.customer(spark, sf)), "complete", "t_ss")
    val batch = batchEvents.join(
      Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment")),
      batchEvents("user_id") === col("c_custkey"), "left")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(streamed.collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted))
  }

  test("I9: stream-stream time-bounded join equals batch interval join") {
    val streamed = runStream(
      StreamOps.streamStreamJoin(StreamOps.eventsStream(spark, sf),
        StreamOps.eventsStream(spark, sf)).select("l_id", "r_id"),
      "append", "t_ssj")
    val e = batchEvents.select(col("user_id"), col("event_id"), col("ets"))
    val batch = e.as("a").join(e.as("b"),
      col("a.user_id") === col("b.user_id") && col("a.event_id") < col("b.event_id")
        && col("b.ets") >= col("a.ets")
        && col("b.ets") <= col("a.ets") + expr("INTERVAL 1 HOUR"))
      .select(col("a.event_id").as("l_id"), col("b.event_id").as("r_id"))
    assert(streamed.count() == batch.count())
  }

  test("I10: exactly-once sink — restart does not duplicate") {
    val out = SparkSuite.tempDir("graft_sink").toString
    val ckpt = SparkSuite.tempDir("graft_ckpt").toString
    def run(): Unit = runToEnd(StreamOps.exactlyOnceParquetSink(
      StreamOps.eventsStream(spark, sf).select("event_id", "ets"), out, ckpt))
    run()
    val n1 = spark.read.parquet(out).count()
    run() // restart from checkpoint: no new data ⇒ no change
    val n2 = spark.read.parquet(out).count()
    assert(n1 == n2)
    assert(n1 == Tables.events(spark, sf).count())
    // batch_id is the partition directory only, not also a file column
    val part = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch_id=")).head
    assert(!spark.read.parquet(part.toString).columns.contains("batch_id"),
      s"${part.getName} files carry a batch_id data column")
  }

  test("I14: streaming HFile bulk-load sink — crash replay converges to the batch roundtrip (both providers)") {
    import graft.sources.{HFileCodec, HFileOps}
    // batch reference: the a9 write+read roundtrip on the same data,
    // FAST_DIFF+GZ like the driver-gated query
    val batchDir = SparkSuite.tempDir("graft_hf_batch").toString
    val cells = Tables.cells(spark, sf)
    HFileOps.bulkWrite(cells, batchDir,
      regions = HFileOps.regionCountFor(cells.count()),
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingFastDiff)
    val want = HFileOps.read(spark, batchDir).collect().map(_.toString).sorted

    for (provider <- Seq(StreamOps.DefaultProvider, StreamOps.RocksDbProvider)) {
      StreamOps.withStateStore(spark, provider)
      val out = SparkSuite.tempDir("graft_hf_stream").toString
      val ckpt = SparkSuite.tempDir("graft_hf_ckpt").toString
      val committed = scala.collection.mutable.ArrayBuffer.empty[Long]
      def sink(crashOn: Option[Long]) = StreamOps.hfileBulkLoadSink(
        StreamOps.cellsStream(StreamOps.eventsStream(spark, sf)),
        out, ckpt,
        compression = HFileCodec.CompressionGz,
        encoding = HFileCodec.EncodingFastDiff,
        onCommit = (id, files) => {
          assert(files.nonEmpty, s"batch $id committed no region files")
          // crash AFTER the region files are durably renamed but BEFORE
          // Spark commits the epoch — the exact window where a non-
          // idempotent sink would duplicate cells on restart
          if (crashOn.contains(id)) throw new RuntimeException(s"injected crash at batch $id")
          committed += id
        })
      // first run dies mid-stream (batch 1's files are on disk, offset is not)
      val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runToEnd(sink(crashOn = Some(1L)))
      }
      assert(crashed.getMessage.contains("injected crash")
        || Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
      // restart from the checkpoint: batch 1 replays (overwriting its own
      // files), the remaining batches follow
      runToEnd(sink(crashOn = None))
      assert(committed.distinct.size >= 2,
        s"provider $provider: replay must be multi-micro-batch, got $committed")
      assert(committed.contains(1L),
        s"provider $provider: crashed batch 1 must replay, got $committed")
      val got = HFileOps.read(spark, s"$out/batch-*").collect().map(_.toString).sorted
      assert(got.length == want.length && got.sameElements(want),
        s"provider $provider: streamed bulk-load read-back diverges from batch roundtrip")
    }
  }

  test("I17: generational sink — merge-on-read over streamed generations equals batch resolution") {
    import graft.sources.HFileOps
    // coarse rowkeys (user only) so coordinates SPAN micro-batches and the
    // merge must resolve versions across generations; ts = event_id makes
    // the newest version batch-computable without knowing the batching
    def coarse(df: org.apache.spark.sql.DataFrame) = df.select(
      Tables.pad(col("user_id")).as("rowkey"), lit("e").as("cf"),
      col("event_type").as("qualifier"), col("event_id").as("ts"),
      col("value"),
      when(col("event_id") % 97 === 0, "delete").otherwise("put").as("op"))
    val out = SparkSuite.tempDir("graft_hf_gen").toString
    val ckpt = SparkSuite.tempDir("graft_hf_gen_ckpt").toString
    runToEnd(StreamOps.hfileGenerationalSink(
      coarse(StreamOps.eventsStream(spark, sf)), out, ckpt,
      compression = graft.sources.HFileCodec.CompressionZstd))
    // multiple generations actually accrued (one per micro-batch)
    val gens = HFileOps.readWithGen(spark, out)
      .select("gen").distinct().count()
    assert(gens >= 2, s"expected multi-generation store, got $gens generation(s)")
    // batch twin: same coarse cells, latest ts per coordinate, tombstones mask
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rowkey", "cf", "qualifier")
      .orderBy(col("ts").desc, col("value").asc)
    val want = coarse(Tables.events(spark, sf))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") === "put")
      .drop("rn").collect().map(_.toString).sorted
    val got = HFileOps.mergedRead(spark, out).collect().map(_.toString).sorted
    assert(got.length == want.length && got.sameElements(want),
      "streamed generational merge-on-read diverges from the batch resolution")
    // version-resolved point get agrees with the merged view for a key
    val someKey = HFileOps.mergedRead(spark, out)
      .orderBy("rowkey").limit(1).collect()(0).getString(0)
    val viaGet = HFileOps.mergedGet(spark, out, someKey)
      .collect().map(_.toString).sorted
    val viaScan = HFileOps.mergedRead(spark, out)
      .where(col("rowkey") === someKey).collect().map(_.toString).sorted
    assert(viaGet.sameElements(viaScan), "mergedGet diverges from mergedRead")
    // compaction folds the generations without changing the view
    HFileOps.compact(spark, out)
    val afterCompact = HFileOps.mergedRead(spark, out).collect().map(_.toString).sorted
    assert(afterCompact.sameElements(want))
  }

  test("I5: late rows beyond the watermark are dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ets", "v")
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "10 minutes")).agg(count(lit(1)).as("n"))
    val q = df.writeStream.format("memory").queryName("t_late")
      .outputMode("append").start()
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 * 365 * 50 + min * 60000L)
    try {
      mem.addData((ts(0), 1L), (ts(5), 2L))
      q.processAllAvailable()
      mem.addData((ts(60), 3L))   // advances watermark far past the first window
      q.processAllAvailable()
      mem.addData((ts(1), 4L))    // late beyond watermark: must be dropped
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("t_late").collect()
    val firstWindowN = rows.filter(_.getStruct(0).getTimestamp(0).getTime == ts(0).getTime)
      .map(_.getAs[Long]("n"))
    assert(firstWindowN.forall(_ == 2L), s"late row leaked into closed window: ${rows.mkString}")
  }

  test("I28: streaming language ID equals batch classification row-for-row") {
    import graft.ops.LangIdOps
    val batchDocs = Tables.documents(spark, sf)
    val model = LangIdOps.literalModel(
      LangIdOps.trainCapped(batchDocs, cap = 2000))
    // scoring is one codegen'd expression chain per row (no join, no
    // state), so streamed classification equals the batch row-for-row
    val streamed = runStream(
      LangIdOps.predictRowLocal(StreamOps.documentsStream(spark, sf), model),
      "append", "t_langid")
      .orderBy("doc_id").collect().toSeq
    val batch = LangIdOps.predictRowLocal(batchDocs, model)
      .orderBy("doc_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streamed langid diverges from batch classification")
    // and the serving path agrees with the relational j60 path under
    // the SAME capped model
    val rel = LangIdOps.predict(batchDocs,
      LangIdOps.trainCapped(batchDocs, cap = 2000))
      .orderBy("doc_id").collect().toSeq
    assert(batch == rel, "capped serving path diverges from relational predict")
  }

  test("I27: continuous WAL-shipping replication — replica equals primary " +
      "equals the batch cells view, including after a replayed batch") {
    import graft.sources.WalOps
    val priDir = SparkSuite.tempDir("graft_rep_stream_p").toString
    val repDir = SparkSuite.tempDir("graft_rep_stream_r").toString
    val ckpt = SparkSuite.tempDir("graft_rep_stream_ckpt").toString
    runToEnd(StreamOps.walReplicateSink(
      walCells(StreamOps.eventsStream(spark, sf)), priDir, repDir, ckpt))
    val want = walCells(batchEvents).collect().map(_.toString).sorted
    val pri = WalOps.readWal(spark, priDir).collect().map(_.toString).sorted
    val rep = WalOps.readWal(spark, repDir).collect().map(_.toString).sorted
    assert(pri.length == want.length && pri.sameElements(want),
      "primary log diverges from the batch cells view")
    assert(rep.sameElements(pri), "replica diverges from primary after the stream")
    // replay batch b0000 with a DIFFERENT partitioning (1 segment where
    // the stream wrote 2): the re-ship must converge the replica —
    // including sweeping the now-orphaned second segment (ADVICE r13)
    val b0Rows = new java.io.File(priDir).listFiles()
      .filter(_.getName.startsWith("wal-b0000")).sortBy(_.getName)
      .flatMap(f => WalOps.decodeSegment(Files.readAllBytes(f.toPath)))
    assert(b0Rows.nonEmpty)
    val b0Df = spark.createDataFrame(
      spark.sparkContext.parallelize(b0Rows.toSeq),
      WalOps.readWal(spark, priDir).schema)
    WalOps.writeWal(b0Df, priDir, segments = 1, prefix = "wal-b0000")
    WalOps.replicate(spark, priDir, repDir,
      glob = "wal-b0000-[0-9][0-9][0-9][0-9][0-9].gwal")
    val repAfter = WalOps.readWal(spark, repDir).collect().map(_.toString).sorted
    assert(repAfter.sameElements(want),
      "replayed-batch re-ship left the replica diverged (orphan segment?)")
  }

  test("I24: streamed WAL ingest + flush + recovery equals the batch cells view") {
    import graft.sources.WalOps
    val walDir = SparkSuite.tempDir("graft_wal_stream").toString
    val storeDir = SparkSuite.tempDir("graft_wal_stream_store").toString
    val ckpt = SparkSuite.tempDir("graft_wal_stream_ckpt").toString
    runToEnd(StreamOps.walIngestSink(
      walCells(StreamOps.eventsStream(spark, sf)), walDir, ckpt))
    // the log accrued one segment group per micro-batch
    val groups = new java.io.File(walDir).listFiles()
      .filter(_.getName.endsWith(".gwal"))
      .map(_.getName.split("-").take(2).mkString("-")).distinct
    assert(groups.length >= 2, s"expected multi-batch WAL, got ${groups.mkString(",")}")
    // a REPLAYED batch must replace its own segments, not append twice:
    // re-write group b0000's records under the same prefix; the total
    // log must not grow
    val b0Rows = new java.io.File(walDir).listFiles()
      .filter(_.getName.startsWith("wal-b0000")).sortBy(_.getName)
      .flatMap(f => WalOps.decodeSegment(Files.readAllBytes(f.toPath)))
    assert(b0Rows.nonEmpty)
    val totalBefore = WalOps.readWal(spark, walDir).count()
    val b0Df = spark.createDataFrame(
      spark.sparkContext.parallelize(b0Rows.toSeq),
      WalOps.readWal(spark, walDir).schema)
    WalOps.writeWal(b0Df, walDir, segments = 2, prefix = "wal-b0000")
    assert(WalOps.readWal(spark, walDir).count() == totalBefore,
      "batch replay duplicated WAL records")
    // flush a mid-stream sequence point, then recover: flushed gen ∪
    // replay suffix must equal the batch view of the same cells
    val mid = walCells(batchEvents).agg((min("seq") + max("seq")) / 2)
      .head().getDouble(0).toLong
    WalOps.flush(spark, walDir, storeDir, upToSeq = mid, gen = 0, regions = 2)
    val got = WalOps.recover(spark, walDir, storeDir)
      .collect().map(_.toString).sorted
    val want = walCells(batchEvents).drop("seq")
      .collect().map(_.toString).sorted
    assert(got.length == want.length && got.sameElements(want),
      "streamed-WAL recovery diverges from the batch cells view")
  }

  test("store-file and WAL sinks skip empty micro-batches") {
    // every sink reaches its batch operator only for a non-empty
    // micro-batch: a feed whose batches all filter to nothing commits no
    // bulk-load directory and appends no WAL segment
    def emptyFeed = StreamOps.eventsStream(spark, sf).where(lit(false))
    def ranBatches(ckpt: String) =
      Option(new java.io.File(ckpt, "commits").list()).getOrElse(Array.empty[String])
        .count(_.forall(_.isDigit))
    val out = SparkSuite.tempDir("graft_hf_empty").toString
    val hfCkpt = SparkSuite.tempDir("graft_hf_empty_ckpt").toString
    var commits = 0
    runToEnd(StreamOps.hfileBulkLoadSink(StreamOps.cellsStream(emptyFeed),
      out, hfCkpt, onCommit = (_, _) => commits += 1))
    assert(ranBatches(hfCkpt) >= 2, "the empty feed must still run micro-batches")
    assert(commits == 0, s"onCommit ran $commits time(s) for empty batches")
    assert(!new java.io.File(out).list().exists(_.startsWith("batch-")),
      "an empty batch wrote a batch directory")
    val walDir = SparkSuite.tempDir("graft_wal_empty").toString
    val walCkpt = SparkSuite.tempDir("graft_wal_empty_ckpt").toString
    runToEnd(StreamOps.walIngestSink(walCells(emptyFeed), walDir, walCkpt))
    assert(ranBatches(walCkpt) >= 2, "the empty feed must still run micro-batches")
    assert(!new java.io.File(walDir).list().exists(_.endsWith(".gwal")),
      "an empty batch wrote a WAL segment")
  }
}
