package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.10 I — Structured Streaming surface. Each op is the
  * streaming twin of a batch operator in WindowOps/JoinOps; the §5.4
  * equivalence tests replay the events fixture as a file stream and
  * assert the streamed result equals the batch result.
  *
  * Event time: the fixture's ts is parquet `timestamp[us]` (TIMESTAMP_NTZ
  * in Spark); `ets` is its session-timezone (UTC-pinned) TimestampType
  * cast, the type watermarks require — stream, batch, and oracle share
  * the µs time domain natively.
  *
  * Scale posture: state stores are hash-partitioned by group key
  * (user_id / window), so a 1000-executor cluster shards state linearly;
  * watermarks bound state size; sinks go through foreachBatch + parquet
  * commit protocol for exactly-once.
  */
object StreamOps {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val DefaultProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Serving-index caches (e.g. [[bm25ScoreStream]]'s tf/dl/df frame)
    * keyed by session, each cache owned by the streaming query that
    * adopted it — the serving caches exist only to amortize work across
    * that one stream's triggers, so ITS termination is their end of
    * life. One listener per session (installed on first registration,
    * removed with the last cache); without per-owner tracking two
    * overlapping serving sinks interfered — any termination with no
    * active streams unpersisted ALL live caches, including the second
    * sink's freshly built index, silently degrading it to per-trigger
    * recompute (ADVICE r11) — and the session-keyed map pinned stopped
    * sessions forever.
    *
    * Ownership protocol: a cache registers at PLAN time (before any
    * query id exists) into `pending`; the NEXT onQueryStarted adopts
    * everything pending as that query's own (QueryStartedEvent is posted
    * from within `start()`, so on a single setup thread the adopter is
    * exactly the stream built from those frames); onQueryTerminated
    * unpersists only the terminated query's adopted caches. Residual
    * race, documented: two serving setups planned CONCURRENTLY on
    * different threads before either starts can cross-adopt — bounded
    * misattribution, strictly narrower than the old all-or-nothing
    * lifecycle. When the last adopted cache is released and nothing is
    * pending, the listener and the session's map entry are dropped so a
    * stopped session is not strongly pinned.
    */
  private final class ServingCaches {
    val pending = new java.util.LinkedHashSet[DataFrame]()
    val byQuery = new java.util.HashMap[java.util.UUID, java.util.Set[DataFrame]]()
    var listener: org.apache.spark.sql.streaming.StreamingQueryListener = _
  }
  // All mutations serialize on `servingCaches` itself: registration,
  // adoption and teardown each run once per stream setup/termination —
  // far off any hot path — and the monitor closes the check-then-act
  // races a lock-free spelling leaves open (register landing in a cs
  // whose listener a concurrent teardown just removed).
  private val servingCaches =
    new java.util.HashMap[SparkSession, ServingCaches]()

  private[streaming] def registerServingCache(spark: SparkSession, df: DataFrame): Unit =
    servingCaches.synchronized {
      var cs = servingCaches.get(spark)
      if (cs == null) {
        val ncs = new ServingCaches
        ncs.listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit =
            servingCaches.synchronized {
              if (!ncs.pending.isEmpty) {
                val owned = ncs.byQuery.computeIfAbsent(e.id,
                  _ => new java.util.LinkedHashSet[DataFrame]())
                owned.addAll(ncs.pending)
                ncs.pending.clear()
              }
            }
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = {
            val owned = servingCaches.synchronized {
              val o = ncs.byQuery.remove(e.id)
              if (ncs.byQuery.isEmpty && ncs.pending.isEmpty) {
                spark.streams.removeListener(ncs.listener)
                servingCaches.remove(spark)
              }
              o
            }
            // unpersist outside the monitor: it can trigger Spark-side work
            if (owned != null) owned.forEach(c => { c.unpersist(); () })
          }
        }
        spark.streams.addListener(ncs.listener)
        servingCaches.put(spark, ncs)
        cs = ncs
      }
      cs.pending.add(df)
      ()
    }

  /** State-store provider toggle — the 100 TB knob for the I-series. The
    * default HDFSBackedStateStoreProvider keeps every maintained version of
    * every partition's state map in executor HEAP; fine for bounded session
    * state, a memory wall once keyed state outgrows the JVM (large-key
    * dedup horizons, wide session cardinality). RocksDB (bundled with
    * Spark; rocksdbjni is on the cluster classpath) keeps state off-heap
    * in local SST files with incremental checkpointing. Config, not code:
    * every StreamOps operator runs unchanged under either provider —
    * StreamingSpec pins I7 batch-equivalence under RocksDB, and
    * ScaleSmoke's streaming entry measures both providers' replay.
    */
  def withStateStore(spark: SparkSession, provider: String): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)

  /** Stage a fixture table (once) as `splits` id-range parquet files under
    * java.io.tmpdir and open it as a micro-batch file stream — the file
    * source requires a directory, and maxFilesPerTrigger=1 over multiple
    * files yields a genuine multi-micro-batch replay (each batch must
    * update state, not just recompute — the §5.4 equivalence property).
    *
    * FileStreamSource orders batches by file MODIFICATION TIME, so when
    * `stampMtime` is set the splits get strictly increasing mtimes and
    * replay in id order (a parallel multi-part write finishes parts in
    * arbitrary order, which replays history out of order and makes the
    * watermark drop whole batches as late — observed, not hypothetical).
    *
    * Crash-safe and idempotent: moves REPLACE any half-staged leftovers
    * from a killed run (the `_STAGED` sentinel is only written after all
    * splits land), so a retry always converges.
    */
  private def stagedStream(df: DataFrame, idCol: String, prefix: String,
                           splits: Int, stampMtime: Boolean): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val spark = df.sparkSession
    // Staging key = md5 of the SORTED input-file list + the schema JSON: a
    // full-strength digest makes a collision between two fixtures
    // negligible (a 32-bit hashCode collision would silently replay the
    // wrong staged data forever via the _STAGED sentinel), sorting makes
    // the key stable under the nondeterministic ordering FileIndex can
    // return, and the schema term invalidates staged splits when a fixture
    // is regenerated IN PLACE with different column types (the 2026-08-13
    // events ts ns→µs regeneration is exactly that case — same paths, new
    // schema, and a list-only key would have replayed the stale splits).
    val fileKey = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest((df.inputFiles.sorted.mkString("\n") + "\n" + df.schema.json)
          .getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val dir = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${prefix}_${fileKey}_$splits")
    if (!Files.exists(dir.resolve("_STAGED"))) {
      Files.createDirectories(dir)
      val Array(lo, hi) = df.agg(min(idCol), max(idCol))
        .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
      val span = hi - lo + 1
      (0 until splits).foreach { k =>
        val from = lo + span * k / splits
        val until = lo + span * (k + 1) / splits
        val tmp = dir.resolve(s"_tmp_$k")
        df.where(col(idCol) >= from && col(idCol) < until)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val list = Files.list(tmp)
        val part = try list.filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        finally list.close()
        val dst = dir.resolve(f"$prefix%s_$k%03d.parquet")
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        if (stampMtime)
          Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 60000L))
        val walk = Files.walk(tmp)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
        finally walk.close()
      }
      Files.createFile(dir.resolve("_STAGED"))
    }
    spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
  }

  /** I1: replay an events parquet fixture as a micro-batch file stream.
    * maxFilesPerTrigger=1 gives deterministic micro-batch boundaries in
    * tests; schema comes from the batch reader (streams can't infer).
    * Splits get event-time-ordered mtimes (see [[stagedStream]]).
    */
  def eventsStream(spark: SparkSession, sfDir: String,
                   splits: Int = 4): DataFrame =
    stagedStream(Tables.events(spark, sfDir), "event_id", "events",
        splits, stampMtime = true)
      .withColumn("ets", col("ts").cast("timestamp"))

  /** Replay a documents parquet fixture as a micro-batch file stream
    * (doc_id-range splits; the sampling ops are stateless so replay order
    * is irrelevant — splits exist to prove multi-micro-batch behavior).
    */
  def documentsStream(spark: SparkSession, sfDir: String,
                      splits: Int = 4): DataFrame =
    stagedStream(Tables.documents(spark, sfDir), "doc_id", "docs",
      splits, stampMtime = false)

  /** I11: the deterministic hash sample applied to a document stream.
    * Stateless (no watermark, no state store): each micro-batch makes the
    * identical keep/drop decision a batch backfill would, so streaming
    * ingestion and batch sampling agree row-for-row (StreamingSpec I11).
    */
  def hashSampleStream(docs: DataFrame): DataFrame =
    graft.ops.SampleOps.sampleHash(docs)

  /** I12: the j22 domain-mix filter applied to a document stream — like
    * I11, stateless: per-language coin flips are pure functions of the
    * doc id, so membership is replay- and micro-batch-invariant
    * (StreamingSpec I12).
    */
  def mixDomainsStream(docs: DataFrame): DataFrame =
    graft.ops.SampleOps.mixDomains(docs)

  case class StratDoc(lang: String, doc_id: Long, h: Long)
  case class StratSample(lang: String, doc_id: Long, rn: Long)

  /** I13: streaming stratified exact-k (the j23 twin) — per-language
    * BOUNDED top-k state under micro-batch replay: each language keeps
    * only its k smallest (hash, doc_id) pairs (O(k) state per stratum,
    * the same bound the batch TopKPerGroup operator holds per group), and
    * re-emits its current sample whenever a batch touches it (Update
    * mode — the upsert-sink shape). After the last batch the state IS the
    * batch j23 answer: the k smallest hashes of the full corpus per
    * stratum, however the corpus was split across batches
    * (StreamingSpec I13 pins final equality AND the per-epoch
    * only-improves invariant, under heap and RocksDB providers).
    */
  def stratifiedTopKStream(spark: SparkSession, docs: DataFrame,
                           k: Int = 10): Dataset[StratSample] = {
    import spark.implicits._
    val typed = docs.select(col("lang"), col("doc_id"),
      graft.ops.SampleOps.mixBucket(col("doc_id")).cast("long").as("h"))
      .as[StratDoc]
    typed.groupByKey(_.lang)
      .flatMapGroupsWithState[List[(Long, Long)], StratSample](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (lang, rows, state: GroupState[List[(Long, Long)]]) =>
          val merged = (state.getOption.getOrElse(Nil)
            ++ rows.map(r => (r.h, r.doc_id)))
            // distinct first: under an at-least-once source a redelivered
            // doc must not occupy two top-k slots and displace a genuine
            // member (ADVICE r7) — makes the replay-invariance claim hold
            // beyond the exactly-once file source the spec uses
            .distinct.sorted.take(k) // (hash, doc_id) — the batch j23 tie-break
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((_, id), i) =>
            StratSample(lang, id, i + 1L)
          }
      }
  }

  /** I2: tumbling 1h window aggregate with a 1h watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("v"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("v"))

  /** I3: sliding 1h window, 15m slide. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))

  /** I4: gap-based session windows (30 min). */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ets", "1 hour")
      .groupBy(session_window(col("ets"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sstart"), col("user_id"), col("n"))

  /** I6: streaming dedup within the watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ets", "1 hour")
      .dropDuplicates("event_id")

  /** I8: stream–static join (stream enriched with a broadcastable dim). */
  def streamStaticJoin(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
      events("user_id") === col("c_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))

  /** I9: stream–stream self-join, time-bounded (pairs within 1h) — the
    * streaming twin of C11. Both sides watermarked so join state is GC'd.
    */
  def streamStreamJoin(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.withWatermark("ets", "2 hours")
      .select(col("user_id").as("l_user"), col("event_id").as("l_id"), col("ets").as("l_ets"))
    val r = b.withWatermark("ets", "2 hours")
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"), col("ets").as("r_ets"))
    l.join(r,
      col("l_user") === col("r_user") && col("l_id") < col("r_id")
        && col("r_ets") >= col("l_ets")
        && col("r_ets") <= col("l_ets") + expr("INTERVAL 1 HOUR"))
  }

  // ---- I7: arbitrary stateful sessionizer (flatMapGroupsWithState) ----

  case class Ev(user_id: Long, event_id: Long, etsMicros: Long)

  case class CellLatest(rowkey: String, qualifier: String, ts: Long, value: Double)

  /** I22: streaming CheckAndPut serving state — the d17 semantics as
    * continuous ingestion. [[latestCellsStream]] maintains the latest
    * (ts desc, value asc) cell per (rowkey, qualifier) coordinate in
    * mapGroupsWithState — an HBase memstore's read view — re-emitting a
    * coordinate whenever a micro-batch touches it (Update mode). The
    * conditional put itself is the stateless [[checkAndPutOverlay]]
    * projection over that view: the mutation's newer ts always wins the
    * next read, so the post-mutation latest view ≡ a conditional
    * projection of the latest view — no second state pass. Per-coordinate
    * latest is MONOTONE (ts never decreases; equal-ts re-emissions only
    * lower value), so the final serving state is reconstructible from the
    * update log; StreamingSpec I22 pins final streamed state + overlay ≡
    * the batch d17 view. State is hash-partitioned by coordinate — the
    * same linear sharding story as the sessionizer.
    */
  def latestCellsStream(spark: SparkSession, events: DataFrame): Dataset[CellLatest] = {
    import spark.implicits._
    val typed = events.select(
        Tables.pad(col("user_id")).as("rowkey"),
        col("event_type").as("qualifier"),
        unix_micros(col("ets")).as("ts"),
        col("value")).as[CellLatest]
    typed.groupByKey(c => (c.rowkey, c.qualifier))
      .mapGroupsWithState[(Long, Double), CellLatest](GroupStateTimeout.NoTimeout) {
        case ((rk, q), cells, state: GroupState[(Long, Double)]) =>
          var cur = state.getOption.getOrElse((Long.MinValue, Double.MaxValue))
          cells.foreach { c =>
            if (c.ts > cur._1 || (c.ts == cur._1 && c.value < cur._2))
              cur = (c.ts, c.value)
          }
          state.update(cur)
          CellLatest(rk, q, cur._1, cur._2)
      }
  }

  /** The CheckAndPut overlay: where the latest 'click' exceeds the
    * threshold, the applied put (value+1 at ts+1s) is what the next read
    * returns. Works on any latest-view frame, batch or streamed.
    */
  def checkAndPutOverlay(latest: DataFrame, threshold: Double = 30.0): DataFrame = {
    val cond = col("qualifier") === "click" && col("value") > threshold
    latest.select(col("rowkey"), col("qualifier"),
      when(cond, col("ts") + 1000000L).otherwise(col("ts")).as("ts"),
      when(cond, col("value") + 1.0).otherwise(col("value")).as("value"))
  }
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Long, n: Long)

  /** Per-user sessionizer with explicit state — the arbitrary-stateful-
    * processing surface (same semantics as the WindowOps.i4 batch twin;
    * equivalence-tested in StreamingSpec over a multi-micro-batch replay).
    *
    * Emission contract: every batch re-emits each session it TOUCHED
    * (sessions closed in the batch are final; the still-open session is
    * its state-so-far). With per-user time-ordered arrival a session's
    * start is immutable and its size only grows, so the reader's
    * `max(n) GROUP BY (user, session_start)` is the exact final result —
    * the standard upsert-sink shape for streaming sessionization. State
    * per user is ONE open session, bounded regardless of history length.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapMicros: Long = 1800000000L): Dataset[SessionOut] = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ets")).as("etsMicros")).as[Ev]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[List[SessionState]]) =>
          val sorted = evs.toSeq.sortBy(e => (e.etsMicros, e.event_id))
          var closed = List.empty[SessionState]
          var cur: Option[SessionState] = state.getOption.flatMap(_.headOption)
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.etsMicros - s.last <= gapMicros =>
                cur = Some(s.copy(last = e.etsMicros, n = s.n + 1))
              case Some(s) =>
                closed ::= s
                cur = Some(SessionState(e.etsMicros, e.etsMicros, 1))
              case None =>
                cur = Some(SessionState(e.etsMicros, e.etsMicros, 1))
            }
          }
          val touched = (cur.toList ++ closed).reverse
          state.update(cur.toList)
          touched.iterator.map(s => SessionOut(uid, s.start, s.n))
      }
  }

  /** I15: real pixel decode applied to a document stream — the media
    * curation step as continuous ingestion. Stateless per row (PNG
    * build + ImageIO decode are pure functions of doc_id), so streamed
    * features equal the batch decode row-for-row (StreamingSpec I15).
    */
  def pixelDecodeStream(spark: SparkSession, docs: DataFrame): DataFrame =
    graft.ops.MultimodalOps.decodePixels(spark,
      graft.ops.MultimodalOps.grayPngFiles(spark, docs).toDF()).toDF()

  /** I30: the perceptual image hash (j62's decode → integer-exact
    * block-mean aHash) applied to a document stream — fingerprint media
    * at ingest time so the dedup groupBy downstream only ever sees one
    * 64-bit key per image. Stateless per row (PNG build, ImageIO decode,
    * and the hash are pure functions of doc_id), so streamed hashes
    * equal the batch backfill row-for-row (StreamingSpec I30).
    */
  def imageHashStream(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    graft.ops.MultimodalOps.dupGrayPngFiles(spark, docs)
      .mapPartitions { it =>
        it.flatMap { f =>
          graft.functions.MediaCodec.decodeImage(f.payload).map { img =>
            graft.ops.MultimodalOps.MediaHash(f.media_id,
              img.getWidth, img.getHeight,
              graft.functions.MediaCodec.aHash64(img))
          }
        }
      }.toDF()
  }

  /** I31: the exact-Jaccard VERIFY stage over a streaming feed — the
    * j61 serving shape: candidate pairs arrive in micro-batches (the
    * same deterministic successor-pair carve j61 gates), the STATIC
    * corpus's shingle-set index is built once and cached across triggers
    * (registered for end-of-serving cleanup), each trigger verifies only
    * its pair sliver. Stateless stream-static inner joins — append mode,
    * no watermark, no state store; streamed verdicts must equal batch
    * j61 row-for-row (StreamingSpec I31).
    */
  def jaccardVerifyStream(spark: SparkSession, sfDir: String,
                          probeDocs: DataFrame): DataFrame = {
    import graft.ops.DedupOps
    val docs = Tables.documents(spark, sfDir)
      .where(col("doc_id") <= 200 && length(col("text")) >= 5)
    val sh0 = DedupOps.shingleSets(docs)
    val sh =
      if (probeDocs.isStreaming) {
        val cached = sh0.cache()
        registerServingCache(spark, cached)
        cached
      } else sh0
    val pairs = probeDocs
      .where(col("doc_id") < 200 && length(col("text")) >= 5)
      .select(col("doc_id").as("a"))
      .withColumn("b", col("a") + 1)
    DedupOps.verifyPairs(sh, pairs)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** I16: BPE encoding applied to a document stream with a batch-trained
    * broadcast model — train once on the curated corpus, tokenize
    * arriving documents forever; stateless given the model, so streaming
    * and batch tokenizations agree row-for-row (StreamingSpec I16).
    */
  def bpeEncodeStream(spark: SparkSession, docs: DataFrame,
                      model: graft.ops.BpeOps.BpeModel): DataFrame =
    graft.ops.BpeOps.encode(spark, docs, model)

  /** I18: eval-set decontamination applied to a document stream — the
    * j29 pass as continuous ingestion. The eval-gram set is extracted
    * once (batch) and rides along as a literal/broadcast; each arriving
    * document's hit count is computed entirely inside its own row
    * (grams → membership filter → distinct count), so the flagging is
    * stateless and micro-batch invariant — StreamingSpec I18 pins the
    * streamed result against the RELATIONAL batch spelling
    * (explode → broadcast semi-join → groupBy), which is also the
    * backfill path at scale.
    */
  def decontaminateStream(docs: DataFrame, evalGrams: Seq[String],
                          n: Int = 3): DataFrame =
    graft.ops.RepetitionOps.contaminationHitsRowwise(docs, evalGrams, n)

  /** I19: the j33/j34 row-local quality passes applied to a document
    * stream — the PII-scrub digest and winnowing fingerprint count are
    * pure functions of the row (map-only in batch, PlanSpec-pinned), so
    * continuous ingestion equals batch backfill row-for-row
    * (StreamingSpec I19).
    */
  def scrubFingerprintStream(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysisOps.scrubFingerprint(docs)

  /** I20: the portable SimHash + MinHash fingerprints (j39/j40) applied
    * to a document stream — both are row-local projections (the batch
    * plans are map-only scans), so continuous ingestion equals batch
    * backfill row-for-row (StreamingSpec I20).
    */
  def fingerprintSketchStream(docs: DataFrame): DataFrame =
    graft.ops.DedupOps.withMinhashPortable(
        graft.ops.DedupOps.withSimhashPortable(docs))
      .select("doc_id", "simhash", "sig_md5")

  /** I28: language identification applied to a document stream — the
    * j60 classifier as continuous ingestion: profiles TRAIN once on the
    * static labeled corpus (batch, [[graft.ops.LangIdOps.trainCapped]]
    * bounds the vocabulary), the literalized model rides in the plan
    * (the I21/I18 discipline), and scoring is
    * [[graft.ops.LangIdOps.predictRowLocal]] — one codegen'd expression
    * chain per row, no join, no state — so streaming and batch
    * classification agree row-for-row (StreamingSpec I28 pins stream ≡
    * batch ≡ the relational predict).
    */
  def langIdStream(docs: DataFrame,
                   model: graft.ops.LangIdOps.LiteralLangIdModel): DataFrame =
    graft.ops.LangIdOps.predictRowLocal(docs, model)

  /** I21: BM25 retrieval with a STREAMING probe feed against a static
    * corpus — the serving shape of j35 (queries arrive continuously; the
    * index is fixed). tf/dl/df ride the static side (dl/df as windows
    * over the batch tf — non-time windows aren't stream-legal), the
    * 1-row corpus stats are collected once at stream setup and inlined
    * as literals, and the probe side is a stateless row-local explode,
    * so the plan is a stream-static equi-join + a streaming (qid,doc)
    * aggregation. Works unchanged on a batch probe frame — StreamingSpec
    * I21 pins stream ≡ batch through exactly that substitution.
    */
  def bm25ScoreStream(spark: SparkSession, sfDir: String,
                      probeDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val docs = graft.Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("tok"))
    val tfdl0 = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
    // serving: the index is FIXED across triggers — cache it so each
    // micro-batch probes materialized partitions instead of re-running
    // the corpus explode + aggregation + both windows per trigger. The
    // cache is registered for end-of-serving cleanup (ADVICE r10: it
    // used to outlive the stream for the session's lifetime, and
    // repeated serving setups accumulated index copies).
    val tfdl =
      if (probeDocs.isStreaming) {
        val cached = tfdl0.cache()
        registerServingCache(spark, cached)
        cached
      } else tfdl0
    val st = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(lower(col("text")), " "))).cast("long").as("toktot")).head()
    val nDocs = st.getLong(0)
    if (nDocs == 0) {
      // degenerate empty corpus: avgdl is undefined (batch j35 stays
      // lazy and yields no rows) — answer "no scores" with the schema
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("qid", "doc_id", "score")
    }
    val avgdl = lit(st.getLong(1).toDouble / nDocs.toDouble)
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val tfn = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    val probes = probeDocs.where(graft.ops.RankOps.probeWorkload(col("doc_id")))
      .select(col("doc_id").as("qid"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .where(length(col("tok")) >= 6)
    probes.join(tfdl, "tok")
      .select(col("qid"), col("doc_id"),
        round(idf * tfn, 6).cast(DecimalType(18, 6)).as("c"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("c")).cast(DecimalType(38, 6)).cast("double").as("score"))
  }

  /** I23: hybrid-retrieval serving — each arriving micro-batch of probe
    * REQUESTS is answered with the j42 RRF fused top-10 against the two
    * static indexes (BM25 lexical + embedding-cosine semantic). Fused
    * ranking needs window functions, which a streaming aggregation
    * cannot express, so the serving shape is per-trigger batch ranking
    * over exactly the request sliver ([[graft.ops.RankOps.rrfServe]],
    * a broadcast semi-join on the arriving ids) — the standard
    * request/response foreachBatch idiom. Each request id is answered
    * once per arrival and batches are independent, so results over
    * disjoint request batches union to the batch j42 run — StreamingSpec
    * I23 pins streamed ≡ j42 row-for-row for the same ids.
    */
  def rrfServeSink(spark: SparkSession, sfDir: String, probeIds: DataFrame,
                   checkpointDir: String)(sink: DataFrame => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    // both static indexes (BM25 tf/dl, corpus stats, normalized
    // embeddings) are FIXED across triggers — build + cache them ONCE so
    // a trigger's cost is the request sliver, not a per-batch corpus
    // explode/aggregation/norm pass (the bm25ScoreStream lifecycle; the
    // caches unpersist when the session's last stream terminates)
    val idx0 = graft.ops.RankOps.rrfIndex(spark, sfDir)
    val idx = idx0.copy(tf = idx0.tf.cache(), dl = idx0.dl.cache(),
      stats = idx0.stats.cache(), emb = idx0.emb.cache())
    Seq(idx.tf, idx.dl, idx.stats, idx.emb)
      .foreach(registerServingCache(spark, _))
    probeIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ops.RankOps.rrfServe(spark, sfDir, batch, idx))
        ()
      }
  }

  /** I32: LIVE hotspot monitoring — the b35 skew report over a streaming
    * event feed. Bucket request counts accumulate across micro-batches
    * (complete-mode streaming groupBy — the state store carries one
    * running count per bucket, bounded by the bucket table, never the
    * feed), and each trigger recomputes the REPORT (median + top-k are
    * not streaming aggregations — the I23 foreachBatch recompute
    * pattern) over that bounded table. After full replay the last
    * report must equal batch b35 exactly (StreamingSpec I32). This is
    * the operational shape: the hotspot pager watches a region server's
    * request feed, not a nightly batch scan.
    */
  def hotBucketsSink(events: DataFrame, checkpointDir: String)
                    (sink: DataFrame => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    cellsStream(events)
      .groupBy(substring(col("rowkey"), 1, 12).as("bucket"))
      .agg(count(lit(1)).as("n_req"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ops.BalancerOps.hotBucketReport(batch))
        ()
      }

  /** I33: LIVE replication monitoring — the a26 SyncTable range plan
    * recomputed as the replica's cells stream in. The replica side
    * accumulates its UNFOLDED range manifest across micro-batches
    * (complete-mode streaming groupBy: one running (count, raw hash sum)
    * per key range in the state store — bounded by the range table, never
    * the feed; the mod fold stays OUT of the aggregate so the sum remains
    * commutative across batches). The source manifest is static across
    * triggers — built and cached ONCE (the I23/I21 serving lifecycle) —
    * and each trigger re-plans against it ([[graft.ops.ReplicaOps
    * .syncPlan]]: bounded metadata vs bounded metadata). After full
    * replay the last plan must equal batch a26 exactly (StreamingSpec
    * I33). This is the operational shape: the replication pager watches
    * the replica's WAL-shipped cell feed and raises diverging key ranges
    * continuously, instead of waiting for a nightly HashTable run.
    */
  def syncMonitorSink(spark: SparkSession, sfDir: String, events: DataFrame,
                      checkpointDir: String)(sink: DataFrame => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.ops.ReplicaOps
    val range = ReplicaOps.regionOf(col("user_id"))
    val srcManifest = ReplicaOps
      .rangeManifest(ReplicaOps.srcCells(spark, sfDir), range).cache()
    registerServingCache(spark, srcManifest)
    ReplicaOps.rawManifest(
        ReplicaOps.driftOf(ReplicaOps.enrich(cellsStream(events))), range)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(ReplicaOps.syncPlan(srcManifest, ReplicaOps.foldManifest(batch)))
        ()
      }
  }

  /** I34: LIVE canary health monitoring — the a27 per-region probe
    * report recomputed as the table's cell feed streams in. The probe
    * set is STATIC across triggers — built and cached once from the
    * served table (the I23/I21/I33 serving lifecycle) — and the feed
    * accumulates per-COORDINATE put counts at the probe rows in the
    * state store (complete-mode streaming groupBy after a broadcast
    * stream-static semi-probe: state is bounded by probe-row
    * coordinates, ≤ #regions × #qualifiers, never the feed). Each
    * trigger collapses coordinates to per-row live counts — exactly
    * what a27's rn=1 window counts, since a coordinate with ≥1 put
    * contributes exactly one latest version — and re-assembles the
    * report + rollup. After full replay the last report must equal
    * batch a27 exactly (StreamingSpec I34). This is the operational
    * shape: the canary pages on a region going dark WHILE the feed
    * flows, not at the next nightly probe sweep.
    */
  def canarySink(spark: SparkSession, sfDir: String, events: DataFrame,
                 checkpointDir: String)(sink: DataFrame => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.ops.BalancerOps
    val probes = BalancerOps.canaryProbes(Tables.cells(spark, sfDir)).cache()
    registerServingCache(spark, probes)
    cellsStream(events)
      .where(col("op") === "put")
      .join(broadcast(probes.select(col("probe_row").as("rowkey"))), "rowkey")
      .groupBy(col("rowkey"), col("cf"), col("qualifier"))
      .agg(count(lit(1)).as("n_versions"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val live = batch.groupBy(col("rowkey").as("probe_row"))
            .agg(count(lit(1)).as("live_cells"))
          sink(BalancerOps.canaryReport(probes, live))
        }
        ()
      }
  }

  /** I35: LIVE quota monitoring — the a28 status report recomputed as
    * the namespace's cell feed streams in. Per-table cell counts
    * accumulate in complete-mode state (one running count per table —
    * bounded by the table list, never the feed), and each trigger runs
    * the SAME quotaReport (limits, WARN edge, basis points) over those
    * counts. The streamed `used` equals a28's trailer-metadata `used`
    * after full replay because the trailer entryCount is exactly the
    * cell count the feed delivers — StreamingSpec I35 pins the final
    * report ≡ batch a28 row-for-row. Completes the monitor family:
    * hotspots (I32), replication (I33), health (I34), QUOTA (I35) —
    * the operator pages on approaching a limit, not at the nightly
    * usage chore.
    */
  def quotaWatchSink(events: DataFrame, checkpointDir: String)
                    (sink: DataFrame => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    cellsStream(events)
      .groupBy(when(col("qualifier").isin("click", "view"), "t_click")
        .otherwise("t_txn").as("table"))
      .agg(count(lit(1)).as("n_cells"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.sources.NamespaceOps.quotaReport(batch, "graft_ns",
            tableLimitExpr = "tot DIV 2", nsLimitExpr = "(tot DIV 10) * 11"))
        ()
      }

  /** I36: LIVE compaction monitoring — the a30 ratio-based file
    * SELECTION recomputed as the store-file manifest grows. The feed's
    * cells accumulate per-(region, generation) file sizes in
    * complete-mode state (one running count per store file — bounded
    * by #regions × #generations, the manifest's own cardinality, never
    * the feed), and each trigger runs the SAME
    * [[graft.ops.BalancerOps.compactionSelect]] policy (cross-
    * multiplied integer ratio, min-batch drop, newest-cap) over those
    * sizes. After full replay the streamed sizes equal a30's batch
    * manifest exactly, so the final selection must be the declared a30
    * table row-for-row (StreamingSpec I36). Completes the monitor
    * family — hotspots (I32), replication (I33), health (I34), quota
    * (I35), COMPACTION DEBT (I36): the operator sees a region's
    * selection trip the policy WHILE flushes land, not at the next
    * compaction chore sweep.
    */
  def compactionWatchSink(events: DataFrame, checkpointDir: String)
                         (sink: DataFrame => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.ops.BalancerOps
    cellsStream(events)
      .groupBy(
        BalancerOps.regionOf(substring(col("rowkey"), 1, 12).cast("long"))
          .as("region_id"),
        (substring(col("rowkey"), 14, 12).cast("long") % 7).as("seq"))
      .agg(count(lit(1)).as("size"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(BalancerOps.compactionSelect(batch)
            .orderBy(col("region_id").asc_nulls_last,
              col("seq").asc_nulls_last))
        ()
      }
  }

  /** The canonical cells projection of an events stream — the same
    * expressions as [[graft.Tables.cells]], applied per micro-batch, so a
    * continuous event feed becomes bulk-loadable HBase cells.
    */
  def cellsStream(events: DataFrame): DataFrame =
    events.select(
      concat(Tables.pad(col("user_id")), lit(":"),
        Tables.pad(col("event_id"))).as("rowkey"),
      lit("e").as("cf"),
      col("event_type").as("qualifier"),
      Tables.tsMicros(col("ts")).as("ts"),
      col("value"),
      when(col("event_id") % 97 === 0, "delete").otherwise("put").as("op"))

  /** I25: visibility-labeled streaming scan — the b31 cell-visibility
    * evaluator ([[graft.ops.FilterOps.visibleUnder]] over the shared
    * [[graft.ops.FilterOps.fixtureVisibility]] label policy) applied to
    * a stream of arriving cells under a scanner's authorization set. The
    * label check is a pure row-local predicate (codegen'd array HOFs —
    * no state, no watermark), so it is micro-batch invariant by
    * construction: a streamed scan admits exactly the cells the batch
    * scan admits, regardless of batch boundaries — the RegionServer's
    * per-cell authorization check running at ingest time. StreamingSpec
    * I25 pins stream ≡ batch row-for-row.
    */
  def visibilityScanStream(cells: DataFrame, auths: Seq[String]): DataFrame = {
    val labeled = cells.withColumn("vis",
      graft.ops.FilterOps.fixtureVisibility(col("qualifier"), col("value")))
    labeled.where(graft.ops.FilterOps.visibleUnder(col("vis"), auths))
  }

  /** I26: streaming MOB ingest — each arriving micro-batch of documents
    * splits at the MOB threshold exactly like the batch bulk-load (the
    * a17 core, [[graft.ops.ScanOps.mobWrite]]): reference cells and
    * under-threshold values into the main store, over-threshold payloads
    * into the content-addressed MOB store, each batch as its own
    * store-file generation (the I17 discipline — a replayed batch
    * overwrites precisely its own files, exactly-once without a
    * transactional sink). Payload identity rides the content hash, so
    * the same large value arriving in two batches lands under ONE key
    * and reconstruction collapses it — the MOB refcount property, which
    * is what makes payload re-delivery a read-time no-op. StreamingSpec
    * I26 pins streamed reconstruction ≡ the a17 batch reconstruction,
    * including after a replayed write.
    */
  /** I29: streaming ingest of TAGGED cells — the b33 multi-tag
    * cell-metadata lattice built incrementally. Each micro-batch arrives
    * already carrying its two v3 cell tags (per-cell TTL + visibility
    * label, the shared [[graft.ops.FilterOps.withTagColumns]]
    * expressions) and is bulk-written as its own store-file generation
    * (the I17 replay discipline — a replayed batch overwrites precisely
    * its own files), so the accumulated store holds byte-identical tag
    * blobs to the one-shot batch write. Reconstruction
    * ([[graft.sources.HFileOps.readWithCellTags]]) then composes the
    * RegionServer read order exactly as the batch lattice does — TTL
    * expiry → authorization → tombstone masking
    * ([[graft.ops.FilterOps.tagLattice]]). StreamingSpec I29 pins
    * streamed store ≡ batch store row-for-row through the full lattice.
    */
  def taggedCellsSink(taggedCells: DataFrame, outDir: String,
                      checkpointDir: String, regionsPerBatch: Int = 2)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    taggedCells.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.sources.HFileOps.bulkWrite(batch, outDir,
            regions = regionsPerBatch,
            ttlMsCol = Some("ttl_ms"), visCol = Some("vis"),
            generation = batchId.toInt)
          ()
        }
        ()
      }

  def mobIngestSink(docs: DataFrame, outDir: String, checkpointDir: String,
                    regionsPerBatch: Int = 2)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.ScanOps.mobWrite(batch, outDir, regionsPerBatch,
            generation = batchId.toInt)
          ()
        }
        ()
      }

  /** I14: streaming HFile bulk-load sink — the continuous-ingest shape an
    * HBase support library actually serves: each micro-batch of cells is
    * bulk-written as a self-contained set of region files under
    * `outDir/batch-<id>/`, ready for incremental load.
    *
    * Exactly-once by idempotent redo: the batch directory name is a pure
    * function of the (checkpointed) batchId, and
    * [[graft.sources.HFileOps.bulkWrite]] both clears stale `*.hfile`
    * under its target and commits each region via tmp-write + atomic
    * rename — so a batch replayed after a crash between data write and
    * offset commit overwrites its own region files byte-for-byte instead
    * of duplicating cells (StreamingSpec I14 kills a run there on
    * purpose). Batches already committed to the offset log are never
    * re-executed; their directories are untouched.
    *
    * Region count is sized from the micro-batch (same ~1M-cells/region
    * rule as the batch path), so a burst micro-batch fans out to more
    * region files instead of one oversized task. Read the accumulated
    * load back with `HFileOps.read(spark, s"$outDir/batch-*")` — the
    * region glob composes across batch directories.
    *
    * `onCommit` runs after a batch's region files are durably renamed but
    * BEFORE Spark commits the epoch — the hand-off point for a real
    * deployment's "tell HBase to adopt these files" step (and the spec's
    * crash-injection point); it must be idempotent, exactly like the
    * write itself.
    */
  def hfileBulkLoadSink(cells: DataFrame, outDir: String, checkpointDir: String,
                        compression: Int = graft.sources.HFileCodec.CompressionNone,
                        encoding: Int = graft.sources.HFileCodec.EncodingNone,
                        onCommit: (Long, Seq[String]) => Unit = (_, _) => ())
      : DataStreamWriter[org.apache.spark.sql.Row] =
    cells.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = batch.count()
        if (n > 0) {
          val files = graft.sources.HFileOps.bulkWrite(
            batch, f"$outDir/batch-$batchId%05d",
            regions = graft.sources.HFileOps.regionCountFor(n),
            compression = compression, encoding = encoding)
          onCommit(batchId, files)
        }
        ()
      }

  /** I17: continuous bulk-ingest into ONE generational store — each
    * micro-batch commits as its own store-file generation (generation =
    * batchId), so [[graft.sources.HFileOps.mergedRead]] over the
    * directory is the continuously-updated merge-on-read view at any
    * moment and [[graft.sources.HFileOps.compact]] folds the accumulated
    * history whenever the file count warrants — the flush-then-compact
    * lifecycle of a region server, driven by Structured Streaming.
    * Idempotent under replay: a retried batch REPLACES exactly its own
    * generation's files ([[graft.sources.HFileOps.bulkWrite]] generation
    * mode) and touches nothing else.
    */
  /** I24: streaming WAL ingest — each micro-batch appends its own WAL
    * segment group ([[graft.sources.WalOps.writeWal]] with a per-batch
    * prefix), so the log accrues exactly the way a RegionServer's WAL
    * does under continuous writes: durable before visible, and a
    * REPLAYED batch overwrites precisely its own segments (the I17
    * generation discipline — exactly-once without a transactional
    * sink). [[graft.sources.WalOps.flush]]/[[graft.sources.WalOps
    * .recover]] then run against the accrued log unchanged: flush
    * persists the delta at a sequence point, recovery = flushed
    * generations ∪ post-marker replay — StreamingSpec I24 pins
    * streamed-log recovery ≡ the batch cells view, including after a
    * simulated batch replay.
    */
  def walIngestSink(cells: DataFrame, walDir: String, checkpointDir: String,
                    segmentsPerBatch: Int = 2)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    cells.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.sources.WalOps.writeWal(batch, walDir, segmentsPerBatch,
            prefix = f"wal-b$batchId%04d")
          ()
        }
        ()
      }

  /** I27: CONTINUOUS WAL-shipping replication — I24's streaming log
    * append with a replication source bolted on: each micro-batch
    * appends its own segment group to the PRIMARY log
    * ([[graft.sources.WalOps.writeWal]], per-batch prefix) and then
    * ships exactly that group to the replica
    * ([[graft.sources.WalOps.replicate]], prefix-scoped glob) — the
    * tail-and-ship loop of a real replication endpoint, driven by
    * Structured Streaming. Exactly-once composes from the two halves'
    * own idempotence: a replayed batch rewrites its own primary
    * segments byte-for-byte AND re-ships them onto byte-identical
    * replica segments, so neither side duplicates. StreamingSpec I27
    * pins replica read ≡ primary read ≡ the batch cells view, including
    * after a replayed write.
    */
  def walReplicateSink(cells: DataFrame, primaryDir: String,
                       replicaDir: String, checkpointDir: String,
                       segmentsPerBatch: Int = 2)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    cells.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val prefix = f"wal-b$batchId%04d"
          graft.sources.WalOps.writeWal(batch, primaryDir, segmentsPerBatch,
            prefix = prefix)
          graft.sources.WalOps.replicate(batch.sparkSession, primaryDir,
            replicaDir, glob = s"$prefix-[0-9][0-9][0-9][0-9][0-9].gwal")
          ()
        }
        ()
      }

  def hfileGenerationalSink(cells: DataFrame, outDir: String, checkpointDir: String,
                            compression: Int = graft.sources.HFileCodec.CompressionNone,
                            encoding: Int = graft.sources.HFileCodec.EncodingNone)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    cells.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = batch.count()
        if (n > 0) {
          graft.sources.HFileOps.bulkWrite(
            batch, outDir,
            regions = graft.sources.HFileOps.regionCountFor(n),
            compression = compression, encoding = encoding,
            generation = batchId.toInt)
          ()
        }
        ()
      }

  /** I10: exactly-once parquet sink — foreachBatch + idempotent overwrite
    * by batchId partition; checkpointed so restart resumes, and a replayed
    * batch overwrites rather than duplicates.
    */
  def exactlyOnceParquetSink(df: DataFrame, outDir: String,
                             checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
      }
}
