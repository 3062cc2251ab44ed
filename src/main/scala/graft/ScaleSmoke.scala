package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 100×-scale smoke: synthesizes an events table 100× the bench fixture
  * (10M rows, user cardinality scaled ×100 so per-user density stays
  * constant — the realistic growth axis) and runs the heaviest declared
  * operators against it. Proves the scale paths — distributed ntile,
  * window-partitioned version/tombstone semantics, bounded-heap top-k,
  * sessionization, HFile bulk write/read — complete without driver
  * materialization or a single-partition stage, and shows how cost grows
  * vs the sf0.1 numbers in BASELINE.md.
  *
  * Not part of `sbt test` (it's a ~1 GB, minutes-long run):
  * `sbt "runMain graft.ScaleSmoke"`; results recorded in docs/SCALE.md.
  */
object ScaleSmoke {

  val heavies = Seq(
    "a5_bulkload_splits",     // distributed exact ntile over all rowkeys
    "b7_latest_cells",        // latest-version window over every cell
    "b15_tombstone_mask",     // delete-masking window
    "b17_compaction",         // TTL + tombstone + version-cap composition
    "e9_win_topk_group",      // bounded-heap TopKPerGroup path
    "c10_join_asof",          // as-of window by user
    "c11_join_interval",      // banded self-join (pairs within 1h per user)
    "b12_scvf_exists",        // EXISTS semi-join back to whole rows
    "i4_window_session_batch",// lag + running-sum sessionization
    "d13_hbase_increment",    // counter aggregation per rowkey
    "d18_check_and_delete",   // conditional tombstone: two version windows over all cells (r11)
    "b23_timestamps_filter",  // broadcast semi-join version selection (r11)
    "a9_hfile_roundtrip",     // full HFile bulk write + read back
    "a13_hfile_merge_read",   // LSM generations + exchange-free heap merge (r10)
    // round 12: WAL durability cycle, per-cf store pruning, scan
    // early-termination, the reference-column filter
    "a15_wal_replay",         // log append + delta flush + recovery union
    "a16_multi_cf_prune",     // one-pass per-family stores, family-pruned read
    "a17_mob_storage",        // ref/payload store split, text-codec roundtrips (r12)
    "a18_hfile_snapshot",     // manifest-pinned clone vs live merge (r12)
    "a19_region_split",       // reference-daughter half-range reads (r12)
    "b24_while_match",        // per-region early-stop walk + global stop key
    "b25_dependent_column",   // (row, batch-ts) window correlation
    "d19_row_mutations",      // atomic batch-ts put+delete, three version windows (r12)
    // LLM-pipeline families over the scaled documents/embeddings tables
    "j1_dedup_exact",         // corpus-wide hash dedup
    "j4_text_tokens",         // tokenize + global top-k
    "j5_text_tfidf",          // two-level aggregation over all tokens
    "j8_sim_topk",            // probe-broadcast cosine over the corpus
    "j14_dedup_ngram",        // exact shingle-Jaccard vs the whole corpus
    "j15_dedup_cosine",       // bounded-window pair ranking (constant work)
    // sampling/sharding/mixing (round 6): narrow filters, distributed
    // cumsum, bounded-heap stratified k, ordered per-shard payload concat
    "j20_sample_hash",
    "j21_pack_shards",
    "j22_mix_domains",        // shape-identical to j20 (salted stateless filter)
    "j23_sample_stratified",
    "j24_pack_payload",
    // substring surgery + decontamination (round 10): window-keyed
    // occurrence counts, per-doc interval union, broadcast eval grams.
    // j31 is NOT here: under the generic .count() wrapper its final
    // left-outer join against a per-key-unique aggregate is join-
    // eliminated and the whole splice prunes away (measured 0.4 s of
    // pure scan) — it runs as a pipelines entry that consumes the md5.
    "j28_dup_substrings",
    "j29_decontaminate",
    "j58_decontaminate_fuzzy", // ratio classes over the full gram stream (r12)
    "j45_dedup_paragraphs",   // chunk-keyed keep-first + reassembly (r11)
    "j46_dedup_incremental",  // bloom-prefiltered crawl-vs-corpus admit (r11)
    // ranked retrieval + sketch-path passes (round 10): one-pass BM25,
    // bloom-prefiltered decontamination, CMS-thresholded heavy hitters
    "j35_bm25_topk",
    "j36_decontaminate_bloom",
    "j37_heavy_hitters",
    // round 11: hybrid retrieval fusion (BM25 + cosine legs per probe)
    // and bigram-LM train→score (one corpus explode, checkpointed
    // support feeding model rollup + scoring join)
    "j42_rrf_fusion",
    "j43_lm_perplexity",
    // round 12: the composed curation DAG and the unigram tokenizer
    // (train on the bounded dictionary + distributed Viterbi encode)
    "j47_curate_e2e",
    "j48_unigram_roundtrip",
    // round 12 late: held-out backoff LM scoring (three n-gram count
    // tables + five keyed joins), fixed-length sequence packing (pure
    // integer arithmetic over the distributed prefix sum)
    "j49_lm_backoff",
    "j50_pack_sequences",
    // round 13/14: region merge (served parents + compaction rewrite),
    // WAL-shipping replication (per-segment decode→re-encode→rename),
    // cell-TTL tagged write/read + expiry lattice, char-n-gram langid
    "a20_region_merge",
    "a21_wal_replicate",
    "b32_cell_ttl",
    "b33_cell_tags_lattice",
    "j60_langid",
    "a22_namespace_admin",
    // round 15: raw scan over the delete-lattice store (markers + masked
    // versions, no resolution), exact shingle-Jaccard verify stage,
    // perceptual image dedup (decode + block-mean hash + hash-groupBy)
    "b34_raw_scan",
    "j61_jaccard_verify",
    "j62_image_dedup",
    // round 16: normalizer/placement plans (data reduces to region
    // metadata in one exchange, windows run on the bounded region table)
    // and the hot-bucket skew detector (median broadcast + top-k)
    "a23_region_normalize",
    "a24_region_placement",
    "b35_hot_buckets",
    "j63_dedup_report",
    // round 16 (cont.): replication verification — the per-range hash
    // manifest compare (one map-side-combining exchange per side) and
    // the cell-level VerifyReplication counters it scopes
    "a25_verify_replication",
    "a26_sync_ranges",
    // salted read of the logical range through the 8-bucket layout
    "b36_salted_scan",
    // canonical pick per duplicate cluster (bounded-heap top-1 per group)
    "j64_dedup_canonical",
    // round 17: canary health probe (broadcast probe-set multiGet) and
    // the namespace quota report (bulk-write + metadata listing + CASE)
    "a27_canary_probe",
    "a28_quota_report",
    // rsgroup-constrained serpentine placement (metadata window per group)
    "a29_rsgroup_placement",
    // minor-compaction file selection (suffix-sum windows over manifests)
    "a30_compaction_select",
    // RAG/packing chunker: row-local explode + same-row array slice
    "j65_chunk_overlap",
    // hbck region-chain consistency check (one metadata window)
    "a31_hbck_regions",
    // round 18: graceful-stop drain plan (placement ckpt + broadcast
    // survivor re-deal) and the request-weighted two-factor serpentine
    "a32_server_drain",
    "a34_weighted_placement",
    // restore/clone diff: bulk write + snapshot + planted drift, the
    // diff itself is manifest-vs-listing metadata
    "a33_snapshot_restore",
    // dedup-aware leakage-safe split: CC over the duplicate subgraph +
    // one label left-join + a row-local cluster hash
    "j66_split_leakage_safe",
    // round 19: WAL-split crash recovery (drain assignment + one
    // distributed demux pass over the dead log), locality-weighted
    // three-factor serpentine, and the quota-throttle enforcement ladder
    "a35_wal_split_recovery",
    "a36_locality_placement",
    "a37_quota_throttle",
    // round 20: WAL-delta incremental backup (snapshot bulk write +
    // ExportSnapshot-style restore copy ×2 + incremental log replay) and
    // the pressure-aware compaction throughput ladder (one data
    // reduction to file metadata, then integer arithmetic)
    "a38_incremental_backup",
    "a39_compaction_throttle")

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SMOKE_ROWS", "10000000").toLong
    val users = math.max(1L, n / 67L) // keeps ~67 events/user like the fixtures
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_$n"
    val spark = Harness.session(32)

    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      val t0 = 1704067200000000L // 2024-01-01 in epoch µs
      val month = 30L * 86400L * 1000000L
      spark.range(n).select(
        col("id").as("event_id"),
        // TIMESTAMP_NTZ, mirroring the fixture's parquet timestamp[us]
        timestamp_micros(lit(t0) +
            (xxhash64(col("id"), lit(1)).bitwiseAND(Long.MaxValue)) % month)
          .cast("timestamp_ntz").as("ts"),
        (xxhash64(col("id"), lit(2)).bitwiseAND(Long.MaxValue) % users).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"), lit("signup"), lit("error")),
          ((col("id") % 5) + 1).cast("int")).as("event_type"),
        round((xxhash64(col("id"), lit(3)).bitwiseAND(Long.MaxValue) % 56021L) / 100.0, 2)
          .as("value"),
        concat(lit("{\"k\": "), (col("id") % 100).cast("string"), lit("}")).as("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }

    // documents/embeddings scaled at 1/10 the events factor (100× corpus
    // when events run 1000×): the probe-broadcast text/vector queries are
    // deliberately linear in corpus size, so 100× already exposes any
    // superlinear term without making the smoke an hour long. Word-salad
    // text from a small vocabulary (the fixture's shape), deterministic
    // hash-derived embeddings.
    val nDocs = math.max(100L, n / 200L)
    val nVecs = math.max(100L, n / 500L)
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val vocab = array(Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
        "part", "hash", "batch", "window", "spark", "order", "data", "column", "join",
        "small", "line", "customer", "query", "the", "a", "big", "merge", "stream",
        "filter", "sort", "shuffle", "broadcast").map(lit): _*)
      // text = salad(srcId) + unique token + (" xq" on planted near-dups):
      // every 100th doc is a 1-token mutation of its predecessor, the rest
      // are unique — a realistic ~1% near-dup rate instead of the
      // degenerate all-similar word salad (which stalls any LSH, ours or
      // not, in quadratic candidate verification)
      val srcId = when(col("id") % 100 === 99, col("id") - 1).otherwise(col("id"))
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        element_at(array(lit("de"), lit("en"), lit("es"), lit("fr"), lit("zh")),
          ((col("id") % 5) + 1).cast("int")).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
        // ~30k-word effective vocabulary (base word + numeric variant):
        // random docs then share almost no shingles, like a real corpus.
        // A 30-word vocab gave random doc pairs ~25% Jaccard, and LSH on
        // a corpus where EVERYTHING is near-dup rightly produces a
        // billion-pair candidate set — realistic entropy, realistic cost.
        concat(
          array_join(transform(
            sequence(lit(1), lit(10) + (srcId % 70).cast("int")),
            i => concat(
              element_at(vocab, (pmod(xxhash64(srcId, i), lit(30)) + 1).cast("int")),
              pmod(xxhash64(srcId, i, lit(7)), lit(997)).cast("string"))), " "),
          lit(" u"), hex(xxhash64(srcId)),
          when(col("id") % 100 === 99, " xq").otherwise("")).as("text"))
      docs.withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    // _V2 marker: r8 planted ~1% near-dup vector pairs; a cached _V1
    // fixture (uniform vectors — j9_lsh_neardup_pairs was timing an EMPTY
    // candidate set) must regenerate, not silently keep the old shape
    val embMarker = new java.io.File(s"$dir/embeddings.parquet/_NEARDUP_V2")
    if (!new java.io.File(s"$dir/embeddings.parquet").exists() || !embMarker.exists()) {
      // every 100th vector is a tiny one-dimension perturbation of its
      // predecessor (cosine ≈ 0.9999 ≫ the 0.95 threshold): ~1% planted
      // near-dup pairs, so the LSH candidate join, the cosine verify
      // stage, and the hot-bucket star guard all run non-vacuously at
      // scale while the other 99% stay uniform (realistic entropy)
      val srcVec = when(col("id") % 100 === 99, col("id") - 1).otherwise(col("id"))
      spark.range(nVecs).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => (((pmod(xxhash64(srcVec, i), lit(2001)) - 1000) / 1000.0)
            + when(col("id") % 100 === 99 && i === 1, 0.05).otherwise(0.0))
            .cast("float"))
          .as("embedding"),
        (col("id") % 10).cast("int").as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      embMarker.createNewFile()
    }

    // nBits scales with log2(corpus / target-bucket): fixed bucket count
    // over a growing corpus makes every LSH bucket join quadratic
    val lshBits = math.max(8, math.ceil(math.log(nVecs / 32.0) / math.log(2)).toInt)

    // streaming state at scale (r3 item #7): replay the scaled events
    // through the I7 sessionizer under BOTH state-store providers —
    // heap-backed default vs RocksDB — recording wall time (the generic
    // timing wrapper below) plus the state operator's own footprint
    // counters. Stage the file-stream splits ONCE up front so the one-time
    // fixture rewrite isn't charged to whichever provider runs first, and
    // checkpoint per-application so a rerun against the cached fixture
    // can't resume a caught-up checkpoint and measure nothing (both were
    // code-review findings). The returned Long is the sink's emitted row
    // count across all micro-batches; result-correctness under each
    // provider is StreamingSpec's job, not the smoke's.
    graft.streaming.StreamOps.eventsStream(spark, dir, splits = 8)
    def sessionReplay(provider: String, label: String): Long = {
      graft.streaming.StreamOps.withStateStore(spark, provider)
      val ckpt = java.nio.file.Paths.get(dir,
        s"ckpt_${label}_${spark.sparkContext.applicationId}")
      val q = graft.streaming.StreamOps.sessionize(spark,
          graft.streaming.StreamOps.eventsStream(spark, dir, splits = 8)).toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val ops = q.recentProgress.flatMap(_.stateOperators)
      val stateRows = if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max
      val mem = if (ops.isEmpty) 0L else ops.map(_.memoryUsedBytes).max
      System.err.println(f"[state:$label] stateRows=$stateRows stateBytes=$mem")
      // the fixture dir persists across runs by design; dead checkpoint
      // state must not accumulate in it (one sessionization replay's state
      // is GBs at the 1000x smoke)
      if (java.nio.file.Files.exists(ckpt)) {
        val walk = java.nio.file.Files.walk(ckpt)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      q.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
    }

    // spec-only pipelines (no oracle: engine-specific hashes/seeds) whose
    // 100 TB claims should be measured, not just argued: MinHash+LSH dedup
    // end-to-end, IVF ANN build+probe, winnowing fingerprints
    val pipelines: Seq[(String, () => Long)] = Seq(
      "j2_minhash_lsh_e2e" -> (() =>
        ops.DedupOps.minhashDedup(spark, dir).count()),
      "j9_ivf_build_probe" -> (() => {
        val emb = Tables.embeddings(spark, dir)
        // quantizer trains on a bounded ~20k-vector sample at any corpus
        // size; assignment still covers the full corpus
        val frac = math.min(1.0, 20000.0 / nVecs)
        ops.AnnOps.ivfTopK(spark, emb, emb.where(col("vec_id") < 10),
          trainFraction = frac).count()
      }),
      "j9_ivfpq_build_probe" -> (() => {
        val emb = Tables.embeddings(spark, dir)
        // codebooks + coarse quantizer both train on the bounded seeded
        // sample; corpus-side search state is (vec_id, cell, 8 codes) —
        // the 100 TB memory representation (raw vectors only re-join for
        // the bounded exact re-rank)
        val frac = math.min(1.0, 20000.0 / nVecs)
        ops.AnnOps.ivfPqTopK(spark, emb, emb.where(col("vec_id") < 10),
          trainFraction = frac).count()
      }),
      "j9_lsh_ann_topk" -> (() => {
        val emb = Tables.embeddings(spark, dir)
        ops.AnnOps.annTopK(emb, emb.where(col("vec_id") < 10), nBits = lshBits).count()
      }),
      // find stage alone, then find+verify: the difference is the cosine
      // verify stage's cost over the (now non-vacuous) candidate set
      "j9_lsh_neardup_cand" -> (() =>
        ops.AnnOps.cosineCandidatePairs(Tables.embeddings(spark, dir), nBits = lshBits).count()),
      "j9_lsh_neardup_pairs" -> (() => {
        val pairs = ops.AnnOps.cosineNearDupPairs(Tables.embeddings(spark, dir),
          nBits = lshBits).count()
        // ~1% of vectors are planted mutations; require the pipeline to
        // actually find near-dups rather than time an empty set
        require(pairs > 0, "planted near-dup pairs not found — smoke is vacuous again")
        pairs
      }),
      "j31_dedup_cut" -> (() => {
        // aggregate over the md5 column so the splice cannot be pruned
        val r = SparkEntry.queries("j31_dedup_cut")(spark, dir)
          .agg(count(col("clean_md5")).as("n"), max(col("clean_md5")))
          .collect()(0)
        r.getLong(0)
      }),
      "bpe_compression_stats" -> (() => {
        // the tokenizer-fit report at corpus scale: train on the bounded
        // dictionary, one distributed encode pass over ALL scaled docs,
        // aggregate corpus compression — BPE's first full-corpus smoke
        // entry (j27's gate runs at fixture SF only)
        val docs = Tables.documents(spark, dir)
        val model = ops.BpeOps.train(
          ops.BpeOps.wordCounts(docs, maxWords = 20000), numMerges = 200)
        val r = ops.BpeOps.compressionStats(spark, docs, model)
          .agg(sum("n_chars").as("chars"), sum("n_tokens").as("toks"))
          .collect()(0)
        require(r.getLong(0) > r.getLong(1),
          "merges failed to compress the scaled corpus — smoke is vacuous")
        r.getLong(1)
      }),
      "rag_chunk_retrieve_e2e" -> (() => {
        // the j65 → ANN composition a RAG ingestion runs: chunk the full
        // corpus (row-local), embed each chunk with a deterministic
        // 32-dim hashed bag-of-words (xxhash64 bucket counts — stands in
        // for the model encoder, which is out of scope per SURVEY §1.3),
        // then LSH-retrieve top-5 chunks for the first 10 docs' chunks.
        // Proves the chunker's output feeds the ANN family at corpus
        // scale without a shuffle before the bucket join.
        // vec_id multiplier 1e6 (ADVICE r17 #4): collision-free for any
        // doc under one million chunks (~15M ws tokens at stride 15 —
        // far past any scaled doc), and doc_id < 10 on the chunk frame
        // makes the probe set exactly "the first 10 docs' chunks"
        val chunks = ops.TextOps.chunkDocs(Tables.documents(spark, dir), 20, 15)
          .select((col("doc_id") * 1000000L + col("chunk_id")).as("vec_id"),
            col("doc_id"), split(col("chunk_text"), " ").as("ws"))
        def embed(c: DataFrame) = c.select(col("vec_id"),
          expr("transform(sequence(0, 31), i -> " +
            "CAST(size(filter(ws, t -> pmod(xxhash64(t), 32) = CAST(i AS BIGINT))) AS FLOAT))")
            .as("embedding"))
        val got = ops.AnnOps.annTopK(embed(chunks),
          embed(chunks.where(col("doc_id") < 10)),
          k = 5, nBits = lshBits).count()
        require(got > 0, "no chunk retrievals — smoke is vacuous")
        got
      }),
      "semdedup_e2e" -> (() => {
        // ~1% of vectors are planted near-copies (cosine ≈ 0.9999): the
        // coarse-cell pair join, hub-star guard and CC must all run
        // non-vacuously, and the planted mass must actually be removed
        val removed = ops.DedupOps.semanticDedup(
          Tables.embeddings(spark, dir).select("vec_id", "embedding"),
          nClusters = 64, threshold = 0.95)
          .where(!col("is_canonical")).count()
        require(removed > 0, "planted semantic dups not removed — smoke is vacuous")
        removed
      }),
      "j38_cc_uncapped" -> (() => {
        // VERDICT r10 task 4: the declared j38 caps its subgraph
        // (doc_id < 2000) so the DuckDB recursive-CTE oracle stays cheap;
        // this entry runs the SAME shingle-edge construction + CC over
        // the FULL scaled corpus (50k docs at the 100x smoke) — the
        // convergence probe, per-round localCheckpoint cadence, and the
        // loud iteration cap all at real width (rounds logged by
        // clusters() itself). The planted every-100th near-dups make the
        // component set non-vacuous by construction.
        val edges = ops.DedupOps.shingleEdges(Tables.documents(spark, dir))
        val labels = ops.DedupOps.clustersFromEdges(edges, canonicalPairs = true)
        val merged = labels.where(col("cluster_id") =!= col("doc_id")).count()
        require(merged > 0, "planted dup components not found — smoke is vacuous")
        merged
      }),
      // the rest of the dedup LIFECYCLE at real width (VERDICT r18 task
      // 8): the declared j63/j64 cap their subgraph for the DuckDB
      // recursive-CTE oracle; these run the IDENTICAL report/canonical
      // code over the FULL scaled corpus, so the whole dedup → report →
      // canonical → split chain has measured 100×/1000× points (the
      // split half is split_leakage_e2e below)
      "dedup_report_e2e" -> (() => {
        val n = ops.DedupOps.dedupReport(Tables.documents(spark, dir))
          .queryExecution.toRdd.count()
        require(n > 0, "no dup clusters at scale — report smoke is vacuous")
        n
      }),
      "dedup_canonical_e2e" -> (() => {
        val n = ops.DedupOps.dedupCanonical(Tables.documents(spark, dir))
          .queryExecution.toRdd.count()
        require(n > 0, "no canonical picks at scale — smoke is vacuous")
        n
      }),
      "split_leakage_e2e" -> (() => {
        // the declared j66 caps its subgraph like j38 (oracle cost);
        // this entry runs the SAME dedup-aware split over the FULL
        // scaled corpus — real-width CC + label left-join + cluster
        // hash — and asserts the structural outcome at scale: full
        // coverage, all three splits populated, and the planted
        // near-dup components genuinely merged (else the leakage
        // property is vacuously true)
        val assigned = ops.ckpt(ops.DedupOps.splitAssign(
          Tables.documents(spark, dir)))
        val n = assigned.count()
        require(n == Tables.documents(spark, dir).count(),
          "split must cover every doc exactly once")
        val splits = assigned.groupBy("split").count().collect()
        require(splits.length == 3, s"splits missing: ${splits.mkString(",")}")
        val merged = assigned.where(col("cluster_id") =!= col("doc_id")).count()
        require(merged > 0, "no merged components — leakage property vacuous")
        n
      }),
      "curate_pipeline_e2e" -> (() =>
        // quality gate -> exact dedup -> near-dup dedup, one composition
        ops.CurateOps.curate(Tables.documents(spark, dir)).count()),
      "fingerprint_winnow" -> (() =>
        // explode-count so the fingerprint arrays are actually computed
        // (count over a global agg can prune the aggregate's work)
        ops.TextAnalysisOps.fingerprints(Tables.documents(spark, dir))
          .select(explode(col("fingerprint"))).count()),
      "i7_state_default" -> (() =>
        sessionReplay(graft.streaming.StreamOps.DefaultProvider, "default")),
      "i7_state_rocksdb" -> (() =>
        sessionReplay(graft.streaming.StreamOps.RocksDbProvider, "rocksdb")),
      // I27 at scale (VERDICT r13 task 7): the continuous tail-and-ship
      // loop over the scaled event stream — per micro-batch, a segment
      // group lands on the primary and ships to the replica; the entry
      // measures the whole replication transport's per-batch cost and
      // asserts replica convergence (row count == primary count)
      // I34/I35 at scale: the canary + quota monitors over the full
      // 10M-cell feed — state stays bounded (probe coordinates / table
      // list) while the feed is corpus-sized; the entries assert the
      // final trigger's report is complete and non-vacuous
      "i34_canary_stream" -> (() => {
        val ckpt = s"$dir/canary_ckpt_${spark.sparkContext.applicationId}"
        @volatile var rows = 0L
        val q = graft.streaming.StreamOps.canarySink(spark, dir,
            graft.streaming.StreamOps.eventsStream(spark, dir, splits = 8),
            ckpt) { rep => rows = rep.count() }
          .start()
        q.awaitTermination()
        require(rows > 1, s"canary report incomplete at scale: $rows rows")
        rows
      }),
      "i35_quota_stream" -> (() => {
        val ckpt = s"$dir/quota_ckpt_${spark.sparkContext.applicationId}"
        @volatile var rows = 0L
        val q = graft.streaming.StreamOps.quotaWatchSink(
            graft.streaming.StreamOps.eventsStream(spark, dir, splits = 8),
            ckpt) { rep => rows = rep.count() }
          .start()
        q.awaitTermination()
        require(rows == 3, s"quota report incomplete at scale: $rows rows")
        rows
      }),
      "i27_wal_replicate_stream" -> (() => {
        val app = spark.sparkContext.applicationId
        val pri = s"$dir/wal_rep_pri_$app"
        val rep = s"$dir/wal_rep_rep_$app"
        val ckpt = s"$dir/wal_rep_ckpt_$app"
        val cells = graft.streaming.StreamOps
          .cellsStream(graft.streaming.StreamOps.eventsStream(spark, dir, splits = 8))
          .withColumn("seq", col("ts"))
        val q = graft.streaming.StreamOps
          .walReplicateSink(cells, pri, rep, ckpt).start()
        q.awaitTermination()
        val priN = graft.sources.WalOps.readWal(spark, pri).count()
        val repN = graft.sources.WalOps.readWal(spark, rep).count()
        require(priN == repN && repN > 0,
          s"replica diverged at scale: primary=$priN replica=$repN")
        // the fixture dir persists across runs; drop this app's log state
        Seq(pri, rep, ckpt).foreach { p =>
          val f = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(f)) {
            val walk = java.nio.file.Files.walk(f)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(x => java.nio.file.Files.deleteIfExists(x))
            finally walk.close()
          }
        }
        repN
      }))

    // SPARK_GRAFT_SMOKE_ONLY=a,b restricts the run for targeted iteration
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.split(',').toSet)
    // heavies evaluate AS DECLARED (toRdd, the r10 graft.Bench protocol):
    // .count() planted an aggregate that let Catalyst prune aggregate
    // VALUES and join-eliminate subtrees — the j31 vacuity, generalized
    val runs: Seq[(String, () => Long)] =
      (heavies.map(n => n -> (() =>
        SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count())) ++ pipelines)
        .filter { case (n, _) => only.forall(_.contains(n)) }

    val results = runs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val rows = fn()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"$name%-26s $sec%8.2fs  ($rows rows)")
      // Release this workload's driver/executor state so the full
      // ~100-workload one-JVM battery holds the DEFAULT 8g heap
      // (VERDICT r19 task 3: at 98 workloads the battery OOM'd on a
      // broadcast build around workload ~87 — ~90 finished workloads'
      // localCheckpoint blocks and dead broadcasts were still resident
      // because ContextCleaner only fires on GC and nothing dropped the
      // references). Untimed: runs after `sec` is taken.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc() // lets ContextCleaner reap dead broadcast/shuffle state
      name -> sec
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_smoke","rows":$n,"value":${results.map(_._2).sum},"unit":"sec","queries":$qs}""")
    spark.stop()
  }
}
