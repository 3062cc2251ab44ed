package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the ".explain and iterate" discipline
  * codified (SURVEY §4): pushdown reaches the parquet scan, pruning
  * limits ReadSchema, small dims broadcast, top-k avoids a global sort,
  * and hot paths stay inside whole-stage codegen. These are the
  * properties that decide 100 TB behavior; the tests pin them so a
  * refactor can't silently regress a plan.
  */
class PlanSpec extends SparkSuite {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The exchange-bearing physical tree for structural walks: sparkPlan
    * predates EnsureRequirements (no exchanges yet), and under AQE the
    * executedPlan root is an adaptive wrapper whose children are hidden
    * from collect — unwrap to its current (initial, pre-execution) plan.
    */
  private def planTree(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def scanLine(df: DataFrame): String =
    physical(df).linesIterator.filter(_.contains("FileScan")).mkString("\n")

  test("bulk-write region sizing is metadata-only: no Spark job picks the count") {
    // the b21/a9/a12/a13/a14 bulk writes size regions from the source's
    // on-disk bytes — one FileSystem listing, zero jobs (VERDICT r11:
    // each used to run a full events.count() before the write)
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val n = graft.sources.HFileOps.regionCountForBytes(
        Tables.bytesOnDisk(spark, sf, "events"))
      assert(n >= 4 && n <= 4096)
      // job-start events arrive async on the listener bus; give any
      // stray submission ample time to surface before asserting absence
      Thread.sleep(1500)
      assert(jobs == 0, s"region sizing launched $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(l)
    // calibration contract: 16 MiB of source parquet per region, same
    // floor/cap as the cell-count rule
    import graft.sources.HFileOps.regionCountForBytes
    assert(regionCountForBytes(0) == 4)
    assert(regionCountForBytes(1L << 24) == 4)
    assert(regionCountForBytes(100L << 24) == 100)
    assert(regionCountForBytes(Long.MaxValue / 2) == 4096)
  }

  test("filter pushdown: b2 predicates reach the parquet scan") {
    val scan = scanLine(SparkEntry.queries("b2_filter_pred")(spark, sf))
    assert(scan.contains("PushedFilters: ["), scan)
    assert(scan.contains("GreaterThanOrEqual(l_quan") || scan.contains("GreaterThan(l_disc"), scan)
  }

  test("column pruning: b1 reads only the 4 needed lineitem columns") {
    val scan = scanLine(SparkEntry.queries("b1_project")(spark, sf))
    val readSchema = scan.split("ReadSchema:").last
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("partition pruning substrate: b10 ts range is pushed to the scan") {
    val scan = scanLine(SparkEntry.queries("b10_ts_range")(spark, sf))
    assert(scan.contains("PushedFilters: [") && scan.contains("ts"), scan)
  }

  test("broadcast: c2 nation-customer join uses BroadcastHashJoin") {
    val plan = physical(SparkEntry.queries("c2_join_broadcast")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("top-k: f2 plans TakeOrderedAndProject, not a global sort") {
    val plan = physical(SparkEntry.queries("f2_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregation is partial+final (map-side combine) for d1") {
    val plan = physical(SparkEntry.queries("d1_agg_basic")(spark, sf))
    assert(plan.contains("partial_"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("flagship join-agg pipeline stays in whole-stage codegen") {
    // AQE finalizes the plan only after execution; "*(n)" prefixes then
    // mark WholeStageCodegen stages in the compact form
    val df = SparkEntry.queries("c1_join_inner")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
  }

  test("j8 probe side is broadcast (corpus never shuffles for brute force)") {
    val plan = physical(ops.TextOps.j8_sim_topk(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("decimal sums keep exact partial aggregation (no double partials)") {
    val plan = physical(SparkEntry.queries("a1_scan_parquet")(spark, sf))
    assert(plan.contains("sum(cast(l_quantity"), plan)
  }

  test("c11 interval self-join keeps its equi key (no nested-loop product)") {
    val plan = physical(SparkEntry.queries("c11_join_interval")(spark, sf))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("a13 merge-on-read: generation-aligned partition-local merge — no coordinate exchange") {
    // r10: the LSM resolution is a per-range K-way heap merge of the
    // store files' already-sorted streams (the region-server shape) — no
    // window, no coordinate-keyed shuffle, no join. The only exchanges
    // in a13's plan belong to the query's own (cf, qualifier) aggregate
    // and its 5-row ORDER BY, never to the merge itself.
    val plan = physical(SparkEntry.queries("a13_hfile_merge_read")(spark, sf))
    assert(!plan.contains("Window"), plan)
    val coordExchanges = plan.linesIterator
      .filter(l => l.contains("hashpartitioning(rowkey"))
      .size
    assert(coordExchanges == 0,
      s"merge-on-read must not shuffle by coordinate, got $coordExchanges\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
  }

  test("c10 as-of is one window shuffle by user, not a join") {
    val plan = physical(SparkEntry.queries("c10_join_asof")(spark, sf))
    assert(plan.contains("Window") || plan.contains("RunningWindowFunction"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("e8 range frame avoids the single-partition global window") {
    val plan = physical(SparkEntry.queries("e8_win_range")(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"), plan)
  }

  test("g4 EXCEPT: pushed quantity filter, broadcast anti join, no sort exchange") {
    // pins the r7 plan-diff adjudication (docs/PLANS.md "g4 vs baseline
    // B9"): the 2.57x battery ratio is a workload mismatch, NOT a weak
    // plan — provided the plan stays exactly this shape. At 100x: the
    // quantity predicate prunes at the parquet scan, the small filtered
    // side broadcasts (LeftAnti — the big side never shuffles for the
    // join), distinct is partial+final, and the R1-ordered LIMIT 100
    // plans as TakeOrderedAndProject with no global sort exchange.
    val df = SparkEntry.queries("g4_except")(spark, sf)
    val plan = physical(df)
    val scan = scanLine(df)
    assert(scan.contains("LessThanOrEqual(l_quantity"), scan)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    // keys-only distinct prints no "partial_" label: the map-side combine
    // is the pre-shuffle HashAggregate of the two flanking the exchange
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2, plan)
  }

  test("j31 substring-cut: one window-keyed exchange, no self-join on the explode") {
    // the occurrence count and the global first-occurrence rank are two
    // window functions over ONE hashpartitioning(w) exchange — the
    // groupBy+join spelling re-exploded the corpus for the probe side and
    // paid a second string-keyed exchange (measured 2x on j28 at sf0.1).
    // Joins appear only downstream of the doc_id re-key (segment splice
    // against the 1-row-per-doc text), never on the window stream.
    val plan = physical(SparkEntry.queries("j31_dedup_cut")(spark, sf))
    val wExchanges = plan.linesIterator
      .count(l => l.contains("hashpartitioning(w#") && l.contains("Exchange"))
    assert(wExchanges == 1,
      s"expected exactly one window-value exchange, got $wExchanges\n$plan")
    assert(!plan.contains("SortMergeJoin(w"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("j28 dup-substring detection shares j31's single window-value exchange") {
    val plan = physical(SparkEntry.queries("j28_dup_substrings")(spark, sf))
    val wExchanges = plan.linesIterator
      .count(l => l.contains("hashpartitioning(w#") && l.contains("Exchange"))
    assert(wExchanges == 1,
      s"expected exactly one window-value exchange, got $wExchanges\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("j29 decontamination: eval grams broadcast — corpus grams never shuffle for the join") {
    val plan = physical(SparkEntry.queries("j29_decontaminate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("j33 winnow fingerprint is a map-only pass — no shuffle before the output sort") {
    // the whole fingerprint (native shingle slice, per-gram md5, deque
    // sliding min, distinct+sort+digest) happens inside the document's
    // own row; the only exchanges are the fanOut round-robin (local
    // split-starvation remedy — identity at production split counts) and
    // the rangepartitioning that orders the oracle output. At 100 TB the
    // operator itself is a map-only scan.
    val plan = physical(SparkEntry.queries("j33_winnow_fingerprint")(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2 && plan.contains("rangepartitioning"),
      s"expected only fanOut + the output-order range exchange\n$plan")
    assert(!plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("j34 PII scrub shares j33's map-only shape") {
    // same tolerance as the j33 pin: r20 added fanOut to j34 (isolated
    // A/B 0.92 -> 0.51 s at sf0.1), so the plan may carry the round-robin
    // split-starvation exchange — identity at production split counts —
    // besides the output-order range exchange; still no hash shuffle and
    // no join anywhere.
    val plan = physical(SparkEntry.queries("j34_pii_scrub")(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2 && plan.contains("rangepartitioning"),
      s"expected only fanOut + the output-order range exchange\n$plan")
    assert(!plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("j35 BM25: one corpus explode, query terms broadcast, df on the candidate sliver") {
    // tree-walk instead of exact FileScan/Generate line counts (ADVICE
    // r10: exact counts break on planner-version plan-shape changes that
    // are not regressions). The load-bearing properties: the CORPUS is
    // exploded exactly once (every other Generate sits above the tiny
    // %125-filtered probe branch), the join is broadcast, and nothing is
    // sort-merge or cartesian.
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
    val plan: SparkPlan = planTree(SparkEntry.queries("j35_bm25_topk")(spark, sf))
    def isProbeBranch(p: SparkPlan): Boolean = p.collect {
      case f: FilterExec if f.condition.toString.contains("125") => f
    }.nonEmpty
    val corpusExplodes = plan.collect {
      case g: GenerateExec
        if g.collect { case s: FileSourceScanExec => s }.nonEmpty && !isProbeBranch(g) => g
    }
    assert(corpusExplodes.size == 1,
      s"expected exactly one corpus explode, got ${corpusExplodes.size}\n$plan")
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("j36 bloom decontamination: might_contain prefilter sits map-side, confirm join broadcast") {
    // tree-walk, not tree-print line ordering (ADVICE r10): the property
    // is that the bloom probe filter executes BELOW a shuffle — i.e. the
    // corpus is dropped map-side before any exchange moves it.
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan: SparkPlan = planTree(SparkEntry.queries("j36_decontaminate_bloom")(spark, sf))
    val s = plan.toString
    assert(s.contains("might_contain"), s)
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"), s)
    assert(!s.contains("SortMergeJoin"), s)
    val probeBelowShuffle = plan.collect { case sh: ShuffleExchangeExec => sh }
      .exists(sh => sh.child.collect {
        case f: FilterExec if f.condition.toString.contains("might_contain") => f
      }.nonEmpty)
    assert(probeBelowShuffle,
      s"bloom probe filter must sit in a shuffle's subtree (map-side)\n$plan")
  }

  test("j39/j40 portable fingerprints are map-only (row-local, j33's shape)") {
    for (q <- Seq("j39_simhash_portable", "j40_minhash_portable")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf))
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 2 && plan.contains("rangepartitioning"),
        s"$q: expected only fanOut + the output-order range exchange\n$plan")
      assert(!plan.contains("hashpartitioning"), plan)
      assert(!plan.contains("Join"), plan)
    }
  }

  test("j42 RRF fusion: probe vectors broadcast (corpus embeddings never shuffle), no cartesian") {
    val plan = physical(SparkEntry.queries("j42_rrf_fusion")(spark, sf))
    // the semantic leg must keep j8's shape: only the tiny probe set
    // crosses a broadcast, the corpus embedding scan streams through it
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("j43 perplexity scores off the materialized bigram support — no second corpus explode") {
    val plan = physical(SparkEntry.queries("j43_lm_perplexity")(spark, sf))
    // dtf is localCheckpointed: BOTH consumers (model rollup + scoring
    // join) must read the checkpointed RDD, so the final plan carries
    // ZERO Generate (the one corpus explode happened at checkpoint
    // materialization) and exactly two checkpoint scans — one per
    // consumer, nothing re-derived from the corpus
    assert(!plan.contains("Generate"), plan)
    val rddScans = plan.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(rddScans == 2,
      s"expected both consumers to read the checkpointed support (2 scans), got $rddScans\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("j37 heavy hitters: CMS prefilter leaves one (gram,count) exchange and no join") {
    val plan = physical(SparkEntry.queries("j37_heavy_hitters")(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected only the groupBy(g) exchange\n$plan")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("b25 dependent-column: ONE (row, batch-ts) window exchange, no join") {
    // the write-batch correlation is a boolean max over the coordinate
    // window — the RegionServer's row-local evaluation; a join spelling
    // would shuffle the table twice
    val plan = physical(SparkEntry.queries("b25_dependent_column")(spark, sf))
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    val windowExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("bts"))
    assert(windowExchanges == 1,
      s"expected exactly the (row-prefix, bts) window exchange\n$plan")
  }

  test("b26 column-count pages with b20's two window exchanges and no join") {
    val plan = physical(SparkEntry.queries("b26_column_count")(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("Window")) >= 2, plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("j51 DSIR: log-ratio table broadcasts — per-doc bucket counts never re-shuffle for scoring") {
    // the scoring join must be a BroadcastHashJoin of the 1024-row lr
    // table against the checkpointed (doc,bucket) counts; a sort-merge
    // join here would reshuffle the corpus-sized count table on the
    // bucket key (1024 distinct values — catastrophic skew at 100 TB)
    val df = SparkEntry.queries("j51_dsir_select")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("j52 FIM transform is map-only up to the 2-row mode aggregate") {
    // split positions, rendering, and the portable hash are all
    // row-local; the only exchange is the partial/final agg on mode
    val df = SparkEntry.queries("j52_fim_transform")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected exactly the mode agg exchange\n$plan")
  }

  test("j55 token entropy: no join — doc totals ride the (doc,tok)-clustered counts") {
    val df = SparkEntry.queries("j55_token_entropy")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("Join"), plan)
  }

  test("j48 unigram roundtrip: one word-count exchange feeds training; encode is map-side") {
    // the ONLY corpus-scale shuffle is the wordCounts groupBy — the
    // broadcast Viterbi encode/decode adds no exchange of the corpus
    val df = SparkEntry.queries("j48_unigram_roundtrip")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("Join"), plan)
    // encode/decode run as DeserializeToObject → MapPartitions chains
    assert(plan.contains("MapPartitions"), plan)
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 0,
      s"the declared plan (post-training) must not reshuffle the corpus\n$plan")
  }

  test("b34 raw scan: no resolution machinery — no window, no join, one digest exchange") {
    // Scan.setRaw(true) must surface cells WITHOUT the merge/mask work:
    // the plan is the parallelized store read straight into the
    // (qualifier, op, gen) digest — a coordinate window or join here
    // would mean the raw path quietly resolves
    val plan = physical(SparkEntry.queries("b34_raw_scan")(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"raw scan should shuffle once (the digest), got $hashExchanges\n$plan")
  }

  test("j62 image dedup: row-local hash then one keyed exchange — never a pairwise join") {
    // the 100 TB image-dedup shape: decode + block-mean hash are
    // MapPartitions over the payload scan; groups come from ONE
    // hash-aggregate exchange on the 64-bit key; any join or cartesian
    // would mean pixels are being compared pairwise
    val plan = physical(SparkEntry.queries("j62_image_dedup")(spark, sf))
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"image dedup should shuffle once (the group key), got $hashExchanges\n$plan")
  }

  test("a23/a24 balancer plans: data shuffles once into region stats; windows only on metadata") {
    // the planner shape: the cells-sized input reduces via ONE
    // hash-aggregate exchange into the region-metadata table; every
    // window (normalize ordering, placement rank) runs AFTER that
    // reduction — a window keyed on the data side would sort the corpus
    for (q <- Seq("a23_region_normalize", "a24_region_placement")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf))
      val hashExchanges = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning"))
      assert(hashExchanges <= 1,
        s"$q: region stats should shuffle once, got $hashExchanges\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      // the single-partition windows are over the bounded region table:
      // every Window sits above the region_id aggregate, so the sort it
      // needs is on the aggregated rows (n_cells/start_key cols exist
      // only post-agg)
      assert(plan.contains("Window"), s"$q lost its plan window\n$plan")
    }
  }

  test("a29/a30 planner plans: data shuffles once into metadata; windows only on metadata") {
    // same contract as a23/a24: the data-sized input (cells) reduces via
    // ONE hash-aggregate exchange into file/region metadata; the policy
    // windows (serpentine rank, suffix sums) run after that reduction.
    // Unlike a23/a24's GLOBAL windows (which need no hash exchange),
    // these windows partition by group/region, so one extra
    // metadata-sized re-key exchange is the honest shape — the pin is
    // that NOTHING ELSE shuffles (2 = reduction + window re-key). a29
    // adds the broadcast O(groups) fleet table — which must stay a
    // BroadcastExchange, never a shuffle join
    for (q <- Seq("a29_rsgroup_placement", "a30_compaction_select")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf))
      val hashExchanges = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning"))
      assert(hashExchanges <= 2,
        s"$q: expected only the data reduction + metadata window re-key, got $hashExchanges\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(plan.contains("Window"), s"$q lost its plan window\n$plan")
    }
    val a29 = physical(SparkEntry.queries("a29_rsgroup_placement")(spark, sf))
    assert(a29.contains("BroadcastExchange") || a29.contains("BroadcastHashJoin"),
      s"fleet table must broadcast:\n$a29")
  }

  test("a28 quota report runs on metadata only — no parquet scan in the plan") {
    // `used` comes from trailer metadata (listNamespace) — the report's
    // own plan must read the O(tables) listing rows, never re-scan data
    val plan = physical(SparkEntry.queries("a28_quota_report")(spark, sf))
    assert(!plan.contains("FileScan"), s"quota report re-scanned data:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("a38 backup digest: restored ∪ replayed reduces in one exchange — " +
      "no join, no window, no parquet re-scan") {
    // the backup/restore data movement happens in the constructor's own
    // jobs (bulk write, ExportSnapshot-style copy, log write); the
    // DECLARED digest plan reads the restored store files and the
    // incremental log as row sources and must reduce them in ONE
    // partial+final hash aggregation — any join, window, or parquet
    // FileScan here would mean the digest re-derives state instead of
    // reading the restored site
    val plan = physical(SparkEntry.queries("a38_incremental_backup")(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"backup digest should reduce in one exchange, got $hashExchanges\n$plan")
    assert(!plan.contains("FileScan"), s"digest re-scanned parquet:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("j65 chunker is row-local: zero keyed exchanges, pruned two-column scan") {
    // one explode + same-row array slice: the only exchange the declared
    // query may carry is its gate ORDER BY (rangepartitioning)
    val df = SparkEntry.queries("j65_chunk_overlap")(spark, sf)
    val plan = physical(df)
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 0, s"chunker must not shuffle:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    val readSchema = scanLine(df).split("ReadSchema:").last
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"scan not pruned to doc_id+text: $readSchema")
  }

  test("a32 drain plan runs on metadata only: no re-scan past the placement checkpoint") {
    // the placement is materialized (ckpt) before the drain logic, so
    // the drain plan itself must touch only region metadata: no parquet
    // scan, no cartesian, survivor/dest tables broadcast — the move-plan
    // shape stays O(regions) whatever the data size
    val plan = physical(SparkEntry.queries("a32_server_drain")(spark, sf))
    assert(!plan.contains("FileScan"), s"drain plan re-scanned data:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"dest/survivor tables must broadcast:\n$plan")
    assert(plan.contains("Window"), s"serpentine rank window missing\n$plan")
  }

  test("a34 weighted placement: data shuffles once into two-factor region stats") {
    // same contract as a23/a24: ONE hash-agg exchange reduces cells to
    // (region, n_cells, n_req); the cost rank window is GLOBAL over that
    // bounded table, so no window re-key exchange appears
    val plan = physical(SparkEntry.queries("a34_weighted_placement")(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"region stats should shuffle once, got $hashExchanges\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"), plan)
    assert(plan.contains("Window"), s"cost rank window missing\n$plan")
  }

  test("a31 hbck chain check: one data reduction, windows only on region metadata") {
    // same family as a23/a24: cells reduce via ONE hash-agg exchange to
    // the region list; the chain walk (lead over start_key order) runs
    // on that bounded table — no join, no cartesian
    val plan = physical(SparkEntry.queries("a31_hbck_regions")(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"region list should shuffle once, got $hashExchanges\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"), plan)
    assert(plan.contains("Window"), s"chain walk window missing\n$plan")
  }

  test("b35 hot buckets: one data exchange, median broadcast back, top-k take-ordered") {
    val plan = physical(SparkEntry.queries("b35_hot_buckets")(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"bucket counts should shuffle once, got $hashExchanges\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"median should broadcast back, not shuffle\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be take-ordered, not a global sort\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  test("b36 salted scan: aggregation-only (distinct-agg exchanges), no join, no window") {
    // the salted report is a filter + two-phase distinct aggregate: at
    // most the (salt,user) dedup exchange and the final salt exchange —
    // never a join or a window (a per-bucket read path that joined
    // buckets back would defeat the embarrassingly-parallel point)
    val plan = physical(SparkEntry.queries("b36_salted_scan")(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 2,
      s"expected the distinct-agg exchange pair at most, got $hashExchanges\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct") &&
      !plan.contains("Window"), plan)
  }

  test("a26 sync ranges: each side reduces via one hash-agg exchange into bounded manifests") {
    // the HashTable shape: the commutative range hash is a partial-
    // aggregating SUM, so each table contributes exactly ONE data-sized
    // exchange (its manifest groupBy); the manifest-vs-manifest full
    // outer then joins on that same range_id partitioning — no further
    // hash exchange — and its inputs are bounded metadata (one row per
    // key range), so whichever join Spark picks is metadata-sized. (Full
    // outer can't broadcast-hash, so we pin the exchange count, not the
    // join flavor.) No window, no cartesian.
    val plan = physical(SparkEntry.queries("a26_sync_ranges")(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 2,
      s"one manifest exchange per side, got $hashExchanges\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("a27 canary read: probe set broadcasts onto the corpus scan — multiGet shape") {
    // the canary's probe read must be the a10 multiGet pattern: the
    // bounded probe set reaches the cells scan as a BROADCAST, so the
    // corpus itself never hash-shuffles into the probe join; the only
    // keyed exchanges are over the probe-row-filtered remnant (the
    // latest-version window, the per-row count) and the probe-sized
    // left-join alignment
    val cells = Tables.cells(spark, sf)
    val probes = graft.ops.ckpt(cells
      .groupBy(graft.ops.BalancerOps.regionOf(
        substring(col("rowkey"), 1, 12).cast("long")).as("region_id"))
      .agg(min("rowkey").as("probe_row")))  // materialized, as in a27
    val plan = physical(graft.ops.BalancerOps.canaryPerRegion(cells, probes))
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set must broadcast onto the scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 3,
      s"only probe-sized/probe-filtered exchanges expected (window, count, align), got $hashExchanges\n$plan")
  }

  test("j64 canonical pick runs the bounded-heap TopKPerGroup, never a full per-cluster sort") {
    // ADVICE r16: the r16 spelling (rn===1 && sz>=2 over stacked windows)
    // silently kept both our rewrite and stock InferWindowGroupLimit from
    // firing. The restructured query (keyed-count size filter BEFORE the
    // window, bare rn=1 above it) must plan as TopKPartial → one
    // cluster_id exchange → TopKFinal with k=1 — the shape the 100 TB
    // claim in DedupOps' scaladoc rests on. Planned on the session every
    // main runs (Harness.session, GraftExtensions installed).
    val plan = physical(SparkEntry.queries("j64_dedup_canonical")(SparkSuite.graft, sf))
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      s"bounded-heap rewrite did not fire:\n$plan")
    assert(!plan.contains("Window ") && !plan.contains("WindowGroupLimit"),
      s"stock window machinery still present:\n$plan")
  }

  test("j63 dedup report: keyed aggregations only — no window over data, bounded exchanges") {
    // the savings report must stay two keyed aggregations over the label
    // table (per-cluster sizes, then the size histogram) plus the
    // canonical-length alignment join — never a window (a count-over or
    // rank spelling would sort every cluster) and never a cartesian
    val plan = physical(SparkEntry.queries("j63_dedup_report")(spark, sf))
    assert(!plan.contains("Window"), s"report must not window over data:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 3,
      s"expected ≤3 keyed exchanges (per-cluster agg, canonical align, histogram), got $hashExchanges\n$plan")
  }

  test("a25 verify replication: one cell-coordinate join, no window, no cartesian") {
    // VerifyReplication is honestly one full-outer shuffle join on the
    // cell coordinate — the expensive query a26 exists to scope. What
    // must NOT appear: any window (coordinates are unique, nothing needs
    // ranking) or a second data-sized join
    val plan = physical(SparkEntry.queries("a25_verify_replication")(spark, sf))
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected exactly the coordinate join, got $joins\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }
}
