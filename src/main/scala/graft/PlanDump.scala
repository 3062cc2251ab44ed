package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Regenerates docs/PLANS.md: the physical plans (`explain("formatted")`)
  * of the headline queries, so the plan shapes the engine is designed
  * around — pushdown, pruning, broadcast, partial aggregation, bounded-heap
  * top-k, codegen spans — are reviewable without running Spark.
  * `sbt "runMain graft.PlanDump"` after changing any of these queries.
  *
  * `sbt "runMain graft.PlanDump <round> <suffix> <q1,q2,...> [sfDir]"`
  * instead writes each named query's plan to
  * plans/<round>/<query>_<suffix>.txt — before/after plan evidence for an
  * optimization round.
  */
object PlanDump {

  val headliners: Seq[(String, String)] = Seq(
    "b2_filter_pred" -> "predicates pushed to the parquet scan (PushedFilters), 1-column read",
    "b9_rowkey_range" -> "rowkey BETWEEN on the padded composite key reaches the events scan",
    "c1_join_inner" -> "flagship 3-way join-agg: partial+final hash agg, whole-stage codegen",
    "c2_join_broadcast" -> "dimension side broadcast (BroadcastHashJoin), no shuffle of the fact side",
    "f2_topk" -> "global top-k plans TakeOrderedAndProject, never a full sort",
    "e9_win_topk_group" -> "window top-k rewritten to the custom bounded-heap TopKPerGroup operator",
    "j8_sim_topk" -> "brute cosine: probe side broadcast, from the unwidened scan; the corpus side is fanned out (round-robin) on a split-starved scan and never shuffles at scale; the norms and the numerator are the native graft_dot kernel, one fused loop per row inside whole-stage codegen (no lambda functions)",
    "j14_dedup_ngram" -> "exact n-gram Jaccard by inverted index: broadcast shingle equi-join + partial-agg intersection count, localCheckpointed once for its three consumers; zero-intersection pairs padded only for probes with <5 intersecting docs (positive jaccard always outranks zero)",
    "a5_bulkload_splits" -> "bulk-load split points via distributed exact ntile (no single-partition window): deterministic range-bucket expression + pruned totals pass + broadcast offsets — no checkpoint materialization, full data crosses one exchange",
    "j21_pack_shards" -> "token-budget sharding over the distributed exact cumsum: deterministic bucket expression + narrow localCheckpoint (tokenize once) + broadcast offsets, per-_pid windows only",
    "j23_sample_stratified" -> "stratified exact-k sampling: row_number <= k rewrites to bounded-heap TopKPartial/TopKFinal, column-pruned scan",
    "j29_decontaminate" -> "decontamination: eval-gram side broadcast (BroadcastHashJoin), the corpus gram stream never shuffles before the per-doc count",
    "j31_dedup_cut" -> "substring-cut surgery: ONE window-keyed exchange carries both the occurrence count and the global first-occurrence rank (two window functions, one partition pass); interval union + splice re-key by doc_id only",
    "b21_reverse_scan" -> "reversed HFile scan: per-region limited backward block walk feeds a tiny candidate RDD; the global last-K is TakeOrderedAndProject over <= limit rows per region — no sort exchange",
    "j41_ngram_lm" -> "bigram LM table: one corpus gram exchange for the (w1,w2) counts, then a vocabulary-sized w1 window for the context sums — the conditional probabilities never re-touch the corpus",
    "j42_rrf_fusion" -> "hybrid retrieval: the BM25 leg keeps j35's candidate-sliver shape, the cosine leg broadcasts only probe vectors, and the fusion joins two <= 20-rows-per-probe lists — neither corpus side reshuffles for the merge",
    "j43_lm_perplexity" -> "bigram perplexity: zero Generate in the scoring plan — the localCheckpointed per-doc bigram support feeds both the model rollup and the scoring join, so the corpus explodes exactly once at materialization",
    "a20_region_merge" -> "region merge: both views are ONE RDD scan each (one task per merged region — no union-of-legs wave-serialization), feeding a single partial+final hash agg; the merge itself is metadata-only so no write stage appears beyond the fixture bulk load",
    "a21_wal_replicate" -> "WAL-shipping replication: the gated read is one RDD scan of the replica's segments (one task per segment) into a partial+final hash agg; the ship is an embarrassingly-parallel names-only RDD job that never enters this plan",
    "b32_cell_ttl" -> "cell TTL: one RDD scan of the tagged store (ttl decoded per cell), expiry predicate evaluated BEFORE the coordinate window shuffle, one window exchange then partial+final agg",
    "j60_langid" -> "char-n-gram langid: vocabulary-bounded profile aggregations, broadcast profile/langs/defaults joins on the (doc,gram) pre-aggregate (corpus shuffles only on its own doc-keyed aggs), bounded-heap TopKPerGroup argmax",
    "a22_namespace_admin" -> "namespace admin: per-table clone reads union without cross-table shuffle, one (table,qualifier) agg, the metadata listing joined as a broadcast",
    "j47_curate_e2e" -> "end-to-end curation (admit→paragraph-dedup→scrub→LM-filter→mix→pack): each stage keeps its gated operator's shape — the corpus explodes once per text-granularity stage (the chunk Generate over the admit union, the bigram Generate over the CHECKPOINTED scrub output — never re-derived; the LM stage's support feeds model and scoring from one materialization), scrub is map-only, the mix table is a broadcast 5-row join, and the two global orders are the distributed ntile/cumsum range-exchange forms; no stage re-explodes or re-reads an earlier stage's input",
    "a32_server_drain" -> "graceful-stop drain plan: everything past the placement checkpoint is region METADATA — no FileScan, survivor/dest tables broadcast, serpentine rank window partitioned by group; the coverage raise rides the final projection behind LEFT joins (AQE-safe)",
    "j66_split_leakage_safe" -> "dedup-aware split: the duplicate-subgraph CC's edges-only exchanges, then ONE label left-join onto the corpus and a row-local cluster hash — the split itself adds no corpus shuffle past the dedup pass",
    "a35_wal_split_recovery" -> "WAL-split recovery: the gated read is per-survivor RDD segment scans unioned into one partial+final hash agg (the a21 shape); the split itself is one demux pass over the dead log — broadcast O(regions) assignment join, one (host, rowkey) range exchange, streaming per-host writers — that never enters this read plan",
    "a36_locality_placement" -> "locality-weighted placement: ONE map-side-combining groupBy reduces data to three-factor region metadata (partial+final agg), the cost-rank window is global over that bounded table — the locality credit is arithmetic on the aggregate row, no extra pass or join",
    "a37_quota_throttle" -> "quota throttle plan: O(scopes) metadata end to end — the listing rows cross-join one broadcast total, the ladder is a CASE projection, and the double-apply upsert is an anti-join + union of the same tiny plan (no FileScan anywhere past the fixture bulk load)")

  private def formatted(spark: SparkSession, name: String, sf: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    require(Set(0, 3, 4)(args.length),
      "usage: PlanDump [<round> <suffix> <q1,q2,...> [sfDir]]")
    val spark = Harness.session(4)

    val sf = "/root/testdata/sf0.001"
    if (args.isEmpty) writePlansMd(spark, sf)
    else {
      val Array(round, suffix, names) = args.take(3)
      val dir = args.lift(3).getOrElse(sf)
      Files.createDirectories(Paths.get(s"plans/$round"))
      names.split(',').foreach { name =>
        val out = s"plans/$round/${name}_$suffix.txt"
        Files.writeString(Paths.get(out), formatted(spark, name, dir))
        println(s"wrote $out")
      }
    }
    spark.stop()
  }

  private def writePlansMd(spark: SparkSession, sf: String): Unit = {
    // hand-written adjudication notes live after this marker in the
    // current file; carry them through the regeneration verbatim
    val marker = "<!-- hand-written notes below — PlanDump preserves everything after this marker -->"
    val out = Paths.get("docs/PLANS.md")
    val preserved =
      if (Files.exists(out)) {
        val old = Files.readString(out)
        val i = old.indexOf(marker)
        if (i >= 0) "\n" + old.substring(i) else ""
      } else ""
    val sb = new StringBuilder
    sb ++= "# PLANS — physical plan shapes of the headline queries\n\n"
    sb ++= "Generated by `sbt \"runMain graft.PlanDump\"` (sf0.001, local[4], the\n"
    sb ++= "same TopKPerGroup extensions Verify/Bench run with). The shapes below\n"
    sb ++= "are pinned by PlanSpec/TopKStrategySpec; this file just makes them\n"
    sb ++= "reviewable. At 100 TB the same plans hold with more partitions: scans\n"
    sb ++= "split by maxPartitionBytes, shuffles by spark.sql.shuffle.partitions,\n"
    sb ++= "broadcasts stay broadcasts (dims are small by construction), and AQE\n"
    sb ++= "re-coalesces/skew-splits at runtime.\n"
    headliners.foreach { case (name, why) =>
      sb ++= s"\n## $name\n\n$why\n\n```\n${formatted(spark, name, sf)}```\n"
    }
    Files.writeString(out, sb.toString + preserved)
    println(s"wrote docs/PLANS.md (${headliners.size} plans"
      + (if (preserved.nonEmpty) " + preserved notes)" else ")"))
  }
}
