package perfbench

/** The benchmark's workloads: each a fixed multiset of declared query
  * names, issued in a seeded order. The seed permutes each pass; it never
  * changes which queries run, so every seed measures the same work.
  */
object Workloads {
  val mixes: Map[String, Seq[String]] = Map(
    // HBase-model cell reads (scans, rowkey prefix and fuzzy filters,
    // tombstone masking, a join, an aggregate, a top-k window), one
    // balancer plan, and one HFile bulk write read back by a reversed
    // range scan: per-query overhead plus the graft.sources write path
    "hbase" -> Seq(
      "b2_filter_pred", "b4_rowkey_prefix", "b15_tombstone_mask", "b19_fuzzy_rowkey",
      "c3_join_left", "d2_agg_avg", "e9_win_topk_group", "a24_region_placement",
      "b21_reverse_scan"),
    // LLM-data curation: exact, shingle, MinHash and paragraph dedup,
    // Jaccard verification, embedding top-k and PII scrubbing
    "llm-curate" -> Seq(
      "j1_dedup_exact", "j3_text_shingles", "j40_minhash_portable", "j61_jaccard_verify",
      "j8_sim_topk", "j45_dedup_paragraphs", "j34_pii_scrub"))

  def mix(name: String): Seq[String] =
    mixes.getOrElse(name, throw new IllegalArgumentException(
      s"unknown workload $name (known: ${mixes.keys.toSeq.sorted.mkString(", ")})"))
}
