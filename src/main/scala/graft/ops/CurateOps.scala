package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the J-family operators composed the
  * way a pre-training data run uses them —
  *
  *   quality gate ([[TextAnalysisOps.qualityScore]])
  *     → exact dedup (normalized content hash, keep min doc_id)
  *       → near-dup dedup (MinHash+LSH clusters via [[DedupOps]],
  *         keep the min-doc_id representative per cluster)
  *
  * Every stage is shuffle-keyed (quality is a narrow per-row map; exact
  * dedup one shuffle on the content hash; near-dup the banded equi-join
  * + CC clustering DedupOps documents) and nothing collects to the
  * driver, so the same composition runs at any corpus size. CurateSpec
  * pins each gate on planted junk / exact-dup / near-dup documents.
  *
  * Operational note: the output should be MATERIALIZED (parquet /
  * checkpoint) before further pipeline stages consume it — the near-dup
  * stage's iterative clustering produces a deep lineage, and composing
  * another full pipeline on top of the live plan multiplies the tree
  * (a re-curation over the unmaterialized output OOMs plan
  * stringification long before execution; over a materialized snapshot
  * it is cheap and idempotent — CurateSpec pins exactly that).
  */
object CurateOps {

  /** Stage 1 — quality gate: composite [0,1] score, keep >= 0.75. */
  private def qualityStage(docs: DataFrame): DataFrame =
    docs.join(
      TextAnalysisOps.qualityScore(docs).where(col("keep")).select("doc_id"),
      "doc_id")

  /** Stage 2 — exact dedup: one survivor per normalized content hash
    * (same normalization as j1_dedup_exact).
    */
  private def exactStage(df: DataFrame): DataFrame =
    df.join(
      df.groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id"),
      "doc_id")

  /** Stage 3 — near-dup dedup: cluster the survivors
    * ([[DedupOps.minhashDedup]]), keep each cluster's min-doc_id
    * representative.
    */
  private def nearDupStage(df: DataFrame, threshold: Double): DataFrame = {
    val reps = DedupOps.minhashDedup(df, threshold).groupBy("cluster_id")
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    df.join(reps, "doc_id")
  }

  /** Documents surviving all three gates, original columns preserved. */
  def curate(docs: DataFrame, nearDupThreshold: Double = 0.7): DataFrame =
    nearDupStage(exactStage(qualityStage(docs)), nearDupThreshold)

  /** Optional stage 0 — language inference ([[LangIdOps]]): replace (or
    * fill) `lang` with the char-n-gram prediction trained on `labeled`
    * (a trusted labeled slice — curated reference data, or the subset of
    * the crawl whose labels are reliable), so the downstream
    * temperature-mix keys on DETECTED language when crawl labels are
    * missing or junk — exactly where CCNet runs fastText langid
    * (arXiv:1911.00359 §3.1). Off by default: the gated j47 DAG pins
    * the fixture's given labels; LangIdSpec pins planted-label recovery
    * through this stage.
    */
  def langIdStage(docs: DataFrame, labeled: DataFrame, n: Int = 2): DataFrame = {
    val pred = LangIdOps.predict(docs, LangIdOps.train(labeled, n))
      .withColumnRenamed("pred", "lang")
    // LEFT join: predict() emits no row for a doc whose text is shorter
    // than one n-gram (explodeGrams keeps length >= n), and an inner
    // join would silently DROP such docs from the curation stream
    // (ADVICE r14). Unpredictable docs survive with the fastText-style
    // "und" (undetermined) label instead of vanishing.
    docs.drop("lang").join(pred, Seq("doc_id"), "left")
      .withColumn("lang", coalesce(col("lang"), lit("und")))
  }

  /** Per-stage survival counts — the curation funnel report. One lineage,
    * intermediate stages cached while both their count and the next stage
    * consume them, then released.
    */
  def curationFunnel(docs: DataFrame, nearDupThreshold: Double = 0.7): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val kept1 = qualityStage(docs).cache()
    val kept2 = exactStage(kept1).cache()
    val rows = Seq(
      ("0_input", docs.count()),
      ("1_quality", kept1.count()),
      ("2_exact_dedup", kept2.count()),
      ("3_near_dedup", nearDupStage(kept2, nearDupThreshold).count()))
    kept1.unpersist(); kept2.unpersist()
    rows.toDF("stage", "docs")
  }

  /** j47 — the gated stages composed into ONE oracle-checked pipeline,
    * the DAG a recurring pre-training data run actually executes:
    *
    *   1. ADMIT (j46): the planted crawl batch (verbatim re-crawl slice,
    *      fresh docs, within-batch dup) admitted against the corpus
    *      through [[DedupOps.incrementalAdmit]]'s banded bloom; admitted
    *      docs arrive DIRTY — the j34 synthetic-PII tail is planted on
    *      them (crawl reality), corpus docs stay clean.
    *   2. PARAGRAPH DEDUP (j45): corpus ∪ admitted through
    *      [[RepetitionOps.paragraphDedupText]] — global keep-first at
    *      chunk grain, per-doc reassembly; fully-duplicated docs drop.
    *      (The fresh docs' bodies duplicate their source docs chunk for
    *      chunk, so this stage really cuts: they survive as their
    *      unique tails.)
    *   3. SCRUB (j34): [[TextOps.piiScrub]] over the cleaned text.
    *   4. LM FILTER (j43 → CCNet's use of it): bigram model trained on
    *      the scrubbed corpus itself, per-doc nll, DROP the worst
    *      decile — rank via [[ScaleOps.distributedNtile]] (no
    *      single-partition window), tile 10 = highest nll out. Docs
    *      with no bigram (<2 words) cannot be scored and drop too.
    *   5. MIX (j44 + j22): temperature-scaled target shares q_l ∝
    *      p_l^0.3 derived from the SURVIVING distribution, applied as
    *      deterministic per-lang subsampling at rate (q_l/p_l) /
    *      max_m(q_m/p_m) through the j20/j22 hash coin (salt 4242) —
    *      the dominant language downsamples, the rarest passes whole.
    *   6. PACK (j21 + j24): whitespace token counts, distributed
    *      exclusive prefix sum in doc_id order, ~4096-token shards,
    *      per-shard payload md5.
    *
    * The DuckDB twin recomputes the ENTIRE DAG sketch-free, so the gate
    * proves every stage boundary (which docs survive, with which bytes)
    * cross-engine — the bloom layer, the distributed ntile, and the
    * distributed cumsum must all be semantically invisible.
    *
    * Scale shape: each stage is the gated operator's own shape — the
    * corpus explodes once per text-granularity stage (chunks in 2,
    * bigrams in 4, nothing in 3/5, token count in 6), every join is
    * keyed on doc_id or broadcast (the 5-row mix table, the band
    * blooms), and the only global orders are the two distributed
    * range-partition forms. Determinism: every floating value the
    * pipeline BRANCHES on is either the j43 nll recipe (round-into-
    * DECIMAL, exact sum, one division) or a floor of a product of
    * bit-equal doubles (mix cut) — both engines agree exactly.
    */
  def j47_curate_e2e: Q = (s, d) => {
    def h(c: Column): Column = md5(lower(trim(c)))
    val docs = Tables.documents(s, d).select("doc_id", "lang", "text")

    // -- 1. admit ---------------------------------------------------
    val incoming = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text"))
      .unionByName(docs.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" fresh "), col("doc_id")).as("text")))
      .unionByName(docs.where(col("doc_id") % 14 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" fresh "), col("doc_id")).as("text")))
      .graftCkpt() // consumed by the admit classify AND the join-back
    val admittedIds = DedupOps.incrementalAdmit(
      docs.select(h(col("text")).as("h")).distinct(),
      incoming.select(col("doc_id"), h(col("text")).as("h")),
      // footer-metadata upper bound on |distinct hashes| — no count() job
      nExistHint = Some(Tables.rowCountFromMeta(s, d, "documents")))
    val piiTail = concat(
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or admin@test.org from "),
      (col("doc_id") % 256).cast("string"), lit(".10."),
      (col("doc_id") % 100).cast("string"), lit(".7 call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val admitted = incoming
      .join(admittedIds.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), concat(col("text"), piiTail).as("text"))
    val input = docs.unionByName(admitted)

    // -- 2. paragraph dedup -----------------------------------------
    val clean = RepetitionOps.paragraphDedupText(input)
      .join(input.select("doc_id", "lang"), Seq("doc_id"))

    // -- 3. scrub ---------------------------------------------------
    val scrubbed = clean.withColumn("text", TextOps.piiScrub(col("text")))
      .graftCkpt() // consumed by the LM scorer AND the post-filter join

    // -- 4. LM filter: drop the worst decile by nll -----------------
    // ckpt: distributedNtile evaluates its input THREE times (boundary
    // sketch, per-bucket totals, the ranking window) — materializing the
    // (doc_id, nbi, nll) score table (one short row per doc) turns two
    // of those into reads instead of re-running the bigram model join +
    // per-doc aggregation each time (r20; guide §1.2 "don't compute
    // things you throw away")
    val scored = TextOps.bigramNll(scrubbed).graftCkpt()
    // plain columns (never SortOrder): distributedNtile builds range
    // comparisons from these; nll/doc_id are non-null so asc ≡ the
    // oracle's NULLS LAST
    val kept = ScaleOps.distributedNtile(scored,
        Seq(col("nll"), col("doc_id")), 10, s.sparkContext.defaultParallelism)
      .where(col("tile") <= 9)
      .select("doc_id")
      .join(scrubbed, Seq("doc_id"))

    // -- 5. temperature mix -----------------------------------------
    // ≤|languages|-row frame, materialized once; the three normalizers
    // (ntot, wtot, rmax) are crossJoin(broadcast(agg)) over it —
    // identical exact sums/max to the former empty-partitionBy windows,
    // without WindowExec's single-partition warning storm (VERDICT r12)
    val byLang = kept.groupBy("lang").agg(count(lit(1)).as("n")).graftCkpt()
    val withP = byLang
      .crossJoin(broadcast(byLang.agg(sum(col("n")).as("ntot"))))
      .withColumn("p", col("n").cast("double") / col("ntot").cast("double"))
      .withColumn("w", round(pow(col("p"), 0.3), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    val withRate = withP
      .crossJoin(broadcast(withP.agg(sum(col("w"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 6)).as("wtot"))))
      .withColumn("q", col("w").cast("double") / col("wtot").cast("double"))
      .withColumn("rate", col("q") / col("p"))
    val cuts = withRate
      .crossJoin(broadcast(withRate.agg(max(col("rate")).as("rmax"))))
      .withColumn("cut", floor(col("rate") / col("rmax") * 1000000L))
      .select("lang", "cut")
    val mixed = kept.join(broadcast(cuts), Seq("lang"))
      .where(SampleOps.mixBucket(col("doc_id") + 4242L) % 1000000L < col("cut"))

    // -- 6. pack ----------------------------------------------------
    val toks = mixed.select(col("doc_id"), col("text"),
      TextAnalysisOps.wsTokenCount(col("text")).cast("long").as("tok"))
    ScaleOps.distributedCumsum(toks, Seq(col("doc_id")), col("tok"),
        s.sparkContext.defaultParallelism)
      .withColumn("shard", expr(s"(cum - tok) DIV ${SampleOps.ShardTokens}"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("toks"),
        md5(concat_ws("<DOC>", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")))).as("payload_md5"))
      .orderBy(asc_nulls_last("shard"))
  }

  val queries: Map[String, Q] = Map("j47_curate_e2e" -> j47_curate_e2e)
}
