package graft.ops

import graft.Tables
import graft.functions.{CosineSim, DotProduct, ProbeShingleHits, ShingleMd5, Shingles, Winnow}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.11 J — LLM-training-data pipeline operators (oracle-backed
  * subset: exact dedup, shingling, tokenization, TF-IDF, language/quality
  * stats, brute-force cosine top-k, vector norms, embedding join).
  *
  * Scale design: every op here is expressed as shuffle-partitioned
  * groupBy/join on a key (hash, token, doc_id, vec_id) — no driver-side
  * collection, no global windows. The brute-force cosine (j8) deliberately
  * broadcasts only the tiny probe set and streams the corpus side; the ANN
  * path for full corpus×corpus similarity at 100 TB is MinHashOps/AnnOps.
  */
object TextOps {

  /** Left-fold dot product of two float vectors in double precision —
    * deterministic across engines per R7 (float×float exact in double;
    * 0.0-init left fold == DuckDB list_reduce). The native codegen'd
    * [[graft.functions.DotProduct]] kernel, built as a typed column, so it
    * resolves on any session.
    */
  def dotCol(a: Column, b: Column): Column = DotProduct.of(a, b)

  /** Left-fold L2 norm (sqrt of the self dot product, same kernel). */
  def l2Col(a: Column): Column = sqrt(dotCol(a, a))

  /** j1: exact dedup — normalize, content-hash, keep one survivor per hash.
    * The canonical 100 TB exact-dedup shape: one shuffle on the hash key
    * with map-side partial aggregation.
    */
  def j1_dedup_exact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
      .agg(min("doc_id").as("keep"))
      .agg(count(lit(1)).as("kept"))

  /** j3: 5-char character shingles (the MinHash substrate): the number
    * of distinct shingles of each of the first 50 documents.
    */
  def j3_text_shingles: Q = (s, d) =>
    distinctShingleCounts(Tables.documents(s, d).where(col("doc_id") < 50))
      .orderBy(asc_nulls_last("doc_id"))

  /** (doc_id, shingles): each document's distinct 5-char shingle count,
    * as the size of [[DedupOps.shingles]] (native
    * [[graft.functions.Shingles]] + `array_distinct`) — map-only, compiled
    * into the scan's codegen stage. Equal to j3's earlier relational
    * spelling (`explode(transform(sequence(1, greatest(length - 4, 0)),
    * substr))` → shuffle → `countDistinct`) on every input: texts
    * shorter than 5 chars, multi-byte text, and a null text, whose
    * windows are all null and so count 0 (ShinglesSpec pins it).
    */
  private[graft] def distinctShingleCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("text").isNull, lit(0L))
        .otherwise(size(DedupOps.shingles(col("text"), 5)).cast("long")).as("shingles"))

  /** j4: tokenize + token counts — global top-20 tokens >2 chars. */
  def j4_text_tokens: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 2)
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc_nulls_last("tok")).limit(20)

  /** j5: TF-IDF from exact integer counts (deterministic scalar ln —
    * engine-specific hashing like HashingTF is deliberately avoided).
    * Round(,6) caps last-ulp libm ln() divergence between JVM and C.
    */
  def j5_text_tfidf: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 2)
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // tf already has one row per (doc, tok) — df is a second aggregation
    // over it, not a second pass over the corpus
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // ndocs from parquet footer metadata, not a second corpus scan:
    // doc_id is the fixture's unique key, so count(DISTINCT doc_id) IS
    // the row count every footer already carries (the r14 bench detail
    // billed j5 a whole extra corpus aggregation for this one scalar).
    // The oracle keeps its count(DISTINCT) spelling — same value.
    val ndocs = Tables.rowCountFromMeta(s, d, "documents")
    tf.join(broadcast(df), "tok")
      .where(col("doc_id") < 10)
      .select(col("doc_id"), col("tok"),
        round(col("tf").cast("double")
          * log(lit(ndocs.toDouble) / col("df").cast("double")), 6).as("tfidf"))
      .orderBy(asc_nulls_last("doc_id"), desc("tfidf"), asc_nulls_last("tok")).limit(50)
  }

  /** j6: language distribution stats. */
  def j6_text_langstats: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast(DecimalType(18, 0))).cast("long").as("chars"))
      .orderBy(asc_nulls_last("lang"))

  /** j7: quality-filter stats per source (length-band acceptance). */
  def j7_text_quality: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        count_if(col("n_chars").between(100, 400)).as("mid"),
        min("n_chars").as("mn"), max("n_chars").as("mx"))
      .orderBy(asc_nulls_last("source"))

  /** j16: corpus token statistics per language — whitespace token counting
    * ([[TextAnalysisOps.wsTokenCount]]) under the DuckDB oracle (the
    * spec-only text-analysis surface gains a driver-gated anchor).
    */
  def j16_token_stats: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), TextAnalysisOps.wsTokenCount(col("text")).as("t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("t").cast(DecimalType(18, 0))).cast("long").as("tokens"))
      .orderBy(asc_nulls_last("lang"))

  /** j17: per-document quality features (char length, alpha/punct ratios,
    * token count) — [[TextAnalysisOps.qualityFeatures]] columns that have
    * exact integer-ratio semantics on both engines (int/int division to
    * double is deterministic; no float accumulation anywhere).
    */
  def j17_quality_features: Q = (s, d) =>
    TextAnalysisOps.qualityFeatures(Tables.documents(s, d))
      .where(col("doc_id") < 100)
      .select("doc_id", "n_chars2", "alpha_ratio", "punct_ratio", "n_tokens")
      .orderBy(asc_nulls_last("doc_id"))

  /** j8: brute-force cosine top-5 — the exact baseline ANN (J9) is graded
    * against. The 10-row probe set is broadcast; the corpus side is
    * fanned out on a split-starved scan ([[ScaleOps.fanOut]]: its norms
    * and 10 cosines per row then run on every core) and never shuffles
    * at scale, where the fan-out is the identity.
    */
  def j8_sim_topk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    // norms precomputed once per row (not once per pair) — sqrt is
    // deterministic, so sim stays bit-identical to the inline form
    def withNorm(df: DataFrame): DataFrame = df.select(col("vec_id"),
      col("embedding"), l2Col(col("embedding")).as("e_norm"))
    val corpus = withNorm(ScaleOps.fanOut(emb))
    // the probes come from the unwidened scan: a 10-row broadcast side
    // needs no exchange of its own
    val probes = withNorm(emb.where(col("vec_id") < 10))
      .select(col("vec_id").as("pid"), col("embedding").as("p_emb"),
        col("e_norm").as("p_norm"))
    val sims = broadcast(probes).crossJoin(corpus)
      .where(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        (dotCol(col("p_emb"), col("embedding"))
          / (col("p_norm") * col("e_norm"))).as("sim"))
    val w = Window.partitionBy("pid").orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select("pid", "vec_id", "rn")
      .orderBy(asc_nulls_last("pid"), asc_nulls_last("rn"))
  }

  /** j10: L2 norms (R7 left fold). */
  def j10_vec_norms: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), l2Col(col("embedding")).as("l2"))
      .orderBy(asc_nulls_last("vec_id")).limit(100)

  /** j14: n-gram Jaccard near-dup ranking — exact 5-char-shingle Jaccard
    * of each probe doc against the corpus, top-5 most similar per probe.
    * Probe-broadcast shape like j8: the corpus side never shuffles, and
    * per-pair cost is one hash intersection of the two distinct-shingle
    * sets. Full corpus×corpus near-dup at 100 TB goes through MinHash+LSH
    * (MinHashOps); this is its exact oracle-checked counterpart.
    * Jaccard = |A∩B| / (|A|+|B|-|A∩B|) — one IEEE division of exact ints,
    * bit-identical across engines.
    *
    * Shingle generation goes through the native [[graft.functions.Shingles]]
    * expression — the declarative substr-per-position spelling is O(len²)
    * per document (see that class's doc) while the native walk is
    * O(len·k) and value-identical.
    *
    * The intersection is computed by the fused native
    * [[graft.functions.ProbeShingleHits]] expression (r6 VERDICT task 4):
    * one pass per document computes dn and the exact per-probe
    * intersection counts in-expression, emitting one row per INTERSECTING
    * probe instead of one per shingle — the r6 inverted-index spelling
    * (explode every corpus shingle through a broadcast join + partial
    * agg) moved ~125M rows at sf1 for counts this computes in place
    * (11.2 s → ~6 s at sf1; the remaining cost is the text scan + shingle
    * walk itself). Same exact integer |A∩B| and sizes into one IEEE
    * division, so the value is bit-identical to both earlier spellings
    * (A/B-checked with exceptAll = 0 in MiscSpec, which keeps the
    * inverted-index form as the reference).
    * Zero-intersection pairs are restored ONLY for probes that need them:
    * an intersecting pair has jaccard > 0, which strictly outranks any
    * zero pair under (jaccard DESC, doc_id ASC), so a probe with ≥ 5
    * intersecting documents can never admit a zero pair into its top 5.
    * Probes below that count get their zero pairs from a (deficient-probe
    * × doc-id) grid, anti-joined against the intersecting set. On a
    * realistic corpus no probe is deficient and the grid is empty — the
    * r5 sf1 bench showed the unconditional 10-probe × 500k-doc grid
    * left-join dominating j14 at 20.8 s for work whose result was all
    * discarded by the window. Value-identical to the unconditional-grid
    * spelling (MiscSpec A/B + sparse-corpus pad test + sf0.001 golden).
    */
  def j14_dedup_ngram: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), array_distinct(Shingles.of(col("t"), 5)).as("sh"))
    val probes = sh.where(col("doc_id") < 10)
      .select(col("doc_id").as("pid"), col("sh").as("psh"))
    // probe table: ≤10 query docs, a bounded client argument (the same
    // shingle pipeline as the corpus side, so strings match exactly)
    val probeTable: Seq[(Long, Seq[String])] = probes.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    // localCheckpoint: `inter` is tiny (only pairs sharing ≥1 shingle) but
    // feeds THREE consumers (pos, okPids, zero's anti-join); without
    // materialization each consumer re-runs the corpus-sized fused pass.
    // Eager + per-invocation, so Bench still times the real one-pass cost
    // (no cross-run cache).
    val inter = Tables.documents(s, d)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), explode(ProbeShingleHits.of(col("t"), 5, probeTable)).as("h"))
      .select(col("h.pid").as("pid"), col("doc_id"), col("h.c").as("c"),
        col("h.pn").as("pn"), col("h.dn").as("dn"))
      .where(col("doc_id") =!= col("pid"))
      .graftCkpt()
    // same IEEE division as the grid spelling (c ≥ 1 here, so > 0)
    val pos = inter.select(col("pid"), col("doc_id"),
      (col("c").cast("double")
        / (col("pn") + col("dn") - col("c"))).as("jaccard"))
    val okPids = inter.groupBy("pid").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 5).select("pid")
    val deficient = probes.select("pid").join(okPids, Seq("pid"), "left_anti")
    val zero = broadcast(deficient)
      .crossJoin(sh.select(col("doc_id")))
      .where(col("doc_id") =!= col("pid"))
      .join(inter.select("pid", "doc_id"), Seq("pid", "doc_id"), "left_anti")
      .select(col("pid"), col("doc_id"), lit(0.0).as("jaccard"))
    val pairs = pos.unionAll(zero)
    val w = Window.partitionBy("pid").orderBy(col("jaccard").desc, col("doc_id"))
    pairs.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select("pid", "doc_id", "rn", "jaccard")
      .orderBy(asc_nulls_last("pid"), asc_nulls_last("rn"))
  }

  /** j15: embedding-cosine near-dup ranking — the 50 most-similar embedding
    * pairs (a<b) under exact cosine, through the native codegen'd
    * graft_cosine expression. The fixture plants no true near-dups (max
    * pair cosine ≈ 0.46 measured), so the ranking form is the stable
    * declaration; a threshold form is a one-line WHERE. All-pairs is
    * bounded to a 1000-vector window — the unbounded-scale path is
    * AnnOps (LSH / IVF), recall-gated against this exact baseline.
    */
  def j15_dedup_cosine: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).where(col("vec_id") < 1000)
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    a.join(b, col("va") < col("vb"))
      .select(col("va"), col("vb"), CosineSim.of(col("ea"), col("eb")).as("sim"))
      .orderBy(desc("sim"), asc_nulls_last("va"), asc_nulls_last("vb")).limit(50)
  }

  /** j32: unigram language-model quality score — the CCNet-style
    * "perplexity under a corpus LM" filter (Wenzek et al. 2019, public
    * arXiv:1911.00359, which uses a Wikipedia KenLM; the unigram model
    * here trains on the corpus itself in one aggregation pass). Score =
    * mean negative log-probability of the document's tokens; high scores
    * flag gibberish/outlier documents.
    *
    * Determinism (rules R2/R7): a naive avg(-ln p) is a floating SUM in
    * arbitrary partition order. Instead each DISTINCT token's
    * -ln(c/n) is computed once from exact longs (one IEEE division, one
    * libm ln, round(,6) capping the last-ulp ln divergence — j5's trick),
    * then the per-doc total is an exact DECIMAL(18,6) sum (associative,
    * map-side-combinable at any parallelism) and ONE final division by
    * the token count.
    *
    * Scale: token frequencies are one groupBy(token) pass; the score join
    * keys tokens against a vocabulary-sized table (AQE broadcasts it when
    * it fits; vocabulary grows sublinearly in corpus size).
    */
  def j32_lm_score: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").as("n"))
    toks.join(cnt, "tok").crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(-log(col("c").cast("double") / col("n").cast("double")), 6).as("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ntok"),
        (sum(col("t").cast(DecimalType(18, 6))).cast(DecimalType(38, 6))
          .cast("double") / count(lit(1))).as("nll"))
      .orderBy(desc("nll"), asc_nulls_last("doc_id")).limit(100)
  }

  /** j41: bigram conditional-probability table — the n-gram LM TRAINING
    * pass (the count-and-normalize step KenLM/SRILM run before smoothing;
    * Heafield, WMT 2011, public): P(w2|w1) = c(w1,w2) / Σ_w c(w1,w).
    *
    * Scale design: ONE corpus explode produces the adjacent word pairs
    * positionally; counts are one (w1,w2) groupBy; the denominator is a
    * window sum partitioned by w1 over the COUNTS table — vocabulary²-
    * bounded, not corpus-bounded — so the conditional table costs one
    * corpus gram shuffle plus one vocab-sized w1 shuffle, with no second
    * corpus pass for the context counts. Determinism (R2/R7): both
    * counts are exact longs; p is ONE IEEE division round(,6)'d — the
    * j30/j32 recipe. Output bounded to the top-100 bigrams by count.
    */
  def j41_ngram_lm: Q = (s, d) => {
    val ws = Tables.documents(s, d)
      .select(split(lower(col("text")), " ").as("ws"))
    val pairs = ws.where(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cnt = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    cnt.withColumn("ctx", sum(col("c")).over(Window.partitionBy("w1")))
      .select(col("w1"), col("w2"), col("c"),
        round(col("c").cast("double") / col("ctx").cast("double"), 6).as("p"))
      .orderBy(desc("c"), asc_nulls_last("w1"), asc_nulls_last("w2"))
      .limit(100)
  }

  /** j43: per-document bigram perplexity against the corpus-trained j41
    * model — the LM-based quality filter closed end to end: j41 is the
    * TRAINING pass (count-and-normalize), this is the SCORING pass
    * (CCNet-style mean negative log-probability, arXiv:1911.00359, over
    * bigrams instead of j32's unigrams). The model is trained on the
    * corpus being scored, so every document bigram is in-vocabulary by
    * construction — no smoothing term to pin cross-engine.
    *
    * Determinism (the j32 recipe): counts are exact longs; each distinct
    * (doc, w1, w2)'s -ln(c/ctx) is ONE IEEE chain round(,6)'d into
    * DECIMAL(18,6), weighted by the exact per-doc bigram multiplicity,
    * summed exactly, ONE final division.
    *
    * Scale shape: the corpus is exploded ONCE — the per-doc bigram
    * support `dtf` (map-side-combined groupBy) is localCheckpointed and
    * feeds BOTH the model build (c(w1,w2) = Σ_doc k — an aggregation
    * rollup over the already-reduced support, never a second corpus
    * pass) and the scoring join; the model is vocabulary²-bounded with
    * one vocab-sized w1 window for the context sums; then one doc_id
    * aggregation.
    */
  /** The j43 core, reusable over any (doc_id, text) frame (j47 runs it
    * on the curated corpus): per-doc bigram count `nbi` and
    * length-normalized negative log likelihood `nll` against the bigram
    * model trained on the SAME frame. Docs with no bigram (<2 words)
    * get no row. Explodes its input exactly once (checkpointed support
    * feeds model and scoring).
    */
  def bigramNll(docs: DataFrame): DataFrame = {
    // fanOut: identity unless the input is a split-starved file scan
    // (j43's single-row-group fixture — the bigram explode then runs on
    // one core); j47's checkpointed intermediate passes through untouched
    val pairs = ScaleOps.fanOut(docs)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // tokenize/explode once: both consumers (model rollup + scoring
    // join) read the materialized support, not a re-derived corpus pass
    val dtf = pairs.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
      .graftCkpt()
    val model = dtf.groupBy("w1", "w2").agg(sum(col("k")).as("c"))
      .withColumn("ctx", sum(col("c")).over(Window.partitionBy("w1")))
    dtf.join(model, Seq("w1", "w2"))
      .select(col("doc_id"), col("k"),
        round(-log(col("c").cast("double") / col("ctx").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("t"))
      .groupBy("doc_id")
      .agg(sum(col("k")).cast("long").as("nbi"),
        (sum(col("t") * col("k")).cast(DecimalType(38, 6)).cast("double")
          / sum(col("k")).cast("double")).as("nll"))
  }

  def j43_lm_perplexity: Q = (s, d) =>
    bigramNll(Tables.documents(s, d))
      .orderBy(desc("nll"), asc_nulls_last("doc_id")).limit(100)

  /** j33: winnowing document fingerprint under the cross-engine gate —
    * the MOSS scheme (Schleimer/Wilkerson/Aiken, SIGMOD '03, public):
    * hash every k-char gram, keep the minimum hash of each sliding window
    * of w consecutive gram hashes, and emit the per-document distinct
    * fingerprint set (count + md5 of the sorted comma-joined values).
    * The gram hash is engine-portable by construction — the top 60 bits
    * of md5 (15 hex chars parsed base-16), which DuckDB spells
    * `('0x'||substr(md5(g),1,15))::BIGINT` — so both engines select
    * identical fingerprints and the hash gate pins the full set.
    *
    * Scale design: ZERO shuffles. Native O(len·k)
    * [[graft.functions.Shingles]] slicing, per-gram md5, the native O(n)
    * monotonic-deque [[graft.functions.Winnow]] sliding minimum, then
    * distinct+sort+digest — all inside the document's own row in one
    * whole-stage-codegen map pass; at 100 TB this is a map-only scan
    * whose output (one short digest row per doc) is the only thing that
    * moves. [[TextAnalysisOps.fingerprints]] (xxhash64, no hex
    * round-trip) is the production spelling; this query pins the same
    * algorithm cross-engine with the portable hash.
    */
  def j33_winnow_fingerprint: Q = (s, d) => {
    val k = 7
    val w = 4
    // fused native shingle+hash: bit-identical to
    //   transform(graft_shingles(t,k), g -> conv(substring(md5(g),1,15),16,10))
    // (Md5Props pins it) at ~1/5 the cost — the declarative chain paid
    // five allocating expressions per gram and made this map-only pass
    // the heaviest bench query (7.8 s at sf0.1) once toRdd stopped
    // .count() from pruning the fingerprint columns
    val fps = array_sort(array_distinct(Winnow.of(ShingleMd5.of(col("t"), k), w)))
    // fanOut: the fixture's single-row-group scan would run the whole
    // digest pass on one core; identity at production split counts.
    // Keyed on the output order, so the sort reuses its range exchange
    ScaleOps.fanOut(Tables.documents(s, d), asc_nulls_last("doc_id"))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .where(length(col("t")) >= k)
      .select(col("doc_id"),
        size(fps).cast("long").as("n_fp"),
        md5(concat_ws(",", transform(fps, _.cast("string")))).as("fp_md5"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  /** j34: PII scrubbing — the redaction pass of the public web-corpus
    * pipelines (C4 strips bad-word lines; RefinedWeb/FineWeb normalize
    * emails, IP addresses, and phone numbers to placeholder tokens before
    * training). The fixture corpus carries no PII by construction, so the
    * query first augments each document with synthetic PII derived
    * deterministically from doc_id (two emails, one IPv4, one phone —
    * both engines build byte-identical input, the j18/j29 fixture
    * pattern), then the operator under test runs: count each PII class
    * and chain-redact email → IPv4 → phone. The gate hash-matches md5 of
    * the fully scrubbed text, so the exact replacement semantics —
    * leftmost, non-overlapping, all occurrences — are pinned cross-engine
    * (Java regex vs RE2 agree on these alternation-free patterns).
    *
    * Scale design: map-only, like j33 — counting and redaction are
    * row-local codegen'd regexes; the sole exchange is the output order.
    * At 100 TB this pass rides the same scan as the rest of the quality
    * funnel and moves nothing but one digest row per document.
    */
  /** The PII patterns and the redaction chain, exposed for the spec
    * (idempotence, zero residual matches) and the streaming twin.
    * Alternation-free, backreference-free patterns: Java regex (Spark)
    * and RE2 (DuckDB) produce identical matches and replacements.
    */
  private[graft] val piiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val piiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val piiPhone = "\\+1-555-\\d{4}"

  private[graft] def piiScrub(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      piiEmail, "<EMAIL>"), piiIp, "<IP>"), piiPhone, "<PHONE>")

  /** Fixed-size token chunking with overlap — the splitter every RAG
    * index and long-context training pipeline runs before embedding /
    * packing (LangChain's token splitter, Pinecone/FAISS ingestion
    * guides; overlap keeps boundary context retrievable). Whitespace
    * tokens (the j4 convention), chunk `ci` covers tokens
    * `[ci·stride, ci·stride + k)`, chunk starts at every stride
    * boundary below n_toks so every token lands in ≥1 chunk and
    * interior tokens in ⌈k/stride⌉. Row-local: one explode of
    * ~n_toks/stride rows per doc, chunk text sliced from the SAME
    * row's token array — zero shuffle until a consumer aggregates.
    * All arithmetic integer; the chunk text itself is gated so the
    * slicing convention (1-based, length-clamped) is hash-pinned
    * cross-engine.
    */
  def chunkDocs(docs: DataFrame, k: Int, stride: Int): DataFrame = {
    require(k > 0 && stride > 0 && stride <= k,
      s"need 0 < stride <= k, got k=$k stride=$stride")
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n_toks"),
        explode(expr(s"sequence(0L, (CAST(n_toks AS BIGINT) - 1) DIV $stride)"))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(k.toLong), col("n_toks") - col("chunk_id") * stride)
          .as("n_chunk_toks"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(k)))
          .as("chunk_text"))
  }

  /** j65 — the chunker under the driver gate: 20-token windows, stride
    * 15 (5-token overlap), capped doc set for a bounded oracle.
    */
  def j65_chunk_overlap: Q = (s, d) =>
    chunkDocs(Tables.documents(s, d).where(col("doc_id") < 5000),
      k = 20, stride = 15)
      .orderBy(asc_nulls_last("doc_id"), asc_nulls_last("chunk_id"))

  def j34_pii_scrub: Q = (s, d) => {
    val email = piiEmail
    val ip = piiIp
    val phone = piiPhone
    val aug = concat(col("t"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or admin@test.org from "),
      (col("doc_id") % 256).cast("string"), lit(".10."),
      (col("doc_id") % 100).cast("string"), lit(".7 call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    // keyed fanOut (j33's): the regex scrub runs once, across all cores
    ScaleOps.fanOut(Tables.documents(s, d), asc_nulls_last("doc_id"))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), aug.as("a"))
      .select(col("doc_id"),
        regexp_count(col("a"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("a"), lit(ip)).cast("long").as("n_ips"),
        regexp_count(col("a"), lit(phone)).cast("long").as("n_phones"),
        md5(piiScrub(col("a"))).as("scrub_md5"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  /** j13: embedding ⟷ document metadata join (vec_id = doc_id). */
  def j13_embed_join: Q = (s, d) =>
    Tables.embeddings(s, d)
      .join(Tables.documents(s, d), col("vec_id") === col("doc_id"))
      .groupBy("label", "lang")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_last("label"), asc_nulls_last("lang"))

  /** j49: stupid-backoff trigram scoring of a HELD-OUT slice (Brants et
    * al., EMNLP 2007 "Large Language Models in Machine Translation",
    * §4: S(w₃|w₁w₂) = c₃/c₂ if the trigram was seen, else
    * 0.4·S(w₃|w₂), recursing to 0.4²·c₁/N and an OOV floor 0.4²/N) —
    * the LM family's real evaluation shape: j41/j43 train and score the
    * SAME corpus (every n-gram in-vocabulary by construction); here the
    * model trains on doc_id % 5 ≠ 0 and scores the held-out % 5 = 0
    * slice, so unseen trigrams/bigrams/unigrams genuinely occur and the
    * backoff chain is exercised at every level (the per-level hit
    * counts are part of the gated output — exact longs, so the
    * branch decision ITSELF is hash-pinned cross-engine, not just the
    * blended score).
    *
    * Determinism (the j43 recipe, extended): every count is an exact
    * long; each distinct (doc, w₁, w₂, w₃)'s S is one CASE of short
    * IEEE chains over literals both engines parse to identical doubles
    * (0.4, 0.16), its -ln round(,6)'d into DECIMAL(18,6), weighted by
    * the exact multiplicity, summed exactly, ONE final division.
    *
    * Scale shape: the train slice explodes once per order (three
    * n-gram count tables, all train-corpus-bounded and
    * map-side-combined); the held-out slice explodes ONCE into its
    * per-doc trigram support; scoring is five keyed left joins of the
    * support against the bounded model tables (AQE broadcasts the
    * small sides at fixture scale; at 100 TB they are vocab-bounded
    * builds); N is a one-value scalar.
    */
  def j49_lm_backoff: Q = (s, d) => {
    // no fanOut: measured 1.29 s -> 1.85 s at sf0.1 (r20) — the five
    // model/support branches each replay the round-robin exchange, which
    // costs more than the single-task explode it parallelizes
    val docs = Tables.documents(s, d)
    def toks(df: DataFrame) =
      df.select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
    def grams(df: DataFrame, n: Int): DataFrame = {
      val fields = (0 until n).map(j =>
        (i: Column) => element_at(col("ws"), i + j).as(s"w${j + 1}"))
      df.where(size(col("ws")) >= n)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("ws")) - (n - 1)),
          i => struct(fields.map(f => f(i)): _*))).as("g"))
        .select(col("doc_id") +: (1 to n).map(j => col(s"g.w$j")): _*)
    }
    val tr = toks(docs.where(pmod(col("doc_id"), lit(5)) =!= 0))
    // planted OOV tail (the j34 fixture pattern): ' zzqN scan' appends
    // one never-trained token then a guaranteed-trained one, so the
    // unigram-backoff and OOV-floor branches fire deterministically at
    // every SF (without it the fixture's shared vocabulary never
    // reaches below the bigram backoff and levels 3/4 would be
    // gate-dead)
    val he = toks(docs.where(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("text", concat(col("text"), lit(" zzq"),
        pmod(col("doc_id"), lit(50)).cast("string"), lit(" scan"))))
    val t1 = tr.select(explode(col("ws")).as("w"))
    val c1 = t1.groupBy("w").agg(count(lit(1)).as("cu"))
    val nTok = t1.count() // one bounded scalar: the train token total
    val c2 = grams(tr, 2).groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val c3 = grams(tr, 3).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))
    val dtf = grams(he, 3).groupBy("doc_id", "w1", "w2", "w3")
      .agg(count(lit(1)).as("k"))
    val joined = dtf
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("w1"), col("w2"), col("cb").as("cp")),
        Seq("w1", "w2"), "left")
      .join(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb").as("cbo")), Seq("w2", "w3"), "left")
      .join(c1.select(col("w").as("w3"), col("cu").as("cu3")), Seq("w3"), "left")
    val sCase =
      when(col("ct").isNotNull,
        col("ct").cast("double") / col("cp").cast("double"))
        .when(col("cbo").isNotNull,
          lit(0.4) * col("cbo").cast("double") / col("cu2").cast("double"))
        .when(col("cu3").isNotNull,
          lit(0.16) * col("cu3").cast("double") / lit(nTok).cast("double"))
        .otherwise(lit(0.16) / lit(nTok).cast("double"))
    val lvl = when(col("ct").isNotNull, 1)
      .when(col("cbo").isNotNull, 2)
      .when(col("cu3").isNotNull, 3).otherwise(4)
    joined
      .join(c1.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"), "left")
      .select(col("doc_id"), col("k"), lvl.as("lvl"),
        round(-log(sCase), 6).cast(DecimalType(18, 6)).as("t"))
      .groupBy("doc_id")
      .agg(sum(col("k")).cast("long").as("ntri"),
        sum(when(col("lvl") === 1, col("k")).otherwise(0)).cast("long").as("n_hit"),
        sum(when(col("lvl") === 2, col("k")).otherwise(0)).cast("long").as("n_bo2"),
        sum(when(col("lvl") === 3, col("k")).otherwise(0)).cast("long").as("n_bo1"),
        sum(when(col("lvl") === 4, col("k")).otherwise(0)).cast("long").as("n_oov"),
        (sum(col("t") * col("k")).cast(DecimalType(38, 6)).cast("double")
          / sum(col("k")).cast("double")).as("nll"))
      .orderBy(desc("nll"), asc_nulls_last("doc_id")).limit(100)
  }

  /** j51: DSIR data selection (hashed n-gram importance resampling, the
    * public recipe of Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): word bigrams hash into B=1024
    * buckets (portable top-60-bits-of-md5, the j33/j39 convention, so
    * DuckDB computes identical buckets); the target distribution is the
    * English subset (the stand-in for "formal target domain" at fixture
    * scale), the raw distribution the whole corpus; each doc scores the
    * sum over its grams of log(p_target/p_raw) with add-one smoothing,
    * and the top-100 by importance weight are selected.
    *
    * Scale shape: ONE corpus explode reduced immediately to per-(doc,
    * bucket) counts (`db`, ≤ docs×1024 rows, checkpointed once for its
    * two consumers); bucket marginals are a 1024-row aggregate; the
    * per-gram log-ratio table is 1024 rows broadcast back onto `db`; the
    * final score is one doc-keyed aggregation feeding TakeOrdered. No
    * stage is wider than the bigram explode, and nothing larger than
    * 1024 rows ever sits on the driver or broadcasts.
    *
    * Determinism: the log-ratio is rounded at 6dp into DECIMAL per gram
    * (libm `ln` drifts at the last ulp across engines — the j32/j49
    * convention); the doc score is an exact decimal dot product
    * `sum(k·lr)` with one final cast to DOUBLE.
    */
  def j51_dsir_select: Q = (s, d) => {
    val B = 1024
    val ws = ScaleOps.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("ws"))
    val db = ws.where(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "),
            element_at(col("ws"), i + 1)))).as("g"))
      .withColumn("b",
        pmod(conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long"), lit(B)))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("k"))
      .graftCkpt() // two consumers: bucket marginals + the scoring join
    val bc = db.groupBy("b").agg(
      sum(col("k")).cast("long").as("cr"),
      sum(when(col("lang") === "en", col("k")).otherwise(0)).cast("long").as("ct"))
    val totals = bc.agg(sum("cr").cast("long").as("nr"), sum("ct").cast("long").as("nt"))
    val lr = bc.crossJoin(broadcast(totals)).select(col("b"),
      round(log((col("ct") + 1).cast("double") / (col("nt") + B).cast("double"))
          - log((col("cr") + 1).cast("double") / (col("nr") + B).cast("double")), 6)
        .cast(DecimalType(18, 6)).as("lr"))
    db.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("k").cast("long").as("ngram"),
        sum(col("k") * col("lr")).cast(DecimalType(38, 6)).cast("double").as("w"))
      .orderBy(desc("w"), asc_nulls_last("doc_id"))
      .limit(100)
  }

  /** j52: fill-in-the-middle transform (the public FIM recipe of
    * Bavarian et al. 2022): for a deterministic half of the corpus
    * (independently-salted hash coin, the j20/j22 mechanism), split each
    * doc at two hash-derived character positions and re-render as
    * `<PRE>prefix<SUF>suffix<MID>middle` (PSM order); the other half
    * passes through raw. Wholly stateless and row-local — the transform
    * applies unchanged to a stream and costs one map pass at any scale.
    *
    * The gate covers EVERY doc without shipping the corpus: per mode,
    * the output is row counts, exact split-length sums, and an
    * order-independent modular sum of each rendered text's portable
    * md5 — any engine that renders any doc differently moves the sum.
    */
  def j52_fim_transform: Q = (s, d) => {
    val docs = Tables.documents(s, d).where(col("text").isNotNull)
    val L = length(col("text"))
    val c1 = lit(1) + SampleOps.mixBucket(col("doc_id") + 40501) % greatest(L, lit(1))
    val c2 = lit(1) + SampleOps.mixBucket(col("doc_id") + 81001) % greatest(L, lit(1))
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val fim = (SampleOps.mixBucket(col("doc_id") + 120011) % 100 < 50) && (L >= 2)
    val rendered = concat(
      lit("<PRE>"), col("text").substr(lit(1), lo - 1),
      lit("<SUF>"), col("text").substr(hi, L),
      lit("<MID>"), col("text").substr(lo, hi - lo))
    val out = when(fim, rendered).otherwise(col("text"))
    docs.select(
        when(fim, "psm").otherwise("raw").as("mode"),
        when(fim, lo - 1).otherwise(0).cast("long").as("plen"),
        when(fim, hi - lo).otherwise(0).cast("long").as("mlen"),
        when(fim, L - hi + 1).otherwise(0).cast("long").as("slen"),
        conv(substring(md5(out), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("mode")
      .agg(count(lit(1)).as("n"),
        sum("plen").cast("long").as("psum"),
        sum("mlen").cast("long").as("msum"),
        sum("slen").cast("long").as("ssum"),
        pmod(sum(col("h").cast(DecimalType(38, 0))), lit(1000000007))
          .cast("long").as("hmod"))
      .orderBy(asc_nulls_last("mode"))
  }

  /** j53: CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    * every doc with the corpus unigram LM (the j32 recipe), then split
    * each language's docs into head/middle/tail terciles by score —
    * the standard quality-stratification step before per-bucket
    * sampling. Output is the per-(lang, bucket) volume and mean score.
    *
    * Scale note: the exact tercile is a per-language ntile — a window
    * over ≤ #langs partitions, each corpus-sized at 100 TB. The scale
    * path is the CCNet one: compute the two per-lang score thresholds
    * from a bounded sample (or [[ScaleOps.distributedNtile]] keyed per
    * lang), then assign buckets statelessly; this query gates the exact
    * semantics those thresholds approximate.
    */
  def j53_ppl_buckets: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("tok"))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").cast("long").as("n"))
    // per-doc: exact decimal term sum + token count; the per-doc mean nll
    // exists only as the (bit-identical) ordering key — re-rounding a
    // DERIVED double at 6dp is engine-divergent at half-way boundaries
    // (Spark rounds the exact binary expansion, DuckDB multiply-rounds),
    // so the bucket metric below re-aggregates the EXACT sums instead
    val nll = toks.join(cnt, "tok").crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"),
        round(-log(col("c").cast("double") / col("n").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("term"))
      .groupBy("doc_id", "lang")
      .agg(sum("term").cast(DecimalType(38, 6)).as("ts"),
        count(lit(1)).as("ntok"))
      .withColumn("nll", col("ts").cast("double") / col("ntok"))
    val w = Window.partitionBy("lang").orderBy(col("nll").asc, col("doc_id").asc)
    nll.withColumn("bucket", ntile(3).over(w))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"),
        (sum("ts").cast(DecimalType(38, 6)).cast("double")
          / sum("ntok").cast("double")).as("tw_nll"))
      .orderBy(asc_nulls_last("lang"), asc_nulls_last("bucket"))
  }

  /** j55: per-doc token entropy — the Shannon entropy of each doc's
    * within-doc token distribution, a standard repetition/diversity
    * quality signal (low entropy ⇒ template or repeated-phrase text).
    * One corpus explode → (doc, token) counts → doc-keyed finish; the
    * doc total rides a window over the already-(doc,token)-clustered
    * counts. Per-term -p·ln(p) rounds at 6dp into DECIMAL (libm ulp,
    * the j32 convention); the doc sum is exact.
    */
  def j55_token_entropy: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val p = col("c").cast("double") / col("n").cast("double")
    counts
      .withColumn("n", sum("c").over(Window.partitionBy("doc_id")))
      .withColumn("term", round(-p * log(p), 6).cast(DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(max("n").cast("long").as("ntok"),
        count(lit(1)).as("nuniq"),
        sum("term").cast(DecimalType(38, 6)).cast("double").as("entropy"))
      .orderBy(desc("entropy"), asc_nulls_last("doc_id"))
      .limit(100)
  }

  def queries: Map[String, Q] = Map(
    "j49_lm_backoff" -> j49_lm_backoff,
    "j51_dsir_select" -> j51_dsir_select,
    "j52_fim_transform" -> j52_fim_transform,
    "j53_ppl_buckets" -> j53_ppl_buckets,
    "j55_token_entropy" -> j55_token_entropy,
    "j1_dedup_exact" -> j1_dedup_exact,
    "j16_token_stats" -> j16_token_stats,
    "j17_quality_features" -> j17_quality_features,
    "j3_text_shingles" -> j3_text_shingles,
    "j4_text_tokens" -> j4_text_tokens,
    "j5_text_tfidf" -> j5_text_tfidf,
    "j6_text_langstats" -> j6_text_langstats,
    "j7_text_quality" -> j7_text_quality,
    "j8_sim_topk" -> j8_sim_topk,
    "j10_vec_norms" -> j10_vec_norms,
    "j13_embed_join" -> j13_embed_join,
    "j14_dedup_ngram" -> j14_dedup_ngram,
    "j15_dedup_cosine" -> j15_dedup_cosine,
    "j32_lm_score" -> j32_lm_score,
    "j33_winnow_fingerprint" -> j33_winnow_fingerprint,
    "j41_ngram_lm" -> j41_ngram_lm,
    "j43_lm_perplexity" -> j43_lm_perplexity,
    "j34_pii_scrub" -> j34_pii_scrub,
    "j65_chunk_overlap" -> j65_chunk_overlap)
}
