package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Ranked retrieval — the search side of a data-curation stack (finding
  * the corpus documents most relevant to a probe query, e.g. targeted
  * decontamination or topic mining). Okapi BM25 (Robertson/Walker,
  * TREC-3 1994, public) with k1 = 1.2, b = 0.75.
  */
object RankOps {

  /** j35: BM25 top-10 per probe query, end to end from raw text: term
    * frequencies, document lengths, document frequencies, idf, the
    * length-normalized tf, and a per-query ranking.
    *
    * Probe queries are carved from the corpus itself ([[probeWorkload]]:
    * docs ≡ 0 mod 125, capped — a BOUNDED query batch at any corpus
    * size; a query's terms are that document's distinct tokens of
    * length ≥ 6) — deterministic and SF-stable, no fixture beyond the
    * tables.
    *
    * Determinism (R2/R7, the j32 recipe): every per-(query,doc,term)
    * contribution is ONE chain of IEEE double ops from exact integer
    * counts — identical AST shape on both engines — rounded at 6 dp and
    * cast to DECIMAL(18,6), so the per-(query,doc) score is an exact
    * decimal sum (associative, map-side combinable at any parallelism)
    * with one final cast to double.
    *
    * Scale shape: tf/dl/df are the standard one-shuffle corpus
    * aggregations; the query-term table and df join small-side broadcast,
    * so the corpus-sized tf never reshuffles for the match — only rows
    * whose term appears in SOME query (the candidate sliver) reach the
    * per-(query,doc) scoring shuffle; the final top-k is a bounded
    * row_number window per query.
    */
  /** Probe selection over an id column: the declared queries carve the
    * deterministic ≡ 0 mod 125 workload from the corpus; the serving
    * path ([[rrfServe]], StreamOps I23) selects the EXPLICIT probe ids
    * of the arriving request batch via a broadcast semi-join (never a
    * driver-side isin).
    */
  private type ProbeSel = (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame

  /** The declared probe WORKLOAD: the deterministic ≡ 0 mod 125 carve,
    * CAPPED at id < [[ProbeCap]] so the workload stays a BOUNDED query
    * batch as the corpus scales. The r18 sf10 gate caught the uncapped
    * rule red-handed: probe count grew linearly with the corpus, so the
    * probe×corpus legs (BM25 candidate sliver, brute cosine) grew
    * QUADRATICALLY — j42's semantic leg alone spilled 57 GB at sf10
    * (16k probes × 2M vectors). A production retrieval workload is
    * O(requests), never O(corpus); the cap keeps the mod-derived set
    * identical at every raw fixture SF (all raw doc_ids sit far below
    * it) and pins it to the unshifted copy's probes on the key-shifted
    * ×N fixtures (copies shift ids by 10⁷) — SF-stable, deterministic,
    * bounded. Shared with the I21/I23 serving streams so stream ≡ batch
    * pins stay exact.
    */
  private[graft] val ProbeCap = 50000L

  private[graft] def probeWorkload(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c % 125 === 0 && c < ProbeCap

  private val mod125: ProbeSel = (df, idCol) => df.where(probeWorkload(col(idCol)))

  private def idsSel(ids: org.apache.spark.sql.DataFrame): ProbeSel = (df, idCol) =>
    df.join(broadcast(ids.select(col("qid"))), col(idCol) === col("qid"), "left_semi")

  def j35_bm25_topk: Q = (s, d) => {
    val idx = rrfIndex(s, d)
    val scored = bm25Scored(s, d, mod125, idx)
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 10)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        col("score"))
      .orderBy(asc_nulls_last("qid"), asc_nulls_last("rnk"))
  }

  /** BM25 per-(query, doc) scores for the ≡0 mod 125 probe workload —
    * shared by j35 (ranked list) and j42 (lexical leg of the fusion).
    */
  /** The probe-INDEPENDENT halves of the retrieval state, so a serving
    * caller (StreamOps I23) can materialize them once ([[ckpt]]) and
    * answer every request batch against those indexes instead of
    * re-running the corpus explode + aggregations per trigger (the same
    * lifecycle bm25ScoreStream gives its lexical index). The declared
    * batch queries build them fresh — one run, nothing to reuse.
    */
  final case class RrfIndex(
      tf: org.apache.spark.sql.DataFrame,     // per-(doc, tok) tf
      dl: org.apache.spark.sql.DataFrame,     // per-doc length (map-only)
      stats: org.apache.spark.sql.DataFrame,  // 1 row: n_docs, toktot
      emb: org.apache.spark.sql.DataFrame)    // vec_id, embedding, e_norm

  def rrfIndex(s: org.apache.spark.sql.SparkSession, d: String): RrfIndex = {
    // ONE corpus explode by construction, and (r20) NO corpus-wide
    // exchange in the batch path at all:
    //  - tf stays the lazy (doc, tok) pre-aggregate; bm25Scored pushes
    //    its query-term semi-join BELOW this aggregation (tok is a
    //    grouping key), so only the candidate sliver ever crosses the
    //    groupBy exchange — the r19 shape shuffled the FULL corpus token
    //    multiset twice (groupBy + the dl window) before the broadcast
    //    join could drop non-query rows;
    //  - dl is a MAP-ONLY projection of the documents table:
    //    size(split(..)) counts exactly the rows the explode produces
    //    (split keeps empty strings, so both count token occurrences
    //    including empties — bit-equal to the old sum(tf) window);
    //  - df is a (qid,tok) window over the POST-JOIN candidate set —
    //    equal to global df because the join keeps every tf row of a
    //    query term — so it's computed on the tiny sliver;
    //  - qterms/stats are direct document-table scans (no explode;
    //    stats counts tokens with size(split(..)), vectorized).
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("dl"))
    val stats = Tables.documents(s, d).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(lower(col("text")), " "))).cast("long").as("toktot"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        TextOps.l2Col(col("embedding")).as("e_norm"))
    RrfIndex(tf, dl, stats, emb)
  }

  /** One BM25 term contribution (k1 = 1.2, b = 0.75) over the columns
    * `tf` (term count in the document), `df` (documents holding the term)
    * and `dl` (document length in tokens), given the corpus size `nDocs`
    * and mean document length `avgdl` as DOUBLE columns. Rounded to 6
    * places as DECIMAL(18,6), so the per-document sums are exact and
    * order-independent. j35/j42 pass corpus-stats columns, the I21
    * serving twin ([[graft.streaming.StreamOps.bm25ScoreStream]])
    * literals collected at setup.
    */
  private[graft] def bm25Term(nDocs: Column, avgdl: Column): Column = {
    val df = col("df").cast("double")
    val idf = log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))
    val tfd = col("tf").cast("double")
    // k1 + 1 = 2.2, 1 - b = 0.25
    val tfn = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    round(idf * tfn, 6).cast(DecimalType(18, 6))
  }

  private def bm25Scored(s: org.apache.spark.sql.SparkSession, d: String,
                         sel: ProbeSel,
                         idx: RrfIndex) = {
    val qterms = sel(Tables.documents(s, d), "doc_id")
      .select(col("doc_id").as("qid"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .where(length(col("tok")) >= 6)

    val nDocs = col("n_docs").cast("double")
    val contrib = bm25Term(nDocs, col("toktot").cast("double") / nDocs)

    // the semi-join (key = the grouping column tok) is pushed below tf's
    // partial aggregation by PushDownLeftSemiAntiJoin, so non-query
    // tokens die in the scan stage; the inner join then attaches qid to
    // the surviving sliver, and dl/stats ride broadcasts onto it
    idx.tf
      .join(broadcast(qterms.select("tok").distinct()), Seq("tok"), "left_semi")
      .join(broadcast(qterms), "tok")
      .withColumn("df", count(lit(1)).over(Window.partitionBy("qid", "tok")))
      .join(idx.dl, "doc_id")
      .crossJoin(broadcast(idx.stats))
      .groupBy("qid", "doc_id")
      .agg(sum(contrib).cast(DecimalType(38, 6)).cast("double").as("score"))
  }

  /** j42: hybrid retrieval via reciprocal-rank fusion (Cormack/Clarke/
    * Buettcher, SIGIR 2009, public; k = 60): the BM25 lexical top-20 and
    * the embedding-cosine semantic top-20 per probe are fused by
    * rrf = Σ_lists 1/(60 + rank), and the fused top-10 is returned.
    * This is the retrieval shape curation stacks actually serve — a
    * lexical index and a vector index answering the same query, merged
    * by rank so neither scale dominates.
    *
    * Probe workload: the j35 convention ([[probeWorkload]] — bounded); the semantic
    * leg exists only for probes whose doc_id has a row in `embeddings`
    * (vec_id ≡ doc_id by fixture construction), so a probe without an
    * embedding degrades to lexical-only — exactly RRF's missing-list
    * semantics (a full outer join on (qid, doc_id)). Self-matches are
    * excluded from both legs.
    *
    * Determinism: both legs rank with row_number over (score DESC,
    * doc_id) from scores already proven bit-equal cross-engine (BM25 =
    * j35's decimal-sum recipe; cosine = j8's R7 left fold); the fused
    * score is two IEEE divisions and ONE fixed-order addition of exact
    * rank integers — identical AST both engines.
    *
    * Scale shape: the lexical leg is j35's (corpus never reshuffles for
    * the match; candidate sliver only); the semantic leg broadcasts only
    * the probe vectors and streams the corpus embeddings (j8's shape —
    * at 100 TB the probe set is a bounded query workload, the fixture
    * derives it from doc_id only for SF-stable determinism); the fusion
    * join touches ≤ 40 rows per probe.
    */
  def j42_rrf_fusion: Q = (s, d) => rrfFused(s, d, mod125, rrfIndex(s, d))

  /** The serving entry: fused top-10 for an EXPLICIT batch of probe ids
    * (one `qid` column) — what each trigger of the I23 streaming twin
    * computes for its arriving requests. Identical formula and output
    * shape to j42; only the probe selection differs (broadcast semi-join
    * on the request ids instead of the deterministic mod rule), so
    * StreamingSpec can pin serve(ids of j42's probes) ≡ j42 row-for-row.
    * The `idx` overload answers against a CALLER-MATERIALIZED
    * [[RrfIndex]] — the serving sink checkpoints it once at setup so
    * per-trigger work is O(request sliver), not O(corpus).
    */
  def rrfServe(s: org.apache.spark.sql.SparkSession, d: String,
               probeIds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rrfServe(s, d, probeIds, rrfIndex(s, d))

  def rrfServe(s: org.apache.spark.sql.SparkSession, d: String,
               probeIds: org.apache.spark.sql.DataFrame,
               idx: RrfIndex): org.apache.spark.sql.DataFrame =
    rrfFused(s, d, idsSel(probeIds), idx)

  private def rrfFused(s: org.apache.spark.sql.SparkSession, d: String,
                       sel: ProbeSel, idx: RrfIndex): org.apache.spark.sql.DataFrame =
    fuseLegs(lexLeg(s, d, sel, idx), bruteSemLeg(sel, idx))

  /** The 100 TB semantic-leg swap: the SAME fusion with the IVF ANN list
    * ([[AnnOps.ivfTopK]]) in place of the brute-force cosine leg, so a
    * corpus too large to scan per probe serves fused results off the
    * coarse-quantized index. At nProbe = nlist IVF probing is exhaustive
    * and its exact `graft_cosine` re-rank bit-matches the brute leg
    * (k5/AnnSpec pins), so the fused output EQUALS j42's — AnnSpec pins
    * that equality; at production nProbe the recall-vs-cost curve in
    * docs/SCALE.md sizes the knob and the fusion itself still touches
    * ≤ 40 rows per probe.
    */
  def rrfFuseAnn(s: org.apache.spark.sql.SparkSession, d: String,
                 probeIds: org.apache.spark.sql.DataFrame,
                 nlist: Int = 16, nProbe: Int = 4): org.apache.spark.sql.DataFrame = {
    val idx = rrfIndex(s, d)
    val corpus = Tables.embeddings(s, d)
    val probes = idsSel(probeIds)(corpus, "vec_id")
    val sem = AnnOps.ivfTopK(s, corpus, probes, k = 20, nlist = nlist,
        nProbe = nProbe)
      .select(col("pid").as("qid"), col("vec_id").as("doc_id"),
        col("rn").as("srnk"))
    fuseLegs(lexLeg(s, d, idsSel(probeIds), idx), sem)
  }

  private def lexLeg(s: org.apache.spark.sql.SparkSession, d: String,
                     sel: ProbeSel, idx: RrfIndex): org.apache.spark.sql.DataFrame = {
    val wq = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    bm25Scored(s, d, sel, idx)
      .where(col("doc_id") =!= col("qid"))
      .withColumn("lrnk", row_number().over(wq)).where(col("lrnk") <= 20)
      .select(col("qid"), col("doc_id"), col("lrnk"))
  }

  private def bruteSemLeg(sel: ProbeSel, idx: RrfIndex): org.apache.spark.sql.DataFrame = {
    val emb = idx.emb
    val probes = sel(emb, "vec_id")
      .select(col("vec_id").as("qid"), col("embedding").as("p_emb"),
        col("e_norm").as("p_norm"))
    val ws = Window.partitionBy("qid").orderBy(col("sim").desc, col("doc_id"))
    broadcast(probes).crossJoin(emb)
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        (TextOps.dotCol(col("p_emb"), col("embedding"))
          / (col("p_norm") * col("e_norm"))).as("sim"))
      .withColumn("srnk", row_number().over(ws)).where(col("srnk") <= 20)
      .select(col("qid"), col("doc_id"), col("srnk"))
  }

  /** Fuse two (qid, doc_id, rank) lists by rrf = Σ 1/(60 + rank); a row
    * present in one list only keeps that list's term (FULL OUTER).
    */
  private def fuseLegs(lex: org.apache.spark.sql.DataFrame,
                       sem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val fused = lex.join(sem, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("lrnk")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("srnk")), lit(0.0))).as("rrf"))
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("frnk", row_number().over(wf)).where(col("frnk") <= 10)
      .select(col("qid"), col("frnk").cast("long").as("frnk"), col("doc_id"),
        col("rrf"))
      .orderBy(asc_nulls_last("qid"), asc_nulls_last("frnk"))
  }

  val queries: Map[String, Q] = Map(
    "j35_bm25_topk" -> j35_bm25_topk,
    "j42_rrf_fusion" -> j42_rrf_fusion)
}
