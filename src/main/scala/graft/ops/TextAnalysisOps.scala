package graft.ops

import graft.functions.{Shingles, Winnow}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation (builder mandate alongside
  * SURVEY.md §2.11): language-ID, quality scoring, token counting,
  * document fingerprinting. All stock codegen'd expressions — each
  * operator is a narrow per-row map (zero shuffles), so it composes into
  * scan-stage pipelines at any scale.
  */
object TextAnalysisOps {

  // ---------------------------------------------------------------- lang id

  /** Tiny public stopword/function-word profiles (the classic n-gram/
    * stopword language-ID heuristic). Scores are per-token exact matches;
    * CJK is detected by codepoint range since it has no space-delimited
    * stopwords.
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "with", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "von", "mit", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una", "por", "con"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "pour", "que"))

  /** Explicit whitespace class used for every tokenizer split: Java's \s
    * includes vertical tab (\x0B) while DuckDB/RE2's does not, so the
    * engine-defined class could hash-diverge on uncommon whitespace. The
    * explicit class means the same thing in both engines (ADVICE r2).
    */
  val wsClass = "[ \\t\\n\\r\\f]+"

  /** Fraction of tokens that hit a given stopword list. */
  def stopwordRatio(text: Column, words: Seq[String]): Column = {
    val toks = split(lower(text), wsClass)
    size(filter(toks, t => t.isin(words: _*))).cast("double") /
      greatest(size(toks), lit(1))
  }

  /** Fraction of characters in the CJK unified range. */
  def cjkRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\u4e00-\\u9fff]", ""))).cast("double")
      ./(greatest(length(text), lit(1)))

  /** Heuristic language-ID: argmax stopword-profile score, with a CJK
    * codepoint-range override. Ties broken by profile order (deterministic).
    */
  def langId(text: Column): Column = {
    val scored = stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordRatio(text, words).as("score"), lit(lang).as("lang"))
    }
    when(cjkRatio(text) > 0.3, "zh")
      .otherwise(array_max(array(scored: _*)).getField("lang"))
  }

  /** documents + predicted lang column. */
  def withLang(docs: DataFrame): DataFrame =
    docs.withColumn("lang_pred", langId(col("text")))

  // ------------------------------------------------------------- quality

  /** Heuristic quality features: length, alpha ratio, punctuation ratio,
    * stopword ratio, mean token length, repetition (distinct/total token
    * ratio) — the standard pre-training quality-filter feature set.
    * Exposed as named EXPRESSIONS so callers can compute them inline on
    * a full row (a map-only filter) as well as via the projected frame.
    */
  def qualityFeatureExprs: Seq[(String, Column)] = {
    val toks = split(lower(col("text")), wsClass)
    Seq(
      "n_chars2" -> length(col("text")),
      "alpha_ratio" -> (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
        / greatest(length(col("text")), lit(1))),
      "punct_ratio" -> (length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("double")
        / greatest(length(col("text")), lit(1))),
      "stop_ratio" -> stopwordRatio(col("text"), stopwordProfiles("en")),
      "distinct_ratio" -> (size(array_distinct(toks)).cast("double")
        / greatest(size(toks), lit(1))),
      "n_tokens" -> size(toks))
  }

  def qualityFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: qualityFeatureExprs.map {
      case (n, e) => e.as(n)
    }: _*)

  /** Composite [0,1] quality score + keep/drop flag, tunable bounds. */
  def qualityScore(docs: DataFrame, minChars: Int = 50, maxChars: Int = 100000): DataFrame =
    qualityFeatures(docs).select(col("doc_id"),
      (when(col("n_chars2").between(minChars, maxChars), 0.25).otherwise(0.0)
        + when(col("alpha_ratio") > 0.6, 0.25).otherwise(0.0)
        + when(col("punct_ratio") < 0.1, 0.25).otherwise(0.0)
        + when(col("distinct_ratio") > 0.3, 0.25).otherwise(0.0)).as("quality"))
      .withColumn("keep", col("quality") >= 0.75)

  // ---------------------------------------------------------------- tokens

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(split(trim(text), wsClass))

  /** BPE-ish subword-regex token count: word pieces, numbers, punctuation
    * counted separately (the GPT-2 pre-tokenizer shape, simplified).
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])"),
      t => t =!= "" && t =!= " "))

  /** Per-doc token counts both ways (one scan, no shuffle). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      wsTokenCount(col("text")).as("ws_tokens"),
      bpeishTokenCount(col("text")).as("bpe_tokens"))

  // ----------------------------------------------------------- fingerprint

  /** Winnowing document fingerprint (rolling hash): hash every k-gram,
    * then keep the min hash of each sliding window of w hashes — the
    * standard plagiarism/fingerprint scheme; output is a small sorted
    * distinct set per doc usable as an index key.
    */
  def fingerprints(docs: DataFrame, k: Int = 7, w: Int = 4): DataFrame = {
    // native O(len·k) k-gram slicing (vs O(len²) substr-per-position),
    // hashed in position order, then the native O(n) monotonic-deque
    // sliding minimum (the slice-per-window HOF spelling measured minutes
    // per 500k docs at the 100× smoke)
    val grams = transform(Shingles.of(col("text"), k), sh => xxhash64(sh))
    val windows = Winnow.of(grams, w)
    docs.select(col("doc_id"),
      array_sort(array_distinct(windows)).as("fingerprint"))
  }

  /** Row-local quality-funnel projection shared by the batch path and the
    * I19 streaming twin: PII-scrubbed digest ([[TextOps.piiScrub]]) plus
    * winnowing fingerprint count, both computed entirely inside the
    * document's own row — micro-batch invariant by construction, the
    * j33/j34 map-only shape as one scan-stage pipeline.
    */
  def scrubFingerprint(docs: DataFrame): DataFrame = {
    val grams = transform(Shingles.of(lower(col("text")), 7), sh => xxhash64(sh))
    docs.select(col("doc_id"),
      md5(TextOps.piiScrub(lower(col("text")))).as("scrub_md5"),
      size(array_distinct(Winnow.of(grams, 4))).cast("long").as("n_fp"))
  }
}
