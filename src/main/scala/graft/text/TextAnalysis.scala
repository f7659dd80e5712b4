package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language identification, and
  * document fingerprinting — all pure Catalyst `Column` expressions
  * (zero UDFs, whole-stage codegen end-to-end), so they run as a single
  * projection over the scan at any scale.
  *
  * Semantics grounding in the reference: normalize-before-compute
  * (uppercase/strip at reference app/.../TotpUtil.kt:26,
  * rust/src/lib.rs:185) and hash-based fingerprint-then-compare
  * (rust/src/lib.rs:161-172).
  */
object TextAnalysis {

  /** Canonical text normalization: lowercase + collapse whitespace. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  // -------------------------------------------------------------------
  // Token counting
  // -------------------------------------------------------------------

  /** Whitespace token count (0 for empty/blank). */
  def tokenCountWs(c: Column): Column =
    when(c.isNull, lit(null))
      .when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish token count: alpha runs, digit runs, and single
    * non-alphanumeric marks each count as one token (a cheap stand-in
    * for a byte-pair tokenizer's pre-tokenization split).
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCountBpe(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(regexp_count(c, lit(bpeTokenPattern)))

  // -------------------------------------------------------------------
  // Quality scoring
  // -------------------------------------------------------------------

  /** English-ish stopword set used for both quality and language ID. */
  val stopwordsEn = Seq("the", "and", "of", "to", "in", "is", "that", "for", "it", "with", "a")
  val stopwordsDe = Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu")
  val stopwordsEs = Seq("el", "la", "los", "que", "y", "en", "un", "por", "con", "se")
  val stopwordsFr = Seq("le", "la", "les", "et", "des", "en", "un", "du", "est", "que")

  private def wordSetPattern(ws: Seq[String]): String =
    ws.mkString("\\b(", "|", ")\\b")

  /** Count of stopword occurrences (case-insensitive via pre-lowering). */
  def stopwordCount(c: Column, words: Seq[String]): Column =
    regexp_count(lower(c), lit(wordSetPattern(words)))

  /** The composite quality score in [0, 1] as ONE expression —
    * reusable inside short-circuiting conditionals. Formula is
    * fixed (mirrored verbatim in the DuckDB oracle):
    * 0.4·alpha_ratio + 0.3·min(1, stop_ratio·4) + 0.3·min(1, n_tokens/50).
    */
  def qualityScore(t: Column): Column = {
    val nChars = length(t)
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", ""))
    val nTok = tokenCountWs(t)
    val nStop = stopwordCount(t, stopwordsEn)
    val alphaRatio = when(nChars > 0, nAlpha.cast("double") / nChars).otherwise(lit(0d))
    val stopRatio = when(nTok > 0, nStop.cast("double") / nTok).otherwise(lit(0d))
    lit(0.4) * alphaRatio +
      lit(0.3) * least(lit(1d), stopRatio * 4) +
      lit(0.3) * least(lit(1d), nTok.cast("double") / 50)
  }

  /** Per-document quality features + a composite score in [0, 1].
    *
    * Columns: `n_chars_txt`, `n_tokens`, `alpha_ratio`, `punct_ratio`,
    * `stop_ratio`, `mean_word_len`, `quality` (= [[qualityScore]]).
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", ""))
    val nPunct = length(regexp_replace(t, "[^.,;:!?'\"()\\[\\]-]", ""))
    val nTok = tokenCountWs(t)
    val nStop = stopwordCount(t, stopwordsEn)
    val alphaRatio = when(nChars > 0, nAlpha.cast("double") / nChars).otherwise(lit(0d))
    val punctRatio = when(nChars > 0, nPunct.cast("double") / nChars).otherwise(lit(0d))
    val stopRatio = when(nTok > 0, nStop.cast("double") / nTok).otherwise(lit(0d))
    val meanWordLen = when(nTok > 0, nAlpha.cast("double") / nTok).otherwise(lit(0d))
    val quality = qualityScore(t)
    df.withColumn("n_chars_txt", nChars)
      .withColumn("n_tokens", nTok)
      .withColumn("alpha_ratio", alphaRatio)
      .withColumn("punct_ratio", punctRatio)
      .withColumn("stop_ratio", stopRatio)
      .withColumn("mean_word_len", meanWordLen)
      .withColumn("quality", quality)
  }

  // -------------------------------------------------------------------
  // Language identification (n-gram/stopword heuristic)
  // -------------------------------------------------------------------

  /** Stopword-hit scores per candidate language + `lang_pred`.
    *
    * Decision rule (deterministic, mirrored in SQL): CJK characters
    * present → `zh`; otherwise the max-scoring language in fixed
    * priority order en > de > es > fr; all-zero → `und`.
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val sEn = stopwordCount(t, stopwordsEn)
    val sDe = stopwordCount(t, stopwordsDe)
    val sEs = stopwordCount(t, stopwordsEs)
    val sFr = stopwordCount(t, stopwordsFr)
    val hasCjk = regexp_count(t, lit("[\\x{4e00}-\\x{9fff}]")) > 0
    val pred = when(t.isNull, lit(null))
      .when(hasCjk, lit("zh"))
      .when(sEn === 0 && sDe === 0 && sEs === 0 && sFr === 0, lit("und"))
      .when(sEn >= sDe && sEn >= sEs && sEn >= sFr, lit("en"))
      .when(sDe >= sEs && sDe >= sFr, lit("de"))
      .when(sEs >= sFr, lit("es"))
      .otherwise(lit("fr"))
    df.withColumn("s_en", sEn)
      .withColumn("s_de", sDe)
      .withColumn("s_es", sEs)
      .withColumn("s_fr", sFr)
      .withColumn("lang_pred", pred)
  }

  // -------------------------------------------------------------------
  // Repetition / boilerplate features (Gopher-style quality rules)
  // -------------------------------------------------------------------

  /** Per-document repetition features — the published "repetitive
    * content" quality heuristics (Gopher / MassiveText rules, Rae et
    * al. 2021): heavily repeated words or n-grams mark boilerplate and
    * generator loops. All columns are computed in ONE projection with
    * zero shuffle — the per-document mode (top term frequency) comes
    * from a sorted-array run-length scan via the `aggregate`
    * higher-order function, not an explode + groupBy (which would
    * shuffle |doc|·words rows at corpus scale).
    *
    * Columns (null text → null; empty text → zero ratios):
    *   - `n_words`, `n_distinct_words`
    *   - `dup_word_frac`   = 1 − distinct/total (0 when no words)
    *   - `top_word_frac`   = max term frequency / n_words
    *   - `top_bigram_frac` = max bigram frequency / (n_words − 1)
    *   - `symbol_ratio`    = non-alphanumeric, non-space chars / chars
    */
  def repetitionFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = filter(split(normalizeText(t), " "), w => length(w) > 0)
    val n = size(words)
    val nDistinct = size(array_distinct(words))
    val bigrams = filter(
      zip_with(words, slice(words, lit(2), greatest(n - 1, lit(0))),
        (a, b) => when(b.isNotNull, concat_ws(" ", a, b))),
      g => g.isNotNull)
    val frac = (top: Column, denom: Column) =>
      when(t.isNull, lit(null).cast("double"))
        .when(denom > 0, top.cast("double") / denom)
        .otherwise(lit(0d))
    df.withColumn("n_words", when(t.isNull, lit(null)).otherwise(n).cast("long"))
      .withColumn("n_distinct_words",
        when(t.isNull, lit(null)).otherwise(nDistinct).cast("long"))
      .withColumn("dup_word_frac", frac(n - nDistinct, n))
      .withColumn("top_word_frac", frac(maxRunLength(sort_array(words)), n))
      .withColumn("top_bigram_frac",
        frac(maxRunLength(sort_array(bigrams)), size(bigrams)))
      .withColumn("symbol_ratio",
        when(t.isNull, lit(null).cast("double"))
          .when(length(t) > 0,
            length(regexp_replace(t, "[A-Za-z0-9\\s]", "")).cast("double") / length(t))
          .otherwise(lit(0d)))
  }

  /** Longest run of equal adjacent elements in a SORTED array = the
    * max multiplicity of any element — a linear scan in one `aggregate`
    * HOF (struct state: previous element, current run, best run).
    * 0 for an empty array.
    */
  def maxRunLength(sorted: Column): Column =
    aggregate(
      sorted,
      struct(
        lit(null).cast("string").as("prev"),
        lit(0).as("run"),
        lit(0).as("best")),
      (acc, w) => {
        val run =
          when(w === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(
          w.as("prev"),
          run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  // -------------------------------------------------------------------
  // PII redaction (training-data scrubbing)
  // -------------------------------------------------------------------

  /** Redaction pass order — each entry is (category, pattern,
    * replacement token). Order matters and is part of the contract:
    * URLs first (they may embed digit runs and @-signs), then emails,
    * IPv4, and finally long digit runs (account-number-ish ids).
    * Patterns are RE2-compatible (no backrefs/lookarounds) so the
    * DuckDB oracle replays them with identical semantics.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("url", "https?://[^\\s]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("id_digits", "\\b[0-9]{9,}\\b", "<ID>"))

  /** PII scrubbing for a text corpus: per-category match counts (on
    * the ORIGINAL text) plus `text_redacted` with every match replaced
    * by its category token, applied in [[piiPatterns]] order. One
    * projection, zero shuffle, codegen'd regex — the form a 100 TB
    * scrub pass must take. Counts columns: `n_url`, `n_email`,
    * `n_ipv4`, `n_id_digits`.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val counted = piiPatterns.foldLeft(df) { case (acc, (cat, pat, _)) =>
      acc.withColumn(s"n_$cat",
        when(t.isNull, lit(null)).otherwise(regexp_count(t, lit(pat))).cast("long"))
    }
    val redacted = piiPatterns.foldLeft(t) { case (acc, (_, pat, tok)) =>
      regexp_replace(acc, pat, tok)
    }
    counted.withColumn("text_redacted", redacted)
  }

  // -------------------------------------------------------------------
  // Corpus vocabulary (heavy hitters)
  // -------------------------------------------------------------------

  /** Exact corpus-wide top-k tokens by frequency: `(token, n, rank)`,
    * ties broken by token ascending (deterministic).
    *
    * Scale shape: explode → hash-aggregate (map-side partial combine
    * bounds the shuffle by VOCABULARY size, not corpus size) →
    * `orderBy().limit(k)` which Spark executes as TakeOrderedAndProject
    * (per-partition partial top-k, no global sort); the rank window
    * then runs over k rows only.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .where(col(textCol).isNotNull)
      .select(explode(split(normalizeText(col(textCol)), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
    counts.withColumn("rank",
      row_number()
        .over(Window.orderBy(col("n").desc, col("token").asc))
        .cast("long"))
  }

  // -------------------------------------------------------------------
  // Document fingerprinting
  // -------------------------------------------------------------------

  /** Full-content fingerprint: sha256 of the normalized text, plus a
    * compact 64-bit fingerprint (first 16 hex chars). Normalization
    * makes the fingerprint whitespace/case-insensitive.
    */
  def fingerprint(df: DataFrame, textCol: String): DataFrame = {
    val sha = sha2(normalizeText(col(textCol)), 256)
    df.withColumn("content_sha", sha)
      .withColumn("fp64", substring(sha, 1, 16))
  }

  /** Rolling-hash (Karp-Rabin flavored) shingle fingerprints: the
    * xxhash64 of each character n-gram window over the normalized text,
    * distinct per document. The basis for MinHash: the composed
    * signature that [[graft.functions.MinHashSig]] reproduces bit for bit.
    * Array column `shingle_hashes: array<bigint>`.
    *
    * PERFORMANCE: `c` is referenced INSIDE the transform lambda, so any
    * expression passed here re-evaluates once per window. Pass a plain
    * (pre-projected) column — use [[shingleHashesNormalized]] after
    * projecting [[normalizeText]] into its own column; this convenience
    * wrapper is fine only for one-off/small inputs.
    */
  def shingleHashes(c: Column, n: Int): Column =
    shingleHashesNormalized(normalizeText(c), n)

  /** [[shingleHashes]] over already-normalized text. */
  def shingleHashesNormalized(norm: Column, n: Int): Column = {
    val count = length(norm) - (n - 1)
    // sequence(1, 0) would yield a DESCENDING [1, 0] — guard short texts.
    when(count >= 1,
      array_distinct(
        transform(sequence(lit(1), count), i => xxhash64(norm.substr(i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))
  }
}
