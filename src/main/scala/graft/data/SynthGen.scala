package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, fully distributed generator of the north-rule input
  * table `(repo, path, commit, lang, content)` with violations injected
  * at known rates — the engine's primary synthetic fixture (BASELINE.json
  * `input_hint`; FIXTURES.md §A).
  *
  * Design notes (scale-first):
  *   - Generation is `spark.range(n)` + pure column expressions keyed on
  *     `id` — no driver-side loops, no rand(): every value is a
  *     deterministic function of (id, seed), so any subset of partitions
  *     regenerates identically at any parallelism (needed for the
  *     N-vs-4N scaling runs and resume tests).
  *   - Repo popularity is skewed: ~20% of rows land in one hot repo to
  *     exercise salted uniqueness / skew handling.
  *   - The reference's only nondeterminism is SecureRandom/thread_rng
  *     (rust/src/lib.rs:91-92) — exactly what test data must NOT have.
  */
object SynthGen {

  final case class Config(
      rows: Long,
      seed: Long = 42L,
      partitions: Int = 32,
      nullRepoPerMille: Int = 5, // `required` failures on repo
      badCommitPerMille: Int = 10, // `regex` failures on commit
      badLangPerMille: Int = 10, // `allowed` failures on lang
      nullContentPerMille: Int = 5, // `required` failures on content
      badShaPerMille: Int = 5, // sha256-invariant failures
      dupPerMille: Int = 10, // duplicate (repo,path,commit) rows
      missingDimPerMille: Int = 10 // commits absent from the dim table
  )

  val langs: Seq[String] = Seq("scala", "java", "kotlin", "rust", "python", "sql")
  private val extByLang = Map(
    "scala" -> "scala", "java" -> "java", "kotlin" -> "kt",
    "rust" -> "rs", "python" -> "py", "sql" -> "sql")

  private val words: Seq[String] = Seq(
    "def", "val", "class", "object", "match", "case", "import", "return",
    "public", "static", "void", "struct", "impl", "trait", "select",
    "where", "group", "order", "join", "filter", "map", "flatMap", "fold",
    "lazy", "final", "override", "private", "extends", "with", "yield")

  /** Uniform hash in [0, 1000) as a function of (id, seed, salt) — the
    * per-mille dial used for every injected-violation rate.
    */
  private def mille(salt: Int, seed: Long) =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000L))

  /** Positive 64-bit hash stream, one independent stream per salt. */
  private def h(salt: Int, seed: Long) =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(Long.MaxValue))

  /** The code-file table, including injected violations and an
    * `expected_sha` companion column (per-row invariant, V11).
    * Duplicates are injected by mapping several ids onto the same
    * (repo, path, commit) triple — pure function of id, no union/scan2.
    */
  def codeFiles(spark: SparkSession, cfg: Config): DataFrame = {
    val seed = cfg.seed
    val base = spark.range(0L, cfg.rows, 1L, cfg.partitions)

    // Duplicate injection: for ~dupPerMille of rows, derive the identity
    // columns from a *neighbor* id (id - id%8) shared by up to 8 rows.
    val isDup = mille(14, seed) < cfg.dupPerMille
    val keyId = when(isDup, col("id") - pmod(col("id"), lit(8L)))
      .otherwise(col("id"))

    def kh(salt: Int) = pmod(xxhash64(keyId, lit(seed), lit(salt)), lit(Long.MaxValue))
    def kmille(salt: Int) = pmod(xxhash64(keyId, lit(seed), lit(salt)), lit(1000L))

    // Zipf-ish repo skew: 20% hot repo, rest uniform over 996.
    val repoId = when(kmille(1) < 200, lit(0L)).otherwise(pmod(kh(2), lit(996L)) + 1L)
    val repo = when(mille(10, seed) < cfg.nullRepoPerMille, lit(null))
      .otherwise(concat(lit("org"), pmod(repoId, lit(37L)), lit("/repo"), repoId))

    val langArr = array(langs.map(lit): _*)
    val langIdx = pmod(kh(5), lit(langs.size.toLong)).cast("int")
    val goodLang = element_at(langArr, langIdx + 1)
    val lang = when(mille(12, seed) < cfg.badLangPerMille, lit("cobol"))
      .otherwise(goodLang)

    val extArr = array(langs.map(l => lit(extByLang(l))): _*)
    val path = concat(
      lit("src/dir"), pmod(kh(3), lit(64L)),
      lit("/file"), pmod(kh(4), lit(100000L)),
      lit("."), element_at(extArr, langIdx + 1))

    // 40-char lowercase hex, sha1-shaped; `regex` violations truncate it.
    val goodCommit = substring(sha2(concat(keyId.cast("string"), lit(seed)), 256), 1, 40)
    val commit = when(mille(11, seed) < cfg.badCommitPerMille, substring(goodCommit, 1, 10))
      .otherwise(goodCommit)

    // Content: seeded pseudo-source, token count varies per lang (python
    // gets a wider distribution → drift fixture dial lives here).
    // Keyed on keyId, NOT id: rows sharing (repo, path, commit) carry
    // IDENTICAL content — true duplicates, as a real corpus would have.
    val wordArr = array(words.map(lit): _*)
    val nTokens = (pmod(kh(6), lit(40L)) + lit(20L) +
      when(goodLang === "python", pmod(kh(7), lit(60L))).otherwise(lit(0L))).cast("int")
    val contentExpr = concat_ws(" ",
      transform(sequence(lit(0), nTokens - 1), i =>
        element_at(wordArr, pmod(xxhash64(keyId, i, lit(seed)), lit(words.size.toLong)).cast("int") + 1)))
    val content = when(mille(13, seed) < cfg.nullContentPerMille, lit(null))
      .otherwise(contentExpr)

    // Per-row invariant companion: correct sha256(content) except for a
    // known fraction carrying a corrupted digest.
    val expectedSha = when(mille(15, seed) < cfg.badShaPerMille,
      sha2(concat(contentExpr, lit("corrupt")), 256))
      .otherwise(sha2(coalesce(contentExpr, lit("")), 256))

    base.select(
      col("id"),
      repo.as("repo"),
      path.as("path"),
      commit.as("commit"),
      lang.as("lang"),
      content.as("content"),
      expectedSha.as("expected_sha"))
  }

  /** Dimension table of valid (repo, commit) pairs for referential-
    * integrity checks: all commits in the data except a known fraction
    * (those become RI violations).
    */
  def dimCommits(spark: SparkSession, cfg: Config): DataFrame =
    codeFiles(spark, cfg)
      .where(col("repo").isNotNull && length(col("commit")) === 40)
      .where(mille(16, cfg.seed) >= cfg.missingDimPerMille)
      .select(col("repo"), col("commit"))
      .distinct()
}
