package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.data.SynthGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The generated inputs of one seed, cached under `dir`:
  *
  *   - `flat/`: `SynthGen.codeFiles` at its default injected rates, unpartitioned;
  *   - `by_lang/`: the same rows, hive-partitioned by `lang` (written by the
  *     first `resume_incremental` run of the seed);
  *   - `dim/`: `SynthGen.dimCommits` for the referential-integrity check;
  *   - `baseline/`: `(lang, content_len)` of a second seed, the drift baseline;
  *   - `expected.txt`: the reference answers (see [[Reference]]).
  */
final case class Inputs(dir: String, rows: Long, seed: Long, expected: Map[String, Long]) {
  def flat: String = s"$dir/flat"
  def byLang: String = s"$dir/by_lang"
  def dim: String = s"$dir/dim"
  def baseline: String = s"$dir/baseline"
}

object Inputs {

  /** Rows per input. Large enough that per-row work dominates a cold
    * validation run on local[4], small enough that a new seed's inputs
    * generate in seconds.
    */
  val Rows = 50000L

  /** Files per generated copy: two per core of local[4]. */
  val Partitions = 8

  def baselineSeed(seed: Long): Long = seed + 1000003L

  /** Cached inputs of `seed`, generated first when absent (only then is
    * `session` started). Generation writes to a temporary directory and
    * renames it, so an interrupted run never leaves a half-written cache
    * entry.
    */
  def load(work: String, seed: Long, tracer: Tracer)(session: => SparkSession): Inputs = {
    val dir = s"$work/data/seed=$seed-rows=$Rows"
    if (!Files.isDirectory(Paths.get(dir))) {
      val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
      generate(session, tmp, seed, tracer)
      Files.move(Paths.get(tmp), Paths.get(dir))
    }
    val expected = Files.readAllLines(Paths.get(s"$dir/expected.txt")).asScala.map { line =>
      val Array(k, v) = line.split("\t")
      k -> v.toLong
    }.toMap
    Inputs(dir, Rows, seed, expected)
  }

  private def generate(spark: SparkSession, dir: String, seed: Long, tracer: Tracer): Unit = {
    val cfg = SynthGen.Config(rows = Rows, seed = seed, partitions = Partitions)
    tracer.span("data:SynthGen.codeFiles") {
      SynthGen.codeFiles(spark, cfg).write.parquet(s"$dir/flat")
    }
    tracer.span("data:SynthGen.dimCommits") {
      SynthGen.dimCommits(spark, cfg).write.parquet(s"$dir/dim")
    }
    tracer.span("data:SynthGen.codeFiles") {
      SynthGen.codeFiles(spark, cfg.copy(seed = baselineSeed(seed)))
        .select(col("lang"), length(col("content")).as("content_len"))
        .write.parquet(s"$dir/baseline")
    }
    val expected = Reference.compute(spark, s"$dir/flat", s"$dir/dim", s"$dir/baseline")
    Files.write(Paths.get(s"$dir/expected.txt"),
      expected.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.asJava)
  }

  /** Bytes of the data files under `dir` (Spark's marker and checksum
    * files excluded); 0 when `dir` does not exist.
    */
  def bytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && isData(p)).map(Files.size).sum
      finally s.close()
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }
}

/** Reference answers recomputed in plain Spark SQL from the generated
  * files, once per seed. It restates the rules of `graft.CodeFiles.schema`
  * literally and calls nothing in the engine, so a wrong answer from the
  * engine cannot also be the expected one.
  *
  * Keys: `rows`; `lang.<l>.{n_rows,n_bad_rows,n_violations,content_nonnull,
  * content_len_sum}` and `lang.<l>.null.<column>`; `rule.<field>.<rule>`;
  * `unique.{n_rows,n_keys,n_dup_keys,n_dup_rows}`;
  * `ri.{n_rows,n_null_keys,n_orphans}`; `repo.<repo>`;
  * `base.<l>.content_nonnull`. A null group value is written as `__NULL__`.
  */
object Reference {

  val NullKey = "__NULL__"

  /** (field, rule, failing-row predicate) of every rule the schema compiles to. */
  val Rules: Seq[(String, String, String)] = Seq(
    ("repo", "required", "repo IS NULL"),
    ("repo", "regex", "repo IS NOT NULL AND NOT regexp_like(repo, '^[A-Za-z0-9._-]+/[A-Za-z0-9._-]+$')"),
    ("path", "required", "path IS NULL"),
    ("path", "empty", "path IS NOT NULL AND trim(path) = ''"),
    ("commit", "required", "`commit` IS NULL"),
    ("commit", "regex", "`commit` IS NOT NULL AND NOT regexp_like(`commit`, '^[0-9a-f]{40}$')"),
    ("lang", "required", "lang IS NULL"),
    ("lang", "allowed", "lang IS NOT NULL AND lang NOT IN ('scala', 'java', 'kotlin', 'rust', 'python', 'sql')"),
    ("content", "required", "content IS NULL"),
    ("content", "check_sha256",
      "content IS NOT NULL AND NOT coalesce(sha2(content, 256) = expected_sha, false)"))

  val StatColumns: Seq[String] = Seq("repo", "path", "commit", "content")

  def compute(spark: SparkSession, flat: String, dim: String, baseline: String): Map[String, Long] = {
    spark.read.parquet(flat).createOrReplaceTempView("ref_cf")
    spark.read.parquet(dim).createOrReplaceTempView("ref_dim")
    spark.read.parquet(baseline).createOrReplaceTempView("ref_base")
    def rows(sql: String) = spark.sql(sql).collect().toSeq
    def key(v: Any) = Option(v).map(_.toString).getOrElse(NullKey)

    val flags = Rules.map { case (f, r, p) => s"CAST($p AS BIGINT) AS `${f}__$r`" }.mkString(",\n")
    val nv = Rules.map { case (f, r, _) => s"`${f}__$r`" }.mkString(" + ")
    val perLangCols = Seq("n_rows", "n_bad_rows", "n_violations", "content_nonnull", "content_len_sum")
    val perLang = rows(
      s"""SELECT lang, count(*), sum(IF(nv > 0, 1, 0)), sum(nv), count(content),
         |  coalesce(sum(length(content)), 0),
         |  ${StatColumns.map(c => s"count_if(`$c` IS NULL)").mkString(", ")},
         |  ${Rules.map { case (f, r, _) => s"sum(`${f}__$r`)" }.mkString(", ")}
         |FROM (SELECT *, $nv AS nv FROM (SELECT lang, content, repo, path, `commit`, $flags FROM ref_cf))
         |GROUP BY lang""".stripMargin)
    val langStats = perLang.flatMap { r =>
      val l = key(r.get(0))
      perLangCols.zipWithIndex.map { case (n, i) => s"lang.$l.$n" -> r.getLong(i + 1) } ++
        StatColumns.zipWithIndex.map { case (c, i) => s"lang.$l.null.$c" -> r.getLong(i + 1 + perLangCols.size) }
    }
    val ruleBase = 1 + perLangCols.size + StatColumns.size
    val perRule = Rules.zipWithIndex.map { case ((f, rule, _), i) =>
      s"rule.$f.$rule" -> perLang.map(_.getLong(ruleBase + i)).sum
    }
    val unique = rows(
      """SELECT sum(n), count(*), count_if(n > 1), coalesce(sum(IF(n > 1, n, 0)), 0)
        |FROM (SELECT count(*) AS n FROM ref_cf GROUP BY repo, path, `commit`)""".stripMargin
    ).flatMap(r => Seq("n_rows", "n_keys", "n_dup_keys", "n_dup_rows")
      .zipWithIndex.map { case (n, i) => s"unique.$n" -> r.getLong(i) })
    val ri = rows(
      """SELECT count(*), count_if(`commit` IS NULL),
        |  (SELECT count(*) FROM ref_cf f LEFT ANTI JOIN ref_dim d ON d.repo = f.repo AND d.`commit` = f.`commit`
        |   WHERE f.repo IS NOT NULL AND f.`commit` IS NOT NULL)
        |FROM ref_cf WHERE repo IS NOT NULL""".stripMargin
    ).flatMap(r => Seq("n_rows", "n_null_keys", "n_orphans")
      .zipWithIndex.map { case (n, i) => s"ri.$n" -> r.getLong(i) })
    val perRepo = rows("SELECT repo, count(*) FROM ref_cf GROUP BY repo")
      .map(r => s"repo.${key(r.get(0))}" -> r.getLong(1))
    val base = rows("SELECT lang, count(content_len) FROM ref_base GROUP BY lang")
      .map(r => s"base.${key(r.get(0))}.content_nonnull" -> r.getLong(1))
    val total = "rows" -> perLang.map(_.getLong(1)).sum

    (langStats ++ perRule ++ unique ++ ri ++ perRepo ++ base :+ total).toMap
  }

  /** Group values (languages) present in the reference. */
  def langs(expected: Map[String, Long]): Seq[String] =
    expected.keys.collect { case k if k.startsWith("lang.") && k.endsWith(".n_rows") =>
      k.stripPrefix("lang.").stripSuffix(".n_rows")
    }.toSeq.sorted
}
