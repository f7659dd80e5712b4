package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.CodeFiles
import graft.compile.RuleCompiler
import graft.drift.Drift
import graft.refint.RefIntegrity
import graft.resume.{Checkpoint, ValidationRun}
import graft.stats.ColumnStats
import graft.unique.Uniqueness
import graft.validate.Validator
import graft.verdict.{Expectations, Verdict}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One workload: what a repetition runs, what it resets before, which
  * extra module calls split it in a traced run, and how its outputs are
  * checked against the reference answers.
  */
abstract class Workload(val in: Inputs) {

  /** Parquet bytes of the input the repetition reads. */
  def inputBytes: Long

  /** Input rows a repetition processes. */
  def rowsPerRep: Long

  /** Once per run, before set-up, untimed; `session` starts the harness's
    * Spark session when the workload needs one here.
    */
  def prepare(t: Tracer, work: String, session: () => SparkSession): Unit = ()

  /** Before each repetition, untimed: leaves `out` as the run finds it. */
  def reset(t: Tracer, out: String): Unit = ()

  /** The timed calls. Returns what [[check]] needs besides `out`. */
  def run(t: Tracer, out: String): Any

  /** Traced runs only, after the timed calls: one call per module that the
    * timed calls use internally, so that each module's cost shows as its
    * own layer.
    */
  def probe(t: Tracer, out: String): Unit = ()

  /** Mismatches between the repetition's outputs and the reference,
    * including the plan guard, given the repetition's spans.
    */
  def check(t: Tracer, out: String, result: Any, spans: Seq[Span]): Seq[String]

  /** Root path of the input whose scans `resume.input_scans` counts. */
  def inputDir: String = in.flat

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  protected def eq(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  protected def want(key: String): Long = in.expected.getOrElse(key, 0L)

  protected def langs: Seq[String] = Reference.langs(in.expected)

  /** Plan guard: every span named `name` ran at least one execution, and
    * one that satisfies `ok`.
    */
  protected def guard(t: Tracer, spans: Seq[Span], name: String, what: String)(ok: Exec => Boolean): Seq[String] = {
    val calls = spans.filter(_.name == name)
    if (calls.isEmpty) Seq(s"plan guard: no $name call")
    else calls.flatMap(s => if (t.probe.execsOf(s.id).exists(ok)) Nil else Seq(s"plan guard: $name ran without $what"))
  }
}

object Workload {
  val Names: Seq[String] = Seq("validate_cold", "resume_incremental", "integrity_checks")

  def apply(name: String, in: Inputs): Workload = name match {
    case "validate_cold" => new ValidateCold(in)
    case "resume_incremental" => new ResumeIncremental(in)
    case "integrity_checks" => new IntegrityChecks(in)
  }
}

/** Shared by the two workloads that call `ValidationRun.run`. */
abstract class ValidationWorkload(in: Inputs) extends Workload(in) {

  /** Partitions the run should report as pending. */
  def pending: Seq[String]

  def run(t: Tracer, out: String): Any = {
    val df = t.spark.read.parquet(inputDir)
    t.span("resume:ValidationRun.run") {
      ValidationRun.run(df, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    }
  }

  override def probe(t: Tracer, out: String): Unit = {
    t.span("compile:RuleCompiler.compile")(RuleCompiler.compile(CodeFiles.schema))
    t.span("resume:Checkpoint.pending")(Checkpoint.pending(t.spark.read.parquet(inputDir), "lang", out))
    t.span("resume:Checkpoint.processed")(noop(Checkpoint.processed(t.spark, out)))
  }

  def check(t: Tracer, out: String, result: Any, spans: Seq[Span]): Seq[String] = {
    val report = result.asInstanceOf[ValidationRun.Report]
    val manifest = t.spark.read.parquet(Checkpoint.manifestPath(out)).collect()
    val byPart = manifest.groupBy(_.getAs[String]("partition"))
    val perLang = eq("manifest partitions", byPart.keySet, langs.toSet) ++
      eq("manifest rows", manifest.length, langs.size) ++
      langs.flatMap { l =>
        byPart.get(l).toSeq.flatMap(_.headOption).flatMap { r =>
          Seq("n_rows", "n_bad_rows", "n_violations").flatMap(n =>
            eq(s"manifest $l $n", r.getAs[Long](n), want(s"lang.$l.$n")))
        }
      }
    val violations = t.spark.read.parquet(s"$out/violations").groupBy("field", "rule").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val perRule = eq("violation (field, rule) pairs", violations.keySet -- Reference.Rules.map(r => (r._1, r._2)), Set.empty) ++
      Reference.Rules.flatMap { case (f, r, _) =>
        eq(s"violations $f/$r", violations.getOrElse((f, r), 0L), want(s"rule.$f.$r"))
      }
    eq("pending", report.pending.sorted, pending.sorted) ++ perLang ++ perRule ++
      guard(t, spans, "resume:ValidationRun.run", "sha2 in the violations write") { e =>
        e.hasSha2 && e.sink.exists(_.endsWith("/violations"))
      }
  }
}

/** A validation run from scratch over the unpartitioned input. */
final class ValidateCold(in: Inputs) extends ValidationWorkload(in) {
  def inputBytes: Long = Inputs.bytes(in.flat)
  def rowsPerRep: Long = in.rows
  def pending: Seq[String] = langs

  override def probe(t: Tracer, out: String): Unit = {
    super.probe(t, out)
    val df = t.spark.read.parquet(inputDir)
    t.span("validate:Validator.violations")(noop(Validator.violations(df, CodeFiles.schema, CodeFiles.keyCols :+ "lang")))
    t.span("verdict:Verdict.compute")(noop(Verdict.compute(df, CodeFiles.schema, "lang")))
  }

  override def check(t: Tracer, out: String, result: Any, spans: Seq[Span]): Seq[String] = {
    val validate = spans.filter(_.name == "validate:Validator.violations")
    val rows = validate.flatMap(s => t.probe.execsOf(s.id).filter(_.sink.contains("noop")).map(_.rowsOut))
    super.check(t, out, result, spans) ++
      rows.flatMap(n => eq("validate.violation_rows", n, Reference.Rules.map(r => want(s"rule.${r._1}.${r._2}")).sum)) ++
      (if (validate.isEmpty) Nil
       else guard(t, spans, "validate:Validator.violations", "sha2")(_.hasSha2))
  }
}

/** A resumed run over the hive-partitioned input where every partition
  * but [[ResumeIncremental.Pending]] is already committed.
  */
final class ResumeIncremental(in: Inputs) extends ValidationWorkload(in) {
  import ResumeIncremental.Pending
  private var template = ""

  def inputBytes: Long = Inputs.bytes(in.byLang)
  def rowsPerRep: Long = want(s"lang.$Pending.n_rows")
  def pending: Seq[String] = Seq(Pending)
  override def inputDir: String = in.byLang

  /** The committed state every repetition starts from, made by the engine
    * itself: a validation run over every partition but the pending one.
    */
  override def prepare(t: Tracer, work: String, session: () => SparkSession): Unit = {
    val s = session()
    if (!Files.isDirectory(Paths.get(in.byLang))) {
      val tmp = s"${in.byLang}.tmp-${ProcessHandle.current().pid()}"
      s.read.parquet(in.flat).write.partitionBy("lang").parquet(tmp)
      Files.move(Paths.get(tmp), Paths.get(in.byLang))
    }
    template = s"$work/resume-template"
    Main.delete(template)
    ValidationRun.run(s.read.parquet(in.byLang).where(col("lang") =!= Pending),
      CodeFiles.schema, "lang", CodeFiles.keyCols, template)
  }

  override def reset(t: Tracer, out: String): Unit = {
    Seq("violations", "verdicts").foreach(d => copyTree(s"$template/$d", s"$out/$d"))
    t.span("resume:Checkpoint.commit") {
      Checkpoint.commit(t.spark, out, t.spark.read.parquet(Checkpoint.manifestPath(template)))
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}

object ResumeIncremental {

  /** The one uncommitted partition: a typical language, neither the
    * heaviest (python) nor the tiny invalid one.
    */
  val Pending = "java"
}

/** The read-only checks: uniqueness, referential integrity, column
  * statistics, drift and expectations over the unpartitioned input, each
  * result written as parquet under the repetition's output directory.
  */
final class IntegrityChecks(in: Inputs) extends Workload(in) {
  import IntegrityChecks._

  def inputBytes: Long = Inputs.bytes(in.flat)
  def rowsPerRep: Long = in.rows

  def run(t: Tracer, out: String): Any = {
    val s = t.spark
    val flat = s.read.parquet(in.flat)
    val cur = flat.withColumn("content_len", length(col("content")))
    def write(span: String, name: String)(df: => DataFrame): Unit =
      t.span(span)(df.write.parquet(s"$out/$name"))
    write("unique:Uniqueness.summary", "unique")(Uniqueness.summary(flat, CodeFiles.keyCols))
    write("unique:Uniqueness.groupCountsSalted", "per_repo")(Uniqueness.groupCountsSalted(flat, "repo", Salts))
    write("refint:RefIntegrity.summary", "refint")(RefIntegrity.summary(flat.where(col("repo").isNotNull),
      s.read.parquet(in.dim), Seq("repo", "commit"), broadcastDim = false))
    write("stats:ColumnStats.compute", "stats")(ColumnStats.compute(flat, Reference.StatColumns, Seq("lang")))
    write("drift:Drift.compareAuto", "drift")(Drift.compareAuto(cur, s.read.parquet(in.baseline),
      "content_len", Seq("lang"), nBins = 10))
    write("verdict:Expectations.evaluate", "expect")(Expectations.evaluate(cur, Expects, Seq("lang")))
  }

  def check(t: Tracer, out: String, result: Any, spans: Seq[Span]): Seq[String] = {
    def read(name: String): Seq[Row] = t.spark.read.parquet(s"$out/$name").collect().toSeq
    def key(v: Any) = Option(v).map(_.toString).getOrElse(Reference.NullKey)
    def longs(name: String, cols: Seq[String], prefix: String) = {
      val rows = read(name)
      eq(s"$name rows", rows.size, 1) ++ rows.flatMap(r =>
        cols.flatMap(c => eq(s"$name $c", r.getAs[Long](c), want(s"$prefix.$c"))))
    }
    val unique = longs("unique", Seq("n_rows", "n_keys", "n_dup_keys", "n_dup_rows"), "unique")
    val refint = longs("refint", Seq("n_rows", "n_null_keys", "n_orphans"), "ri")
    val perRepo = eq("rows per repo",
      read("per_repo").map(r => s"repo.${key(r.get(0))}" -> r.getAs[Long]("n")).toMap,
      in.expected.filter(_._1.startsWith("repo.")))

    val stats = read("stats")
    val statsErr = eq("stats rows", stats.size, langs.size * Reference.StatColumns.size) ++
      stats.flatMap { r =>
        val (l, c) = (key(r.getAs[String]("lang")), r.getAs[String]("column"))
        eq(s"stats $l/$c n_rows", r.getAs[Long]("n_rows"), want(s"lang.$l.n_rows")) ++
          eq(s"stats $l/$c n_null", r.getAs[Long]("n_null"), want(s"lang.$l.null.$c"))
      }

    val drift = read("drift")
    val driftErr = eq("drift groups", drift.map(r => key(r.getAs[String]("lang"))).toSet, langs.toSet) ++
      drift.flatMap { r =>
        val l = key(r.getAs[String]("lang"))
        val (psi, ks) = (r.getAs[Double]("psi"), r.getAs[Double]("ks"))
        eq(s"drift $l n_cur", r.getAs[Long]("n_cur"), want(s"lang.$l.content_nonnull")) ++
          eq(s"drift $l n_base", r.getAs[Long]("n_base"), want(s"base.$l.content_nonnull")) ++
          (if (psi >= 0 && !psi.isInfinite && ks >= 0 && ks <= 1) Nil else Seq(s"drift $l psi=$psi ks=$ks"))
      }

    val expect = read("expect")
    val expectErr = eq("expectation rows", expect.size, langs.size * Expects.size) ++
      expect.flatMap { r =>
        val l = key(r.getAs[String]("lang"))
        val obs = r.getAs[Double]("observed")
        val (n, nonNull) = (want(s"lang.$l.n_rows"), want(s"lang.$l.content_nonnull"))
        val ok = r.getAs[String]("check") match {
          case "row_count" => obs == n
          case "null_frac" => math.abs(obs * n - (n - nonNull)) < 1e-6
          case "mean" => math.abs(obs * nonNull - want(s"lang.$l.content_len_sum")) < 1e-6 * nonNull * obs
        }
        val pass = obs >= r.getAs[Double]("lo") && obs <= r.getAs[Double]("hi")
        (if (ok) Nil else Seq(s"expectation $l ${r.getAs[String]("check")} observed $obs")) ++
          eq(s"expectation $l ${r.getAs[String]("check")} pass", r.getAs[Boolean]("pass"), pass)
      }

    val guards = Seq("unique:Uniqueness.summary", "unique:Uniqueness.groupCountsSalted",
      "refint:RefIntegrity.summary").flatMap(n => guard(t, spans, n, "an Exchange")(_.hasExchange))
    unique ++ refint ++ perRepo ++ statsErr ++ driftErr ++ expectErr ++ guards
  }
}

object IntegrityChecks {
  val Salts = 8

  val Expects: Seq[Expectations.Expect] = Seq(
    Expectations.Expect("row_count", lo = 1),
    Expectations.Expect("null_frac", "content", hi = 0.05),
    Expectations.Expect("mean", "content_len", lo = 1))
}
