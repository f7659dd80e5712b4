package graft

import graft.data.SynthGen
import graft.resume.{Checkpoint, ValidationRun}
import graft.schema.{CustomCheck, FieldSpec, Schema, Severity}
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class ResumeSpec extends SparkSpec {

  private val cfg = SynthGen.Config(rows = 4000L, partitions = 4)
  private def files = SynthGen.codeFiles(spark, cfg)
  private def tmp() = Files.createTempDirectory("graft-resume").toString

  /** The run's verdicts equal [[Verdict.compute]] on the same input, in
    * rows and schema (the report's frame and the written rows), and the
    * run's manifest rows carry the same metrics.
    */
  private def assertVerdictParity(
      df: DataFrame,
      schema: Schema,
      partitionCol: String,
      out: String,
      r: ValidationRun.Report): Unit = {
    val want = Verdict.compute(df, schema, partitionCol)
    val got = r.verdicts.drop("run_id")
    assert(got.schema === want.schema)
    val wantRows = want.collect().toSet
    assert(got.collect().toSet === wantRows)
    val written = spark.read.parquet(s"$out/verdicts")
      .where(col("run_id") === r.runId).drop("run_id")
    assert(written.collect().toSet === wantRows)
    val metrics = Seq("n_rows", "n_bad_rows", "n_violations", "pass")
    val manifest = Checkpoint.processed(spark, out).where(col("run_id") === r.runId)
      .select("partition", metrics: _*)
    val wantManifest = want.select(
      Checkpoint.partitionKey(partitionCol).as("partition") +: metrics.map(col): _*)
    assert(manifest.collect().toSet === wantManifest.collect().toSet)
    assert(r.pending.toSet === wantManifest.collect().map(_.getString(0)).toSet)
  }

  /** Every file under `dir` with its modification time. */
  private def listing(dir: String): Map[String, Long] =
    if (!Files.exists(Paths.get(dir))) Map.empty
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }

  /** The file scans of `inputDir` in every SQL execution `body` runs. */
  private def scansOf(inputDir: String)(body: => Unit): Seq[FileSourceScanExec] = {
    val root = Paths.get(inputDir).toUri.getPath.stripSuffix("/")
    Executed.plans(spark)(body).flatMap(Executed.nodes).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == root) => f
    }
  }

  test("fresh run commits every partition; second run is a no-op") {
    val out = tmp()
    val r1 = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    assert(r1.pending.nonEmpty)
    val manifest = Checkpoint.processed(spark, out)
    assert(manifest.count() === r1.pending.size.toLong)
    assertVerdictParity(files, CodeFiles.schema, "lang", out, r1)

    // The second run writes nothing: no verdict or manifest file, and
    // no violations partition rewritten (its write is empty).
    val verdicts = listing(s"$out/verdicts")
    val committed = listing(Checkpoint.manifestPath(out))
    val partitionFiles = () => listing(s"$out/violations")
      .filter { case (p, _) => Paths.get(p).getParent != Paths.get(s"$out/violations") }
    val violations = partitionFiles()
    assert(violations.nonEmpty)
    val r2 = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    assert(r2.pending.isEmpty && r2.skipped === r1.pending.size.toLong)
    // Its verdicts are the verdict frame with no rows, not the manifest.
    assert(r2.verdicts.schema === r1.verdicts.schema)
    assert(r2.verdicts.count() === 0L)
    assert(listing(s"$out/verdicts") === verdicts)
    assert(listing(Checkpoint.manifestPath(out)) === committed)
    assert(partitionFiles() === violations)
  }

  test("an outDir containing a space: every partition commits; a second run is a no-op") {
    val out = s"${tmp()}/out dir"
    val r1 = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    val keys = files.select(Checkpoint.partitionKey("lang")).distinct().collect()
      .map(_.getString(0)).toSet
    assert(r1.pending.toSet === keys)
    assert(Checkpoint.committed(spark, out).map(_._1).toSet === keys)
    val r2 = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    assert(r2.pending.isEmpty && r2.skipped === keys.size.toLong)
  }

  test("partitioned by a key column (per-repo resume): every partition commits") {
    val df = SynthGen.codeFiles(spark, SynthGen.Config(rows = 2000L))
    val out = tmp()
    val r1 = ValidationRun.run(df, CodeFiles.schema, "repo", CodeFiles.keyCols, out)
    assert(r1.pending.size.toLong === df.select("repo").distinct().count())
    assertVerdictParity(df, CodeFiles.schema, "repo", out, r1)
    val r2 = ValidationRun.run(df, CodeFiles.schema, "repo", CodeFiles.keyCols, out)
    assert(r2.pending.isEmpty && r2.skipped === r1.pending.size.toLong)
  }

  test("resume processes only uncommitted partitions; results match a single run") {
    val single = tmp()
    ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, single)

    // Interrupted run: only two partitions got through before the "crash".
    val resumed = tmp()
    val firstSlice = files.where(col("lang").isin("scala", "java"))
    val r1 = ValidationRun.run(firstSlice, CodeFiles.schema, "lang", CodeFiles.keyCols, resumed)
    assert(r1.pending.toSet === Set("scala", "java"))

    // Resume over the FULL input: already-committed partitions skipped.
    val r2 = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, resumed)
    assert(!r2.pending.contains("scala") && !r2.pending.contains("java"))
    assert(r2.pending.nonEmpty)

    // Violations identical between one-shot and resumed runs.
    val a = Checkpoint.violations(spark, single)
      .select("repo", "path", "commit", "lang", "field", "rule", "value")
    val b = Checkpoint.violations(spark, resumed)
      .select("repo", "path", "commit", "lang", "field", "rule", "value")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // Manifest lineage: one committed row per partition, all runs traced.
    val m = Checkpoint.processed(spark, resumed)
    assert(m.select("partition").distinct().count() === m.count())
    assert(m.select("run_id").distinct().count() === 2)
  }

  test("violations output equals direct Validator on the same input") {
    val out = tmp()
    ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    val written = Checkpoint.violations(spark, out)
      .select("repo", "path", "commit", "field", "rule", "value", "severity")
    val direct = Validator.violations(files, CodeFiles.schema, CodeFiles.keyCols)
      .select("repo", "path", "commit", "field", "rule", "value", "severity")
    assert(written.exceptAll(direct).isEmpty && direct.exceptAll(written).isEmpty)
  }

  test("a run's violations land in its own directory, at most one file per scan task") {
    val out = tmp()
    val r = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    val tasks = files.rdd.getNumPartitions
    assert(files.select("lang").distinct().count() > tasks)
    val written = listing(Checkpoint.violationsPath(out)).keys.map(Paths.get(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(written.nonEmpty && written.size <= tasks, written)
    assert(written.map(_.getParent).toSet ===
      Set(Paths.get(s"${Checkpoint.violationsPath(out)}/run_id=${r.runId}")))
    // the partition column stays a column of the rows
    assert(Checkpoint.violations(spark, out).columns.contains("lang"))
  }

  test("a run directory no manifest row names is invisible to the reader and gone after the next commit") {
    val out = tmp()
    val runDir = (id: String) => new java.io.File(s"${Checkpoint.violationsPath(out)}/run_id=$id")
    val r1 = ValidationRun.run(files.where(col("lang").isin("scala", "java")),
      CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    val first = Checkpoint.violations(spark, out).count()
    assert(first > 0)
    // a crashed run's output: a copy of r1's files under an id no manifest row names
    val orphan = java.util.UUID.randomUUID().toString
    org.apache.commons.io.FileUtils.copyDirectory(runDir(r1.runId), runDir(orphan))
    val raw = spark.read.parquet(Checkpoint.violationsPath(out))
    assert(raw.where(col("run_id") === orphan).count() === first)
    val live = Checkpoint.violations(spark, out)
    assert(live.count() === first && live.where(col("run_id") =!= r1.runId).isEmpty)

    val r2 = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    assert(r2.pending.nonEmpty)
    assert(!runDir(orphan).exists() && runDir(r1.runId).isDirectory && runDir(r2.runId).isDirectory)
    val cols = Seq("repo", "path", "commit", "lang", "field", "rule", "value", "severity")
    val resumed = Checkpoint.violations(spark, out).select(cols.map(col): _*)
    val direct = Validator.violations(files, CodeFiles.schema, CodeFiles.keyCols :+ "lang")
      .select(cols.map(col): _*)
    assert(resumed.exceptAll(direct).isEmpty && direct.exceptAll(resumed).isEmpty)
  }

  test("a crashed run's verdicts file goes at the next commit; a file named without a run id stays") {
    val out = tmp()
    val dir = Paths.get(Checkpoint.verdictsPath(out))
    def names(): Set[String] = dir.toFile.list().filterNot(_.startsWith(".")).toSet
    val r1 = ValidationRun.run(files.where(col("lang") === "scala"), CodeFiles.schema, "lang",
      CodeFiles.keyCols, out)
    val own = names()
    assert(own.size === 1 && own.head.startsWith(Checkpoint.verdictsFileStem(r1.runId) + "."))
    // a crashed run's file (r1's rows under an id no manifest row names),
    // and a file written before verdicts files were named after their
    // run: its name carries a random UUID
    val orphan = own.head.replace(r1.runId, Checkpoint.newRunId())
    val old = own.head.replace(r1.runId, java.util.UUID.randomUUID().toString)
    Seq(orphan, old).foreach(n => Files.copy(dir.resolve(own.head), dir.resolve(n)))
    val r2 = ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    assert(r2.pending.nonEmpty)
    val after = names()
    assert(!after(orphan) && after(old) && after(own.head))
    assert(after.exists(_.startsWith(Checkpoint.verdictsFileStem(r2.runId) + ".")))
  }

  test("an outDir with violations in the layout before run directories is refused before any write") {
    val out = tmp()
    val violations = Paths.get(Checkpoint.violationsPath(out))
    Files.createDirectories(violations.resolve("lang=py"))
    Files.createFile(violations.resolve("_SUCCESS"))
    val e = intercept[IllegalArgumentException](
      ValidationRun.run(files, CodeFiles.schema, "lang", CodeFiles.keyCols, out))
    assert(e.getMessage.contains("lang=py") && e.getMessage.contains("fresh outDir"))
    assert(violations.toFile.list().toSet === Set("lang=py", "_SUCCESS"))
    assert(!Files.exists(Paths.get(Checkpoint.manifestPath(out))))
  }

  test("null partition values are tracked via sentinel and resumed correctly") {
    import spark.implicits._
    val out = tmp()
    val df = Seq(("a", "x", "en"), ("b", null, "en"), ("c", "y", null))
      .toDF("id", "name", "lang")
    val schema = graft.schema.Schema.of(
      "name" -> graft.schema.FieldSpec(required = true))
    val r1 = ValidationRun.run(df, schema, "lang", Seq("id"), out)
    assert(r1.pending.toSet === Set("en", Checkpoint.NullPartitionToken))
    assertVerdictParity(df, schema, "lang", out, r1)
    val nullVerdict = r1.verdicts.where(col("lang").isNull).collect()
    assert(nullVerdict.length === 1)
    assert(nullVerdict.head.getAs[Long]("n_rows") === 1L)
    assert(nullVerdict.head.getAs[Boolean]("pass"))
    val r2 = ValidationRun.run(df, schema, "lang", Seq("id"), out)
    assert(r2.pending.isEmpty)
  }

  test("verdicts match Verdict.compute: mixed severities, int partition column") {
    val mixed = Schema.of(
      "repo" -> FieldSpec(required = true,
        regex = Some("[A-Za-z0-9._-]+/[A-Za-z0-9._-]+"), severity = Severity.Warning),
      "commit" -> FieldSpec(required = true, regex = Some("[0-9a-f]{40}")),
      "lang" -> FieldSpec(allowed = Some(SynthGen.langs), severity = Severity.Warning),
      "content" -> FieldSpec(required = true,
        checks = Seq(CustomCheck("check_sha256",
          v => sha2(v, 256) === col("expected_sha"))),
        ruleSeverity = Map("check_sha256" -> Severity.Fatal)))
    // Shard 9 holds rows with no error-channel violation (it passes,
    // with warnings); shards 0-2 hold the rest.
    val df = files.withColumn("shard",
      when(graft.compile.RuleCompiler.errorCount(mixed) === 0 && col("id") % 2 === 0, 9)
        .otherwise((col("id") % 3).cast("int")))
    val out = tmp()
    val r = ValidationRun.run(df, mixed, "shard", CodeFiles.keyCols, out)
    assert(r.pending.toSet === Set("0", "1", "2", "9"))
    assertVerdictParity(df, mixed, "shard", out, r)
    val bySeverity = r.verdicts.collect().map(v =>
      v.getAs[Int]("shard") -> (v.getAs[Boolean]("pass"), v.getAs[String]("worst_severity"))).toMap
    assert(bySeverity(9) === (true, Severity.Warning))
    assert((0 to 2).forall(s => bySeverity(s) === (false, Severity.Fatal)))
  }

  test("a run reads its unpartitioned input in exactly one file scan") {
    val in = s"${tmp()}/in"
    files.write.parquet(in)
    val out = tmp()
    val scans = scansOf(in) {
      ValidationRun.run(spark.read.parquet(in), CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    }
    assert(scans.length === 1)
    assert(scans.head.metrics("numOutputRows").value === cfg.rows)
  }

  test("partitioned input: a resumed run scans only the uncommitted partition's files") {
    val in = s"${tmp()}/in"
    files.write.partitionBy("lang").parquet(in)
    val out = tmp()
    ValidationRun.run(spark.read.parquet(in).where(col("lang") =!= "rust"),
      CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    val rustFiles = Files.list(Paths.get(s"$in/lang=rust")).iterator().asScala
      .count((p: Path) => p.getFileName.toString.endsWith(".parquet"))
    val rustRows = files.where(col("lang") === "rust").count()
    var r: ValidationRun.Report = null
    val scans = scansOf(in) {
      r = ValidationRun.run(spark.read.parquet(in), CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    }
    assert(r.pending === Seq("rust"))
    assert(scans.length === 1)
    assert(scans.head.metrics("numFiles").value === rustFiles.toLong)
    assert(scans.head.metrics("numOutputRows").value === rustRows)
  }

  /** The number of Spark jobs `body` starts. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("a run into a fresh outDir starts exactly one Spark job: the violations write") {
    val in = s"${tmp()}/in"
    files.write.parquet(in)
    val df = spark.read.parquet(in)
    val out = tmp()
    var r: ValidationRun.Report = null
    assert(jobsOf { r = ValidationRun.run(df, CodeFiles.schema, "lang", CodeFiles.keyCols, out) } === 1)
    assert(r.pending.nonEmpty)
    assert(Checkpoint.committed(spark, out).map(_._1).toSet === r.pending.toSet)
    assertVerdictParity(df, CodeFiles.schema, "lang", out, r)
    // the commit is one file, published by one rename: no committer leftovers
    Seq("verdicts", "manifest").foreach { d =>
      assert(Files.list(Paths.get(s"$out/$d")).iterator().asScala
        .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
        .map(_.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")) === Seq("part-00000-<uuid>-c000.snappy.parquet"))
    }
  }

  test("Checkpoint.writeRows writes what Spark's Parquet writer writes: string, int, date, NULL") {
    val cases = Seq(
      StructField("lang", StringType) -> Seq("scala", "java", null),
      StructField("shard", IntegerType) -> Seq(3, -1, null),
      StructField("day", DateType) -> Seq(java.sql.Date.valueOf("2024-02-29"),
        java.sql.Date.valueOf("1969-12-31"), null))
    cases.foreach { case (part, values) =>
      val schema = StructType(Seq(part,
        StructField("n_rows", LongType, nullable = false),
        StructField("pass", BooleanType),
        StructField("run_id", StringType, nullable = false)))
      val rows = values.zipWithIndex.map { case (v, i) => Row(v, i.toLong, i % 2 == 0, "run") }
      val (mine, sparks) = (tmp(), tmp())
      Checkpoint.writeRows(spark, s"$mine/t", schema, rows)
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(s"$sparks/t")
      val (a, b) = (spark.read.parquet(s"$mine/t"), spark.read.parquet(s"$sparks/t"))
      assert(a.schema === b.schema, part.name)
      assert(a.collect().toSet === b.collect().toSet && a.count() === rows.size.toLong, part.name)
      assert(a.where(col(part.name).isNull).count() === 1L, part.name)
      // The same file: Parquet schema, codec and Spark's footer metadata.
      def footer(dir: String) = {
        val f = Files.list(Paths.get(s"$dir/t")).iterator().asScala
          .filter(_.getFileName.toString.matches("part-.*\\.parquet")).toSeq
        assert(f.size === 1)
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new HPath(f.head.toUri), spark.sparkContext.hadoopConfiguration))
        try {
          val m = r.getFooter
          (m.getFileMetaData.getSchema, m.getFileMetaData.getKeyValueMetaData.asScala.toMap,
            m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
        } finally r.close()
      }
      assert(footer(mine) === footer(sparks), part.name)
    }
  }
}
