package graft

import graft.data.SynthGen
import graft.index.IndexStore
import graft.resume.{Checkpoint, ValidationRun}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Files
import scala.util.Try

/** Crash proof for every path that replaces a persisted artifact: each
  * is run once per step of its fault-free run, with a one-shot fault at
  * that step ([[FaultyFileSystem]]), and a reader must then see the
  * state before or after the interrupted operation — never an absent or
  * partial artifact — and a fault-free retry must complete it.
  */
class CrashSpec extends SparkSpec {
  import spark.implicits._

  private lazy val registered: Unit =
    FaultyFileSystem.register(spark.sparkContext.hadoopConfiguration)

  /** A fresh directory under the faulty scheme. */
  private def fresh(name: String): String = {
    registered
    FaultyFileSystem.uri(Files.createTempDirectory(s"graft-crash-$name").toString)
  }

  private def local(dir: String): File = new File(new Path(dir).toUri.getPath)

  /** Spark logs every injected task failure and every read of a path
    * not yet written; keep the test output quiet.
    */
  private def quietly[T](body: => T): T = {
    val level = org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString
    spark.sparkContext.setLogLevel("OFF")
    try body finally spark.sparkContext.setLogLevel(level)
  }

  /** Crash-tests the operation `stages` (run in order on a fresh
    * directory prepared by `setup`). The fault-free run gives each
    * stage's step count and the `view` a reader sees at each stage
    * boundary. Then for every step k of the K in total: a fresh run
    * faulted once at k must leave a view that is one of those boundary
    * views, no earlier than the start of the faulted stage, and a
    * fault-free rerun of the faulted stage and those after it must
    * reach the final view and pass `after`. Returns each stage's step
    * count.
    */
  private def crashProof[V](name: String)(
      setup: String => Unit = _ => (),
      stages: Seq[String => Unit],
      view: String => V,
      after: String => Unit = _ => ()): Seq[Int] = quietly {
    val dir0 = fresh(name)
    setup(dir0)
    val views = Seq.newBuilder[V]
    views += view(dir0)
    val perStage = stages.map { stage =>
      val (n, _) = FaultyFileSystem.run(dir0, 0)(stage(dir0))
      views += view(dir0)
      n
    }
    val boundary = views.result()
    val total = perStage.sum
    assert(total > 0, s"$name: no counted step")
    (1 to total).foreach { k =>
      val dir = fresh(name)
      setup(dir)
      val (_, fired) = FaultyFileSystem.run(dir, k)(stages.foreach(_(dir)))
      assert(fired, s"$name: no fault fired at step $k of $total")
      val faulted = perStage.scanLeft(0)(_ + _).tail.indexWhere(k <= _)
      val seen = view(dir)
      assert(boundary.drop(faulted).contains(seen),
        s"$name: a fault at step $k (stage ${faulted + 1}) left $seen")
      stages.drop(faulted).foreach(_(dir))
      assert(view(dir) === boundary.last, s"$name: the retry after step $k")
      after(dir)
    }
    perStage
  }

  /** No stray temp entry and at most two versions under an artifact root. */
  private def tidy(root: File): Unit = {
    val names = root.list().toSeq
    assert(!names.exists(_.startsWith("_tmp-")), s"stray temp under $root: $names")
    assert(names.count(_.matches("v-\\d+")) <= 2, s"unpruned versions under $root: $names")
  }

  test("buildDriftBaseline, append, rebuild: a crash leaves no baseline, or bins with their own edges") {
    val base = spark.range(0L, 240L, 1L, 2)
      .select(($"id" % 3).cast("string").as("g"), ($"id" * 7 % 101).cast("double").as("v"))
    // the rebuild changes the binning: bins read with the other build's
    // edges show up in the view, and an unreadable baseline shows as None
    val ks = crashProof[Option[(Seq[String], Seq[Double])]]("drift")(
      stages = Seq(
        dir => IndexStore.buildDriftBaseline(base.where($"v" < 50), "v", Seq("g"), s"$dir/drift",
          nBins = 4, exact = true),
        dir => IndexStore.appendDriftBaseline(base.where($"v" >= 50), s"$dir/drift", "rest"),
        dir => IndexStore.buildDriftBaseline(base, "v", Seq("g"), s"$dir/drift",
          nBins = 8, exact = true)),
      view = dir => Try(IndexStore.loadDriftBaseline(spark, s"$dir/drift")).toOption.map {
        case (bins, meta) => (bins.collect().map(_.toString).toSeq.sorted, meta.edges)
      },
      after = dir => tidy(new File(local(dir), "drift/data")))
    info(s"K for build, append, rebuild: ${ks.mkString(", ")}")
  }

  test("Checkpoint.commit: a crash leaves the prior or all new rows; a retry adds the rest") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(Checkpoint.manifestSchema)
    def entries(keys: Seq[String]) = spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k =>
        org.apache.spark.sql.Row(k, "run", 1L, 0L, 0L, true, 1L, 1L)), 1),
      schema)
    val prior = Seq("scala", "java")
    val added = Seq("rust", "go", Checkpoint.NullPartitionToken)
    val ks = crashProof[Seq[String]]("manifest")(
      setup = dir => Checkpoint.commit(spark, dir, entries(prior)),
      // resume commits only what the manifest does not hold yet
      stages = Seq { dir =>
        val rest = added.filterNot(Checkpoint.committed(spark, dir).map(_._1).toSet)
        if (rest.nonEmpty) Checkpoint.commit(spark, dir, entries(rest))
      },
      view = dir => Checkpoint.committed(spark, dir).map(_._1).sorted)
    info(s"K: ${ks.mkString}")
  }

  test("ValidationRun.run, then a resumed run: a crash leaves a stage boundary; a retry reaches the clean run") {
    val in = s"${Files.createTempDirectory("graft-crash-input")}/in"
    SynthGen.codeFiles(spark, SynthGen.Config(rows = 300L, partitions = 1, badCommitPerMille = 100))
      .write.parquet(in)
    val input = spark.read.parquet(in)
    def run(df: DataFrame)(dir: String): Unit =
      ValidationRun.run(df, CodeFiles.schema, "lang", CodeFiles.keyCols, dir)
    // A crashed run's output, for each fresh directory to start with:
    // another run's violation files under an id no manifest row names,
    // and that run's verdicts file.
    val donor = Files.createTempDirectory("graft-crash-donor").toString
    run(input.where($"lang" === "rust"))(donor)
    val donorDir = new File(Checkpoint.violationsPath(donor)).listFiles()
      .filter(_.getName.startsWith("run_id=")).head
    val donorVerdicts = new File(Checkpoint.verdictsPath(donor)).listFiles()
      .filterNot(_.getName.startsWith(".")).head
    def runDirs(dir: String): Set[String] =
      Option(new File(local(dir), "violations").list()).toSet.flatten.filter(_.startsWith("run_id="))
    def verdictFiles(dir: String): Set[String] =
      Option(new File(local(dir), "verdicts").list()).toSet.flatten
    def liveRuns(dir: String): Seq[String] = Checkpoint.committed(spark, dir).map(_._2).distinct
    def sorted(df: DataFrame): Seq[String] = df.drop("run_id").collect().map(_.toString).toSeq.sorted
    val ks = crashProof[(Seq[String], Seq[String], Seq[String])]("run")(
      setup = { dir =>
        org.apache.commons.io.FileUtils.copyDirectory(donorDir,
          new File(local(dir), "violations/run_id=crashed"))
        org.apache.commons.io.FileUtils.copyFileToDirectory(donorVerdicts,
          new File(local(dir), "verdicts"))
      },
      stages = Seq(run(input.where($"lang".isin("scala", "java"))), run(input)),
      view = { dir =>
        val (parts, runs) = Checkpoint.committed(spark, dir).unzip
        if (runs.isEmpty) (Nil, Nil, Nil)
        else (parts.sorted, sorted(Checkpoint.violations(spark, dir)),
          sorted(spark.read.parquet(s"$dir/verdicts").where($"run_id".isin(runs.distinct: _*))))
      },
      after = { dir =>
        val live = liveRuns(dir)
        assert(runDirs(dir).subsetOf(live.map("run_id=" + _).toSet),
          s"orphan run directories under $dir: ${runDirs(dir)}")
        val rawRuns = spark.read.parquet(s"$dir/verdicts").select("run_id").distinct().as[String]
        assert(rawRuns.collect().toSet.subsetOf(live.toSet), s"orphan verdict rows under $dir")
        assert(verdictFiles(dir).forall(n =>
          live.exists(id => n.startsWith(Checkpoint.verdictsFileStem(id) + "."))),
          s"orphan verdicts files under $dir: ${verdictFiles(dir)}")
      })
    info(s"K for a run over two langs, then the resumed run: ${ks.mkString(", ")}")
  }
}
