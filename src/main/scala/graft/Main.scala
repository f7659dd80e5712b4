package graft

import graft.data.SynthGen
import graft.resume.{Checkpoint, ValidationRun}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the full validation pipeline.
  *
  * {{{
  * spark-submit --class graft.Main cerberusspark.jar \
  *   [--input <parquet path>] [--rows N] [--out <dir>] [--partitions P]
  * }}}
  *
  * Without `--input`, validates the seeded synthetic code-file table
  * (`--rows`, default 100k). Resumable: re-running with the same
  * `--out` skips committed partitions (see [[graft.resume.Checkpoint]]).
  */
object Main {
  private val flags = Seq("input", "rows", "out", "partitions")

  /** `--flag value` pairs of the four flags above. An unknown flag, a
    * flag without a value, a repeated flag or a stray argument throws
    * `IllegalArgumentException`: a typo such as `--ouput` must not fall
    * back to a default `--out` that may hold another run's manifest.
    */
  def parseArgs(args: Seq[String]): Map[String, String] =
    args.grouped(2).foldLeft(Map.empty[String, String]) { (opts, pair) =>
      val k = pair.head.stripPrefix("--")
      require(pair.head.startsWith("--") && flags.contains(k),
        s"unknown argument '${pair.head}'; expected ${flags.mkString("--", ", --", "")}")
      require(pair.size == 2 && !pair(1).startsWith("--"), s"--$k needs a value")
      require(!opts.contains(k), s"--$k given twice")
      opts + (k -> pair(1))
    }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq)
    val rows = opts.getOrElse("rows", "100000").toLong
    val out = opts.getOrElse("out", "/tmp/graft-run")
    val parts = opts.getOrElse("partitions", "32").toInt

    val builder = SparkSession.builder()
      .appName("graft-validation")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", parts.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // Under spark-submit the master comes from the launcher; standalone
    // runs (sbt runMain) fall back to local mode.
    val spark =
      if (sys.props.contains("spark.master")) builder.getOrCreate()
      else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val input = opts.get("input") match {
      case Some(path) => spark.read.parquet(path)
      case None => SynthGen.codeFiles(spark,
        SynthGen.Config(rows = rows, partitions = parts))
    }

    val t0 = System.nanoTime()
    val report = ValidationRun.run(
      input, CodeFiles.schema, "lang", CodeFiles.keyCols, out)
    val secs = (System.nanoTime() - t0) / 1e9

    println(s"run_id=${report.runId}")
    println(s"partitions_processed=${report.pending.size} skipped=${report.skipped}")
    println(f"wall_sec=$secs%.2f")
    Checkpoint.processed(spark, out)
      .orderBy("partition")
      .show(100, truncate = false)
    spark.stop()
  }
}
