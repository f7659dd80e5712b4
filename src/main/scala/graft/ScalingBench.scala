package graft

import graft.data.SynthGen
import graft.refint.RefIntegrity
import graft.resume.ValidationRun
import graft.unique.Uniqueness
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence protocol from BASELINE.md: run the IDENTICAL
  * validation job on IDENTICAL parquet input at two local parallelism
  * levels (N and 4N cores), report throughput at both and efficiency
  * = (throughput_4N / throughput_N) / 4, plus a result-equality
  * checksum across levels (scaling must not change answers).
  *
  * {{{ sbt "runMain graft.ScalingBench [rows] [n] [runs] [job] [mode]" }}}
  * Defaults: rows=2000000, n=8 (so 4N=32), runs=3 (after 1 warm-up),
  * job=full, mode=block.
  * Prints one JSON line; full protocol + measured numbers live in
  * BASELINE.md.
  */
object ScalingBench {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // shuffle partitions proportional to cores (2×), per protocol
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle files on tmpfs: this sandbox has ONE slow disk shared by
      // all "executors"; a real cluster has local NVMe per node. Without
      // this the shuffle write bandwidth is the same fixed ceiling at
      // every core count and the scaling measurement measures the disk.
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The jobs [[pipeline]] can time; any other name is refused before
    * a session starts or any input is generated.
    */
  private val Jobs: Seq[String] = Seq("full", "verdict", "unique", "ri")

  /** The measured job over the code-file table. `full` is a
    * `ValidationRun.run` into the fresh directory `out` (violations
    * write, verdicts and manifest commit) + uniqueness + referential
    * integrity; `verdict` is the per-lang verdict aggregate alone;
    * `unique` and `ri` are the uniqueness and referential-integrity
    * summaries alone.
    * Returns (violations, badRows, dupRows, orphans) — the checksum.
    */
  private def pipeline(spark: SparkSession, inputPath: String, dimPath: String,
      job: String, out: String): (Long, Long, Long, Long) = {
    val df = spark.read.parquet(inputPath)
    val dim = spark.read.parquet(dimPath)
    val verdictTotals = (v: DataFrame) => v.agg(sum(col("n_violations")), sum(col("n_bad_rows"))).head()
    val verdicts =
      if (job == "full")
        verdictTotals(ValidationRun.run(df, CodeFiles.schema, "lang", CodeFiles.keyCols, out).verdicts)
      else if (job == "verdict") verdictTotals(Verdict.compute(df, CodeFiles.schema, "lang"))
      else null
    val uniq =
      if (job == "full" || job == "unique")
        Uniqueness.summary(df, Seq("repo", "path", "commit")).head()
      else null
    // dim here is ~O(rows) distinct pairs — far too big to broadcast
    // (serial driver-side build would cap scaling); sort-merge is the
    // correct plan at this dim cardinality.
    val ri =
      if (job == "full" || job == "ri")
        RefIntegrity.summary(
          df.where(col("repo").isNotNull),
          dim, Seq("repo", "commit"), broadcastDim = false).head()
      else null
    (if (verdicts != null) verdicts.getLong(0) else -1L,
      if (verdicts != null) verdicts.getLong(1) else 0L,
      if (uniq != null) uniq.getAs[Long]("n_dup_rows") else 0L,
      if (ri != null) ri.getAs[Long]("n_orphans") else 0L)
  }

  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).map(_.toLong).getOrElse(2000000L)
    val n = args.lift(1).map(_.toInt).getOrElse(8)
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val job = args.lift(3).getOrElse("full")
    require(Jobs.contains(job), s"unknown job '$job' (${Jobs.mkString(" | ")})")
    val mode = args.lift(4).getOrElse("block")
    require(mode == "block" || mode == "interleaved",
      s"unknown mode '$mode' (block | interleaved) — refusing to record " +
        "evidence under a misattributed methodology label")
    val input = s"/tmp/graft-scaling/input-$rows"
    val dimP = s"/tmp/graft-scaling/dim-$rows"

    // Generate the input ONCE (seeded, deterministic) and reuse the
    // same parquet files at both levels.
    locally {
      val s = session(4 * n)
      val cfg = SynthGen.Config(rows = rows, partitions = 8 * n)
      SynthGen.codeFiles(s, cfg).write.mode("overwrite").parquet(input)
      SynthGen.dimCommits(s, cfg).write.mode("overwrite").parquet(dimP)
      s.stop()
    }

    // One timed pipeline run, writing into a fresh out dir that is
    // deleted after the timer stops.
    def timed(s: SparkSession): (Double, (Long, Long, Long, Long)) = {
      val out = new org.apache.hadoop.fs.Path(s"/tmp/graft-scaling/out-${java.util.UUID.randomUUID()}")
      try {
        val t0 = System.nanoTime()
        val c = pipeline(s, input, dimP, job, out.toString)
        ((System.nanoTime() - t0) / 1e9, c)
      } finally out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
    }

    // Estimator: MIN across runs, not median. This sandbox is a shared
    // host with external load spikes (observed 1-min load 0.2 → 13.8
    // with nothing of ours running); interference only ever ADDS time,
    // so the min approximates the uncontended wall clock. All samples
    // are printed for transparency.
    def measure(cores: Int): (Double, Seq[Double], (Long, Long, Long, Long)) = {
      val s = session(cores)
      val check = timed(s)._2 // warm-up (JIT + codegen cache)
      val times = (1 to runs).map { _ =>
        val (t, c) = timed(s)
        require(c == check, s"result drift across runs at $cores cores: $c vs $check")
        t
      }
      s.stop()
      (times.min, times, check)
    }

    // One timed sample in its own session (local mode allows only one
    // SparkContext per JVM, so levels cannot run concurrently). The JIT
    // and Janino codegen caches are JVM-wide and survive session
    // restarts, so after the one-time per-level warm-up below a fresh
    // session pays only lazy-init noise (~1 s) — charged to BOTH levels
    // equally (and relatively more to the faster one, i.e. the
    // conservative direction for efficiency).
    def sampleOnce(cores: Int): (Double, (Long, Long, Long, Long)) = {
      val s = session(cores)
      try timed(s) finally s.stop()
    }

    val (samplesN, samples4N, checkN) =
      if (mode == "interleaved") {
        // Alternate N / 4N samples so this host's multi-minute external
        // load waves hit both levels symmetrically, instead of poisoning
        // one level's whole measurement block (the failure mode of the
        // default block mode under contention — see BASELINE.md).
        val warm = sampleOnce(n)._2 // JIT + codegen warm-up, untimed level-wise
        sampleOnce(4 * n)
        val pairs = (1 to runs).map { _ =>
          val (a, ca) = sampleOnce(n)
          val (b, cb) = sampleOnce(4 * n)
          require(ca == warm && cb == warm,
            s"result drift across interleaved samples: $ca / $cb vs $warm")
          (a, b)
        }
        (pairs.map(_._1), pairs.map(_._2), warm)
      } else {
        val (_, sN, cN) = measure(n)
        val (_, s4N, c4N) = measure(4 * n)
        require(cN == c4N,
          s"results differ across parallelism levels: $cN vs $c4N")
        (sN, s4N, cN)
      }

    val tN = samplesN.min
    val t4N = samples4N.min
    val thrN = rows / tN
    val thr4N = rows / t4N
    val eff = (thr4N / thrN) / 4.0
    def arr(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString("[", ",", "]")
    val pairEffs =
      if (mode == "interleaved")
        s""","pair_efficiencies":${arr(samplesN.zip(samples4N).map { case (a, b) => a / (4 * b) })}"""
      else ""
    println(
      f"""{"metric":"scaling","job":"$job","mode":"$mode","rows":$rows,"cores_n":$n,"cores_4n":${4 * n},"min_sec_n":$tN%.3f,"min_sec_4n":$t4N%.3f,"samples_n":${arr(samplesN)},"samples_4n":${arr(samples4N)}$pairEffs,"rows_per_sec_n":${thrN.toLong},"rows_per_sec_4n":${thr4N.toLong},"efficiency":$eff%.3f,"pass":${eff >= 0.8},"checksum":"${checkN.toString.replace("\"", "")}"}""")
  }
}
