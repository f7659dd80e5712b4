package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The validation benchmark: one closed-loop client on local[4].
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Inputs come from `graft.data.SynthGen` with the given seed and are
  * cached under `<work>/data`. A run sets up three times (session start
  * plus warm-up) and reports the median, then repeats the workload for
  * `--seconds` of timed work, checking every repetition's outputs. The
  * last line of standard output is the result as one JSON object.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** Warm-up repetitions of the first set-up. In a cold JVM the first
    * repetition takes 2 to 9 times the steady time and the second about
    * 1.2 times (4 vCPUs, Spark 4.1); the later set-ups add one each.
    */
  val WarmUps = 2
  val MinReps = 3

  val Layers: Seq[String] = Seq("compile", "resume", "validate", "verdict", "unique", "refint", "stats", "drift", "data")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  final case class Rep(seconds: Double, outBytes: Long, errors: Seq[String], traced: Boolean, runId: String)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val (origin, originMs) = (System.nanoTime(), System.currentTimeMillis())
    val loadAtLaunch = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val probe = new Probe
    val tracer = new Tracer(null, probe, origin, originMs)
    // The harness's own session: started only to generate inputs, prepare
    // the workload or measure the data layer.
    def harness(): SparkSession = {
      if (tracer.spark == null) tracer.spark = start(opts.work, probe)
      tracer.spark
    }

    tracer.runId = "harness"
    val in = Inputs.load(opts.work, opts.seed, tracer)(harness())
    val w = Workload(opts.workload, in)
    w.prepare(tracer, opts.work, () => harness())
    if (opts.trace) measureData(tracer, harness(), in)
    System.err.println(f"perfbench: harness ready after ${(System.nanoTime() - origin) / 1e9}%.1f s")

    val outRoot = s"${opts.work}/out/${opts.workload}"
    var repNo = 0
    def repetition(traced: Boolean, checked: Boolean): Rep = {
      repNo += 1
      val out = s"$outRoot/r$repNo"
      delete(out)
      tracer.runId = s"${opts.workload}-s${opts.seed}-r$repNo"
      val first = tracer.spans.size
      // Every repetition ends with a drain, so task events of an untraced
      // repetition never arrive while a traced one collects.
      probe.collectTasks = traced
      val rep = try {
        tracer.span("bench:repetition") {
          tracer.span("bench:reset")(w.reset(tracer, out))
          val before = Inputs.bytes(out)
          val t0 = System.nanoTime()
          val result = tracer.span("bench:timed")(w.run(tracer, out))
          val secs = (System.nanoTime() - t0) / 1e9
          if (traced) w.probe(tracer, out)
          tracer.drain()
          val outBytes = Inputs.bytes(out) - before
          val errors = if (checked) w.check(tracer, out, result, tracer.spans.drop(first).toSeq) else Nil
          Rep(secs, outBytes, errors, traced, tracer.runId)
        }
      } catch {
        case e: Exception =>
          val secs = tracer.spans.drop(first).find(_.name == "bench:timed").map(_.dur).getOrElse(0d)
          Rep(secs, 0L, Seq(s"repetition failed: $e"), traced, tracer.runId)
      }
      probe.collectTasks = false
      delete(out)
      System.err.println(f"perfbench: ${tracer.runId} ${if (traced) "traced" else "untraced"} ${rep.seconds}%.3f s${rep.errors.headOption.fold("")(" " + _)}")
      rep
    }

    // Set-up: a session start plus warm-up repetitions, whose harness work
    // (reset, checks) is not counted. The first set-up starts in a cold JVM
    // and runs WarmUps repetitions; the JVM stays warm across sessions, so
    // each later set-up is a session restart plus one repetition.
    val setups = (1 to SetUps).map { k =>
      Option(tracer.spark).foreach(_.stop())
      val t0 = System.nanoTime()
      tracer.spark = start(opts.work, probe)
      val sessionS = (System.nanoTime() - t0) / 1e9
      sessionS + (1 to (if (k == 1) WarmUps else 1)).map(_ => repetition(traced = false, checked = false).seconds).sum
    }

    val reps = Vector.newBuilder[Rep]
    var timed = 0d
    var n = 0
    while (timed < opts.seconds || n < MinReps * (if (opts.trace) 2 else 1)) {
      val r = repetition(traced = opts.trace && n % 2 == 1, checked = true)
      reps += r
      timed += r.seconds
      n += 1
    }
    val all = reps.result()
    val failed = all.count(_.errors.nonEmpty)
    all.flatMap(r => r.errors.take(5).map(e => s"[${r.runId}] $e")).take(20).foreach(System.err.println)

    val untraced = all.filterNot(_.traced)
    val runS = median(untraced.map(_.seconds))
    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) Seq(
        ("setup_s", median(setups), "s"),
        ("run_s", runS, "s"),
        ("rows_per_s", w.rowsPerRep / runS, "rows/s"),
        ("out_bytes_per_in_byte", median(untraced.map(_.outBytes.toDouble)) / w.inputBytes, "ratio"),
        ("ops_ok_frac", (all.size - failed).toDouble / all.size, "ratio"))
      else {
        val tracedReps = all.filter(_.traced)
        val traceFile = writeSpans(tracer, opts)
        System.err.println(s"spans: $traceFile")
        layerMetrics(tracer, w, tracedReps.map(_.runId)) :+
          ("trace_overhead_s", median(tracedReps.map(_.seconds)) - runS, "s")
      }

    val meta = Seq(
      "workload" -> q(opts.workload), "seed" -> opts.seed.toString, "trace" -> opts.trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString, "master" -> q("local[4]"),
      "load_avg_at_launch" -> loadAtLaunch.toString, "spark_version" -> q(tracer.spark.version),
      "java_version" -> q(System.getProperty("java.version")),
      "input_rows" -> in.rows.toString, "input_bytes" -> w.inputBytes.toString,
      "rows_per_repetition" -> w.rowsPerRep.toString,
      "setup_samples_s" -> arr(setups), "run_samples_s" -> arr(untraced.map(_.seconds)),
      "run_min_s" -> untraced.map(_.seconds).min.toString,
      "traced_samples_s" -> arr(all.filter(_.traced).map(_.seconds)),
      "attempted" -> all.size.toString, "failed" -> failed.toString)
    println(obj(Seq("meta" -> obj(meta))))
    val metricJson = metrics.map { case (k, v, unit) => k -> obj(Seq("value" -> num(v), "unit" -> q(unit))) }
    tracer.spark.stop()
    println(obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> all.size.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metricJson))))
  }

  private def start(work: String, probe: Probe): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(probe)
    s.listenerManager.register(probe)
    s
  }

  /** The data layer, reported apart: the generator's two calls forced
    * through the noop sink on the run's seed.
    */
  private def measureData(t: Tracer, spark: SparkSession, in: Inputs): Unit = {
    import graft.data.SynthGen
    val cfg = SynthGen.Config(rows = in.rows, seed = in.seed, partitions = Inputs.Partitions)
    def noop(df: org.apache.spark.sql.DataFrame) = df.write.format("noop").mode("overwrite").save()
    t.runId = "data"
    t.probe.collectTasks = true
    t.span("data:SynthGen.codeFiles")(noop(SynthGen.codeFiles(spark, cfg)))
    t.span("data:SynthGen.dimCommits")(noop(SynthGen.dimCommits(spark, cfg)))
    t.drain()
    t.probe.collectTasks = false
  }

  /** Per-layer medians over the traced repetitions (the data layer over
    * its own measurement).
    */
  private def layerMetrics(t: Tracer, w: Workload, runIds: Seq[String]): Seq[(String, Double, String)] = {
    val p = t.probe
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    def layerValues(ids: Seq[String], layer: String): Seq[Seq[Double]] = ids.map { id =>
      val ls = spans.filter(s => s.runId == id && s.layer == layer)
      val c = ls.map(s => p.countersOf(s.id))
      val execs = ls.flatMap(s => p.execsOf(s.id))
      Seq(
        ls.map(s => Trace.selfTime(s, children.getOrElse(s.id, Nil))).sum,
        execs.map(_.planS).sum,
        c.map(_.taskMs).sum / 1e3,
        execs.flatMap(_.scans).map(_.bytes).sum.toDouble, execs.flatMap(_.scans).map(_.rows).sum.toDouble,
        c.map(_.shuffleBytes).sum.toDouble, c.map(_.spillBytes).sum.toDouble,
        c.map(_.writeBytes).sum.toDouble)
    }
    val base = Layers.flatMap { layer =>
      val values = layerValues(if (layer == "data") Seq("data") else runIds, layer)
      Seq(("wall_s", "s"), ("plan_s", "s"), ("task_s", "s"), ("scan_bytes", "bytes"), ("scan_rows", "rows"),
        ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("write_bytes", "bytes")).zipWithIndex.map {
        case ((m, unit), i) => (s"$layer.$m", median(values.map(_(i))), unit)
      }
    }

    def perRep(name: String)(f: Seq[Span] => Double): Double =
      median(runIds.map(id => f(spans.filter(s => s.runId == id && s.name == name))))
    def runExecs(ss: Seq[Span]) = ss.flatMap(s => p.execsOf(s.id))
    val run = "resume:ValidationRun.run"
    def phase(kinds: Set[String]) = perRep(run)(ss => runExecs(ss).filter(e => kinds(Trace.kind(e))).map(_.durationS).sum)
    val writes = Set("violations_write", "verdicts_write", "manifest_write")
    def inputScans(ss: Seq[Span]) = runExecs(ss).flatMap(_.scans).filter(_.paths.contains(w.inputDir))
    val extra = Seq(
      ("resume.input_scans", perRep(run)(inputScans(_).size.toDouble), "count"),
      ("resume.scan_rows_per_pending_row", perRep(run)(inputScans(_).map(_.rows).sum.toDouble / w.rowsPerRep), "ratio"),
      ("resume.run.pending_s", perRep(run)(ss => runExecs(ss).filterNot(e => writes(Trace.kind(e))).map(_.durationS).sum), "s"),
      ("resume.run.violations_write_s", phase(Set("violations_write")), "s"),
      ("resume.run.verdicts_write_s", phase(Set("verdicts_write")), "s"),
      ("resume.run.commit_s", phase(Set("manifest_write")), "s"),
      ("validate.violation_rows",
        perRep("validate:Validator.violations")(runExecs(_).filter(_.sink.contains("noop")).map(_.rowsOut).sum.toDouble), "rows"),
      ("unique.task_skew", median(runIds.map(id => p.taskSkew(spans.filter(s => s.runId == id && s.layer == "unique").map(_.id).toSet))), "ratio"),
      ("refint.task_skew", median(runIds.map(id => p.taskSkew(spans.filter(s => s.runId == id && s.layer == "refint").map(_.id).toSet))), "ratio"))
    base ++ extra
  }

  private def writeSpans(t: Tracer, o: Opts): String = {
    val dir = Paths.get(s"${o.work}/trace")
    Files.createDirectories(dir)
    val file = dir.resolve(s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}.jsonl")
    val lines = t.spans.map(Trace.json) ++ t.sqlSpans.map(s => Trace.json(s._1))
    Files.write(file, lines.asJava)
    file.toString
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0d
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def arr(xs: Seq[Double]) = xs.map(_.toString).mkString("[", ",", "]")
  private def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workload.Names.contains(workload), s"unknown workload '$workload' (${Workload.Names.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got '$trace'")
    Opts(workload, need("seed").toLong, need("seconds").toDouble, trace == "1", need("work"))
  }
}
