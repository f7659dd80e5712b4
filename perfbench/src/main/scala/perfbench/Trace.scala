package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Sha2
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A file scan in an executed plan: its root paths, rows out and bytes of
  * the files it read, from the scan's SQL metrics.
  */
final case class Scan(paths: String, rows: Long, bytes: Long)

/** One SQL execution as its executed plan shows it. `sink` is the output
  * path of a file write, "noop" for the noop sink, None for actions such
  * as collect.
  */
final case class Exec(
    id: Long,
    durationS: Double,
    planS: Double,
    sink: Option[String],
    hasSha2: Boolean,
    hasExchange: Boolean,
    scans: Seq[Scan],
    rowsOut: Long,
    metricIds: Set[Long])

/** Task totals of the jobs that ran under one span. */
final class Counters {
  var taskMs, shuffleBytes, spillBytes, writeBytes = 0L
}

/** A timed call made by the benchmark. Times are seconds since the run
  * began; `parent` is -1 for a root span. The layer is the name's prefix
  * before the first ':'.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String, start: Double, end: Double) {
  def layer: String = name.takeWhile(_ != ':')
  def dur: Double = end - start
}

/** Spark's public listeners, registered by the benchmark. Every call the
  * benchmark makes runs under a job tag naming its span; the SQL-execution
  * start event carries the tags, so each execution, job, stage and task is
  * attributed to the innermost span that started it. An execution is
  * matched to its QueryExecutionListener callback through the SQL metrics
  * they share: the start event (and each adaptive re-plan) lists the
  * accumulator ids of the plan's metrics, and the callback's executed plan
  * holds the same metric objects. Task metrics are summed only while
  * `collectTasks` is set (traced repetitions); plan facts are always kept,
  * because the plan guard needs them on every repetition.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var collectTasks = false
  private val execSpan = mutable.Map[Long, Int]()
  private val execWindow = mutable.Map[Long, (Long, Long)]()
  private val execMetricIds = mutable.Map[Long, Set[Long]]()
  // QueryExecution.id -> callback, and metric accumulator id -> QueryExecution.id
  private val execs = mutable.Map[Long, Exec]()
  private val byMetric = mutable.Map[Long, Long]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val counters = mutable.Map[Int, Counters]()
  // (span, stage) -> task durations in ms, and whether the stage read shuffle data
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val shuffleStages = mutable.Set[(Int, Int)]()
  private val drainExec = mutable.Map[String, Long]()

  private def spanOf(tags: Iterable[String]): Option[Int] =
    tags.collect { case t if t.startsWith(Probe.SpanTag) => t.stripPrefix(Probe.SpanTag).toInt }
      .maxOption

  private def metricIds(info: SparkPlanInfo): Set[Long] =
    info.metrics.map(_.accumulatorId).toSet ++ info.children.flatMap(metricIds)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      spanOf(s.jobTags).foreach(execSpan(s.executionId) = _)
      execWindow(s.executionId) = (s.time, s.time)
      execMetricIds(s.executionId) = metricIds(s.sparkPlanInfo)
      s.jobTags.filter(_.startsWith(Probe.DrainTag)).foreach(drainExec(_) = s.executionId)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      execMetricIds(u.executionId) = execMetricIds.getOrElse(u.executionId, Set.empty) ++ metricIds(u.sparkPlanInfo)
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execWindow.get(e.executionId).foreach { case (t0, _) => execWindow(e.executionId) = (t0, e.time) }
    }
    case _ =>
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(job.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    // Stage ids restart with each SparkContext: forget stale owners.
    job.stageIds.foreach(id => spanOf(tags) match {
      case Some(span) => stageSpan(id) = span
      case None => stageSpan.remove(id)
    })
  }

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit = if (collectTasks) synchronized {
    for (span <- stageSpan.get(task.stageId); m <- Option(task.taskMetrics)) {
      val c = counters.getOrElseUpdate(span, new Counters)
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.writeBytes += m.outputMetrics.bytesWritten
      val key = (span, task.stageId)
      stageTasks.getOrElseUpdate(key, mutable.ArrayBuffer()) += task.taskInfo.duration
      if (m.shuffleReadMetrics.recordsRead > 0) shuffleStages += key
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val e = Probe.describe(qe, durationNs)
    synchronized {
      execs(e.id) = e
      e.metricIds.foreach(byMetric(_) = e.id)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The listener callback of SQL execution `executionId`, once both have arrived. */
  private def execOf(executionId: Long): Option[Exec] =
    execMetricIds.getOrElse(executionId, Set.empty).iterator.flatMap(byMetric.get).nextOption().flatMap(execs.get)

  /** True once both the start event and the execution callback of the
    * query run under `tag` have arrived.
    */
  def sawDrain(tag: String): Boolean = synchronized(drainExec.get(tag).flatMap(execOf).isDefined)

  def execsOf(span: Int): Seq[Exec] = synchronized {
    execSpan.collect { case (id, s) if s == span => execOf(id) }.flatten.toSeq.sortBy(_.id)
  }

  /** (span, execution, start ms, end ms) of every execution started under a span. */
  def sqlWindows: Seq[(Int, Exec, Long, Long)] = synchronized {
    execSpan.toSeq.flatMap { case (id, span) =>
      for (e <- execOf(id); (t0, t1) <- execWindow.get(id)) yield (span, e, t0, t1)
    }.sortBy(_._2.id)
  }

  def countersOf(span: Int): Counters = synchronized(counters.getOrElse(span, new Counters))

  /** Max over median task time of the shuffle-reading stage with the most
    * tasks among `spans`; 0 when none of them read shuffle data.
    */
  def taskSkew(spans: Set[Int]): Double = synchronized {
    val stages = shuffleStages.filter(k => spans(k._1)).toSeq.map(stageTasks)
    if (stages.isEmpty) 0d
    else {
      val widest = stages.maxBy(ts => (ts.size, ts.sum))
      val sorted = widest.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)).toDouble
    }
  }
}

object Probe {
  val SpanTag = "perfbench-span-"
  val DrainTag = "perfbench-drain-"

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case o => o.children ++ o.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => nodes(p).drop(1).find(_.metrics.contains("numOutputRows"))
      .map(_.metrics("numOutputRows").value).getOrElse(0L)
  }

  def describe(qe: QueryExecution, durationNs: Long): Exec = {
    val all = nodes(qe.executedPlan)
    val write = all.collectFirst { case w: DataWritingCommandExec => w }
    val sink = write.map(_.cmd) match {
      case Some(i: InsertIntoHadoopFsRelationCommand) => Some(i.outputPath.toString)
      case Some(other) => Some(other.nodeName)
      case None if all.exists(_.isInstanceOf[V2TableWriteExec]) => Some("noop")
      case None => None
    }
    val rows = write match {
      case Some(w) => w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case None => all.headOption.map(rowsOut).getOrElse(0L)
    }
    Exec(
      id = qe.id,
      durationS = durationNs / 1e9,
      planS = qe.tracker.phases.values.map(_.durationMs).sum / 1e3,
      sink = sink,
      hasSha2 = all.exists(_.expressions.exists(_.exists(_.isInstanceOf[Sha2]))),
      hasExchange = all.exists(_.isInstanceOf[ShuffleExchangeLike]),
      scans = all.collect { case f: FileSourceScanExec =>
        def metric(name: String) = f.metrics.get(name).map(_.value).getOrElse(0L)
        Scan(f.relation.location.rootPaths.mkString(","), metric("numOutputRows"), metric("filesSize"))
      },
      rowsOut = rows,
      metricIds = all.flatMap(_.metrics.values.map(_.id)).toSet)
  }
}

/** Records spans around the benchmark's calls into the engine and tags
  * the Spark jobs each call starts. Spans stay in memory; the run writes
  * them out when it ends.
  */
final class Tracer(var spark: SparkSession, val probe: Probe, origin: Long, originMs: Long) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var drains = 0
  var runId = ""

  private def now: Double = (System.nanoTime() - origin) / 1e9

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val tag = Probe.SpanTag + id
    val start = now
    spans += Span(id, name, parent, runId, start, start)
    stack = id :: stack
    spark.sparkContext.addJobTag(tag)
    try body
    finally {
      spark.sparkContext.removeJobTag(tag)
      stack = stack.tail
      spans(id) = spans(id).copy(end = now)
    }
  }

  /** Waits until the listeners have seen every event posted so far: runs
    * a one-row query under a fresh tag and waits for its start event and
    * its execution callback, which the listener bus delivers after all
    * earlier events.
    */
  def drain(): Unit = {
    drains += 1
    val tag = Probe.DrainTag + drains
    spark.sparkContext.addJobTag(tag)
    try spark.range(1).write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.removeJobTag(tag)
    val deadline = System.nanoTime() + 30000000000L
    while (!probe.sawDrain(tag)) {
      require(System.nanoTime() < deadline, "Spark listener events did not arrive within 30 s")
      Thread.sleep(2)
    }
  }

  /** SQL executions as child spans of the call that started them, named
    * `<layer>:sql:<kind>`.
    */
  def sqlSpans: Seq[(Span, Exec)] = {
    val byId = spans.map(s => s.id -> s).toMap
    probe.sqlWindows.flatMap { case (spanId, e, t0, t1) => byId.get(spanId).map(p => (p, e, t0, t1)) }
      .zipWithIndex.map { case ((p, e, t0, t1), i) =>
        (Span(spans.size + i, s"${p.layer}:sql:${Trace.kind(e)}", p.id, p.runId,
          (t0 - originMs) / 1e3, (t1 - originMs) / 1e3), e)
      }
  }
}

object Trace {

  /** What an execution did, named by its sink: the output directory's
    * last component for file writes, else the sink or "read".
    */
  def kind(e: Exec): String = e.sink match {
    case Some(p) if p.contains("/") => p.split('/').last + "_write"
    case Some(s) => s
    case None => "read"
  }

  /** Time a span spent outside its children of other layers. */
  def selfTime(s: Span, children: Seq[Span]): Double = {
    val covered = children.filter(_.layer != s.layer)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foldLeft((0d, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach)
        else (sum + b - math.max(a, reach), b)
      }._1
    s.dur - covered
  }

  def json(s: Span): String =
    f"""{"id":${s.id},"name":"${s.name}","start":${s.start}%.6f,"end":${s.end}%.6f,"parent":${s.parent},"run_id":"${s.runId}"}"""
}
