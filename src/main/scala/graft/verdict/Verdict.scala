package graft.verdict

import graft.compile.RuleCompiler
import graft.schema.{Schema, Severity}
import graft.validate.Validator
import org.apache.spark.sql.{Column, DataFrame, Encoder, Observation, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-partition pass/fail verdicts + metrics.
  *
  * Mirrors the reference's validate-all-then-commit shape: an import is
  * accepted only when every record passes (app/.../HomeViewModel.kt:
  * 168-175); here a partition passes only when it contributed zero
  * ERROR-severity violations. Warnings are data — reported, rolled up,
  * never failing (the reference's three outcome channels,
  * app/.../HomeViewModel.kt:179-185). Runs as one hash aggregate over
  * integer flags (partial aggregation map-side, no violation-row
  * materialization).
  */
object Verdict {

  /** Verdict table: one row per value of `partitionCol` with
    * `(partitionCol, n_rows, n_bad_rows, n_violations, n_warnings,
    * n_errors, worst_severity, pass)`. `pass` = zero violations on a
    * failing channel (severity ≥ error); `worst_severity` is the max
    * severity observed in the partition (null when clean).
    */
  def compute(df: DataFrame, schema: Schema, partitionCol: String): DataFrame =
    counted(df, schema)
      .groupBy(col(partitionCol))
      .agg(metrics.head, metrics.tail: _*)

  /** [[Validator.annotate]] plus the per-row error, warning and
    * worst-severity counters that [[metrics]] aggregates.
    */
  private def counted(df: DataFrame, schema: Schema): DataFrame =
    Validator
      .annotate(df, schema)
      .withColumn("__n_err", RuleCompiler.errorCount(schema))
      .withColumn("__n_warn", RuleCompiler.warningCount(schema))
      .withColumn("__worst", RuleCompiler.worstSeverityRank(schema))

  /** The verdict metrics over [[counted]] rows, in output order. */
  private val metrics: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    sum(when(col("n_violations") > 0, 1L).otherwise(0L)).as("n_bad_rows"),
    sum(col("n_violations").cast("long")).as("n_violations"),
    sum(col("__n_warn").cast("long")).as("n_warnings"),
    sum(col("__n_err").cast("long")).as("n_errors"),
    RuleCompiler.severityName(max(col("__worst"))).as("worst_severity"),
    (sum(col("__n_err").cast("long")) === 0L).as("pass"))

  /** One partition's verdict metrics, as [[compute]] aggregates them;
    * `worstRank` is -1 for a clean partition.
    */
  final case class PartitionCounts(
      nRows: Long,
      nBadRows: Long,
      nViolations: Long,
      nWarnings: Long,
      nErrors: Long,
      worstRank: Int) {
    def pass: Boolean = nErrors == 0L
  }

  /** One row's input to [[CountsByPartition]], in [[observeCounts]]'s
    * counter-column order.
    */
  final case class RowCounts(
      key: String,
      nViolations: Int,
      nErrors: Int,
      nWarnings: Int,
      worstRank: Int)

  /** Partition key → [[PartitionCounts]] as ONE global aggregate, the
    * map-valued aggregate Spark has no built-in for (an observed metric
    * must be a single row). The buffer holds one counter array per key:
    * rows, bad rows, violations, warnings, errors, worst rank.
    */
  private object CountsByPartition
      extends Aggregator[RowCounts, Map[String, Array[Long]], Map[String, PartitionCounts]] {
    type Buf = Map[String, Array[Long]]

    def zero: Buf = Map.empty

    def reduce(b: Buf, r: RowCounts): Buf =
      add(b, r.key, Array(1L, if (r.nViolations > 0) 1L else 0L,
        r.nViolations.toLong, r.nWarnings.toLong, r.nErrors.toLong, r.worstRank.toLong))

    def merge(b1: Buf, b2: Buf): Buf =
      b2.foldLeft(b1) { case (acc, (k, c)) => add(acc, k, c) }

    private def add(b: Buf, key: String, c: Array[Long]): Buf = b.get(key) match {
      case Some(a) =>
        for (i <- 0 until 5) a(i) += c(i)
        a(5) = math.max(a(5), c(5))
        b
      case None => b.updated(key, c)
    }

    def finish(b: Buf): Map[String, PartitionCounts] =
      b.map { case (k, a) => k -> PartitionCounts(a(0), a(1), a(2), a(3), a(4), a(5).toInt) }

    // Derived once: each derivation walks the types by Scala reflection.
    val bufferEncoder: Encoder[Buf] = ExpressionEncoder[Buf]()

    val outputEncoder: Encoder[Map[String, PartitionCounts]] =
      ExpressionEncoder[Map[String, PartitionCounts]]()

    val inputEncoder: Encoder[RowCounts] = ExpressionEncoder[RowCounts]()
  }

  private val CountsMetric = "partition_counts"

  /** `columns` of `df` plus, in the SAME projection, the per-row
    * counters behind [[compute]]'s metrics, aggregated per
    * `partitionKey` (a non-null string) into `observation` by whatever
    * action runs the returned frame; read them with [[observedCounts]].
    * One projection lets Catalyst evaluate each rule predicate once for
    * both the caller's columns (e.g. the violations array) and the
    * counters, so the verdicts cost no pass of their own.
    */
  def observeCounts(
      df: DataFrame,
      schema: Schema,
      partitionKey: Column,
      columns: Seq[Column],
      observation: Observation): DataFrame = {
    val counters = Seq(
      "__key" -> partitionKey,
      "__n_viol" -> RuleCompiler.violationCount(schema),
      "__n_err" -> RuleCompiler.errorCount(schema),
      "__n_warn" -> RuleCompiler.warningCount(schema),
      "__worst" -> RuleCompiler.worstSeverityRank(schema))
    df.select(columns ++ counters.map { case (n, c) => c.as(n) }: _*)
      .observe(observation,
        udaf(CountsByPartition, CountsByPartition.inputEncoder).apply(counters.map(c => col(c._1)): _*).as(CountsMetric))
  }

  /** The counts [[observeCounts]] collected, sorted by partition key;
    * blocks until the observed action has finished.
    */
  def observedCounts(observation: Observation): Seq[(String, PartitionCounts)] =
    observation.get(CountsMetric).asInstanceOf[scala.collection.Map[String, Row]]
      .toSeq
      .map { case (k, r) =>
        k -> PartitionCounts(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getInt(5))
      }
      .sortBy(_._1)

  /** The schema of [[verdictRows]]: that of `compute(df, schema,
    * partitionCol).withColumn("run_id", lit(runId))`, where
    * `partitionField` is the input's partition column.
    */
  def verdictSchema(partitionField: StructField): StructType = {
    val long = (n: String) => StructField(n, LongType, nullable = true)
    StructType(Seq(
      partitionField,
      StructField("n_rows", LongType, nullable = false),
      long("n_bad_rows"), long("n_violations"), long("n_warnings"), long("n_errors"),
      StructField("worst_severity", StringType, nullable = true),
      StructField("pass", BooleanType, nullable = true),
      StructField("run_id", StringType, nullable = false)))
  }

  /** The rows `compute(df, schema, partitionCol).withColumn("run_id",
    * lit(runId))` yields, built on the driver from per-partition counts
    * keyed by the partition VALUE (typed as the input's partition
    * column) — same semantics as [[compute]], no job; their schema is
    * [[verdictSchema]].
    */
  def verdictRows(runId: String, counts: Seq[(Any, PartitionCounts)]): Seq[Row] =
    counts.map { case (v, c) =>
      Row(v, c.nRows, c.nBadRows, c.nViolations, c.nWarnings, c.nErrors,
        Severity.rank.collectFirst { case (n, r) if r == c.worstRank => n }.orNull,
        c.pass, runId)
    }

  /** Per-(field, rule, severity) violation breakdown — the triage view
    * a user reads FIRST after a failed run: which rules fired, how
    * often, over how many distinct offending values, with value-range
    * examples. Built ON the violations table ([[Validator.violations]]
    * with no key columns — one projection source, so the breakdown can
    * never diverge from the rows it summarizes) + one hash aggregate
    * whose key space is bounded by the RULE count, not the data —
    * output is O(rules) rows at any corpus size. `example_min`/`_max`
    * order the reported value STRINGS lexicographically (the
    * violation `value` channel is a string by design);
    * `example_min_num`/`_max_num` give the true numeric range over the
    * values that parse as numbers (null when none do).
    *
    * The default exact distinct-value count plans the TWO-exchange
    * distinct-rewrite over the violation rows (bounded by distinct
    * (rule, value) pairs after partial aggregation, not corpus rows —
    * violations are minority rows by construction). At corpus scale
    * pass `approxDistinct = true` for the HLL++ sketch: ONE partial/
    * final exchange (PlanSpec-pinned) — the same exact/approx trade as
    * [[Expectations.evaluate]], with the same default (exactness for
    * verdict stability). Both paths sort-aggregate per partition: the
    * string example_min/max buffers are not hash-aggregable, and the
    * sort keys are O(rules) — the exchange count is what matters.
    */
  def ruleBreakdown(
      df: DataFrame,
      schema: Schema,
      approxDistinct: Boolean = false): DataFrame =
    Validator.violations(df, schema, Nil)
      .groupBy(col("field"), col("rule"), col("severity"))
      .agg(
        count(lit(1)).as("n_violations"),
        (if (approxDistinct) approx_count_distinct(col("value"))
         else countDistinct(col("value"))).as("n_distinct_values"),
        min(col("value")).as("example_min"),
        max(col("value")).as("example_max"),
        min(col("value").try_cast(org.apache.spark.sql.types.DoubleType))
          .as("example_min_num"),
        max(col("value").try_cast(org.apache.spark.sql.types.DoubleType))
          .as("example_max_num"))

  /** Rollup verdicts: every per-partition row PLUS the grand-total row
    * from ONE pass (`ROLLUP` reuses the partial aggregates — no second
    * scan of the input). `is_total = 1` marks the total row;
    * `grouping()` keeps it distinguishable from a genuinely-null
    * partition value.
    */
  def computeRollup(df: DataFrame, schema: Schema, partitionCol: String): DataFrame =
    counted(df, schema)
      .rollup(col(partitionCol))
      .agg(grouping(col(partitionCol)).cast("int").as("is_total"), metrics: _*)
}
