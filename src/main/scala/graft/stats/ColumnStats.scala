package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

/** Per-column profiling stats, computed in a single aggregation pass
  * (north rule: count, null-rate, distinct via a HyperLogLog sketch,
  * min/max, length histograms).
  *
  * Scale notes:
  *   - One `groupBy(partition).agg(...)` evaluates every column's stats
  *     in one scan — Catalyst runs partial (map-side) aggregation, so
  *     shuffle volume is O(groups × columns), independent of row count.
  *   - Distinct counts default to `hll_sketch_estimate(hll_sketch_agg)`
  *     (the DataSketches HLL sketch: fixed-size buffers, spill-safe at
  *     any scale, and bytes Spark can merge). It is a typed aggregate,
  *     so Spark plans an `ObjectHashAggregate` — no sort of the rows,
  *     even with string min/max in the same aggregate. `exact = true`
  *     switches to `countDistinct` for oracle parity at test scale
  *     (expand-based, one extra shuffle — fine at sf0.01, not the
  *     100 TB path).
  */
object ColumnStats {

  /** Long-format stats: one output row per (group, column) with
    * `(…groupCols, column, n_rows, n_null, null_rate, n_distinct,
    * min, max, avg_len)`. min/max are stringified so heterogeneous
    * column types share one output schema. ONE aggregation computes
    * every column's stats side by side (aliased `__<column>__<stat>`);
    * then one struct per column is exploded over that tiny frame.
    *
    * The approximate distinct count's sketch has `2^lgK` buckets with
    * `lgK = ceil(2·log2(1.106 / rsd))` clamped to [4, 21] — lgK 9 at the
    * default `rsd = 0.05`. The sketch takes int, bigint, string and
    * binary values; a column of any other type is sketched as its
    * string cast.
    */
  def compute(
      df: DataFrame,
      cols: Seq[String],
      groupCols: Seq[String] = Nil,
      exact: Boolean = false,
      rsd: Double = 0.05
  ): DataFrame = {
    require(rsd > 0d, s"rsd must be > 0, got $rsd")
    val lgK = math.min(21, math.max(4, math.ceil(2 * math.log(1.106 / rsd) / math.log(2)).toInt))
    def distinctAgg(c: Column): Column =
      if (exact) countDistinct(c)
      else hll_sketch_estimate(hll_sketch_agg(df.select(c).schema.head.dataType match {
        case IntegerType | LongType | BinaryType | _: StringType => c
        case _ => c.cast("string")
      }, lgK))

    val aggs = cols.flatMap { name =>
      val c = col(name)
      Seq(
        count(lit(1)).as(s"__${name}__n_rows"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__${name}__n_null"),
        distinctAgg(c).as(s"__${name}__n_distinct"),
        min(c).cast("string").as(s"__${name}__min"),
        max(c).cast("string").as(s"__${name}__max"),
        avg(length(c.cast("string"))).as(s"__${name}__avg_len"))
    }
    val wide =
      if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { name =>
      struct(
        lit(name).as("column"),
        col(s"__${name}__n_rows").as("n_rows"),
        col(s"__${name}__n_null").as("n_null"),
        (col(s"__${name}__n_null") / col(s"__${name}__n_rows"))
          .as("null_rate"),
        col(s"__${name}__n_distinct").as("n_distinct"),
        col(s"__${name}__min").as("min"),
        col(s"__${name}__max").as("max"),
        col(s"__${name}__avg_len").as("avg_len"))
    }
    val g = groupCols.map(col)
    wide
      .select(g :+ explode(array(rows: _*)).as("s"): _*)
      .select(g :+ col("s.*"): _*)
  }

  /** Quantiles of a numeric column per group, long format:
    * `(…groupCols, q, value)` — one row per requested quantile.
    *
    * `exact = false` (the 100 TB path) uses `approx_percentile`
    * (Greenwald-Khanna sketch: fixed-size state, one pass, spill-safe);
    * `exact = true` uses the exact interpolating `percentile` aggregate
    * — it buffers per-group values, so it is the ORACLE-PARITY path for
    * test scale only (DuckDB `quantile_cont` computes the same type-7
    * linear interpolation). Accuracy of the approx path vs exact is
    * pinned in StatsSpec.
    */
  def quantiles(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      qs: Seq[Double],
      exact: Boolean = false,
      accuracy: Int = 10000
  ): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0d && q <= 1d),
      s"quantiles must be in [0,1], got $qs")
    val qArr = array(qs.map(lit): _*)
    val agg =
      if (exact) call_function("percentile", col(valueCol), qArr)
      else percentile_approx(col(valueCol), qArr, lit(accuracy))
    // An all-null group aggregates to a NULL array; exploding that
    // would DROP the group (SQL oracles keep it with null values) —
    // substitute an array of nulls so every group emits |qs| rows.
    val nullVals = array(qs.map(_ => lit(null).cast("double")): _*)
    val values = coalesce(agg.cast("array<double>"), nullVals).as("__vals")
    val g = groupCols.map(col)
    val grouped =
      if (groupCols.isEmpty) df.agg(values)
      else df.groupBy(g: _*).agg(values)
    grouped
      // explode outputs get reserved names — a group column named
      // `pos`/`col` must not collide
      .select(g :+ posexplode(col("__vals")).as(Seq("__q_pos", "__q_val")): _*)
      .select(g :+ element_at(qArr, col("__q_pos") + 1).as("q")
        :+ col("__q_val").as("value"): _*)
  }

  /** Per-group Tukey fences from the quartiles:
    * `(…groupCols, q1, q3, iqr, lo, hi)` with `lo = q1 - k·iqr`,
    * `hi = q3 + k·iqr`. `exact = true` is the oracle-parity path
    * (interpolating percentile ≡ DuckDB `quantile_cont`); the 100 TB
    * path is the approx sketch. The result is O(groups) rows — always
    * broadcastable back onto the data.
    */
  def outlierBounds(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      k: Double = 1.5,
      exact: Boolean = false,
      accuracy: Int = 10000
  ): DataFrame = {
    require(k >= 0d, s"fence multiplier must be >= 0, got $k")
    val qArr = array(lit(0.25), lit(0.75))
    val agg =
      if (exact) call_function("percentile", col(valueCol), qArr)
      else percentile_approx(col(valueCol), qArr, lit(accuracy))
    val g = groupCols.map(col)
    val grouped =
      if (groupCols.isEmpty) df.agg(agg.cast("array<double>").as("__q"))
      else df.groupBy(g: _*).agg(agg.cast("array<double>").as("__q"))
    grouped
      .select(g ++ Seq(col("__q")(0).as("q1"), col("__q")(1).as("q3")): _*)
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo", col("q1") - lit(k) * col("iqr"))
      .withColumn("hi", col("q3") + lit(k) * col("iqr"))
  }

  /** Rows falling outside their group's Tukey fences. Two passes over
    * the data (quartile aggregation, then a BROADCAST join of the
    * O(groups) bounds back onto the scan — the fact table never
    * shuffles for the join). Null values are never outliers.
    */
  def outliers(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      k: Double = 1.5,
      exact: Boolean = false,
      accuracy: Int = 10000
  ): DataFrame = {
    require(groupCols.nonEmpty, "outliers requires at least one group column")
    withFences(df, outlierBounds(df, valueCol, groupCols, k, exact, accuracy),
        groupCols, Seq("lo", "hi"))
      .where(col(valueCol) < col("lo") || col(valueCol) > col("hi"))
  }

  /** One row per group: `(…groupCols, n_values, n_outliers, q1, q3,
    * lo, hi)` — the drift-dashboard form of [[outliers]].
    */
  def outlierSummary(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      k: Double = 1.5,
      exact: Boolean = false,
      accuracy: Int = 10000
  ): DataFrame = {
    require(groupCols.nonEmpty, "outlierSummary requires at least one group column")
    val b = outlierBounds(df, valueCol, groupCols, k, exact, accuracy)
    val out = (col(valueCol) < col("lo") || col(valueCol) > col("hi"))
      .cast("long")
    withFences(df, b, groupCols, Seq("q1", "q3", "lo", "hi"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(col(valueCol)).as("n_values"),
        coalesce(sum(out), lit(0L)).as("n_outliers"),
        first(col("q1")).as("q1"),
        first(col("q3")).as("q3"),
        first(col("lo")).as("lo"),
        first(col("hi")).as("hi"))
  }

  /** `df` plus its group's `fences` columns of `bounds`, with the
    * group columns first: a BROADCAST join of the O(groups) bounds (the
    * fact side never shuffles) on `<=>` per group column, so a NULL
    * group meets the fences that [[outlierBounds]] computes for it.
    */
  private def withFences(
      df: DataFrame,
      bounds: DataFrame,
      groupCols: Seq[String],
      fences: Seq[String]
  ): DataFrame = {
    val keys = groupCols.map(c => c -> s"__fence_$c")
    val b = bounds.select(
      keys.map { case (c, k) => col(c).as(k) } ++ fences.map(col): _*)
    df.join(broadcast(b), keys.map { case (c, k) => col(c) <=> col(k) }.reduce(_ && _))
      .select((groupCols ++ df.columns.filterNot(groupCols.contains) ++ fences)
        .map(col): _*)
  }

  /** Value-length histogram per group: `(…groupCols, bin, n)` where
    * `bin = floor(length(col)/binWidth)`. Shared by drift detection.
    * Nulls are excluded (they're the null-rate stat's job).
    */
  def lengthHistogram(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      binWidth: Int
  ): DataFrame = {
    val bin = floor(length(col(valueCol)) / binWidth).cast("long").as("bin")
    df.where(col(valueCol).isNotNull)
      .groupBy((groupCols.map(col) :+ bin): _*)
      .agg(count(lit(1)).as("n"))
  }
}
