package graft.verdict

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TABLE-level expectations (the dbt-test / Great-Expectations layer of
  * a validation engine): declarative aggregate invariants — row count,
  * null fraction, distinct cardinality, mean/min/max bounds — evaluated
  * over the whole table or per group. Row rules (graft.validate) catch
  * bad ROWS; expectations catch bad TABLES: a snapshot that is 40%
  * smaller than yesterday's, a column whose null rate doubled, a key
  * that stopped being unique — every row individually fine.
  *
  * Semantics grounding: the reference's import flow gates on a
  * TABLE-level property (imported list non-empty,
  * app/.../HomeViewModel.kt:168-177) before accepting any row — the
  * degenerate `row_count` expectation.
  *
  * Scale design: ALL expectations compile into ONE aggregation
  * (partial + final, map-side combine; one shuffle when grouped, none
  * global). `distinct` uses the exact count by default for verdict
  * stability — swap `approxDistinct = true` at 100 TB for the HLL
  * sketch (no Expand). Output is one row per (group ×) check:
  * `(check, column, observed, lo, hi, pass)` — verdicts are DATA, never
  * exceptions (E4).
  */
object Expectations {

  /** One aggregate invariant: `observed(check, column)` must land in
    * `[lo, hi]`. Closed check vocabulary (misconfiguration rejected at
    * construction, not mid-job — E1):
    *
    *   - `row_count`  — rows in the table/group (`column` ignored: "")
    *   - `null_frac`  — fraction of NULL values in `column` (0 on an
    *     empty group: no rows, no nulls)
    *   - `distinct`   — distinct non-null values in `column`
    *   - `unique_frac` — distinct non-null values / rows in `column` —
    *     "the key stopped being unique" as ONE declared check
    *     (`Expect("unique_frac", "doc_id", lo = 1.0)`); a column with
    *     nulls can never reach 1.0 (nulls are not a key value). NULL —
    *     and so failing — on an empty group (0/0): no rows is "no
    *     signal", not "unique".
    *   - `mean` / `min` / `max` — over `column` cast to double
    *   - `quantile` — the exact interpolated `q`-quantile of `column`
    *     (Great-Expectations' median/quantile bounds; `q` defaults to
    *     0.5). Exact `percentile` is sort-based per group — the right
    *     default for verdict stability; at corpus scale swap
    *     `quantile_approx` (t-digest `approx_percentile`, accuracy
    *     pinned against exact in ExpectationsSpec, not
    *     oracle-replayable).
    *
    * RELATIVE kinds (`row_count_rel`, `null_frac_rel`, `distinct_rel`,
    * `mean_rel` — [[evaluateRelative]] only): the bound gates the
    * RATIO current / previous of the base metric against a prior
    * run's observations, which the caller supplies — "a snapshot 40%
    * smaller than yesterday's" is `Expect("row_count_rel", lo = 0.6)`.
    * No static bound can express these.
    *
    * Unbounded sides default to ±∞.
    */
  final case class Expect(
      check: String,
      column: String = "",
      lo: Double = Double.NegativeInfinity,
      hi: Double = Double.PositiveInfinity,
      q: Double = Double.NaN) {
    require(Expect.kinds.contains(check) || Expect.relKinds.contains(check),
      s"unknown check '$check' (closed vocabulary: " +
        s"${(Expect.kinds ++ Expect.relKinds).toSeq.sorted.mkString(", ")})")
    require(check.startsWith("row_count") || column.nonEmpty,
      s"check '$check' needs a column")
    require(lo <= hi, s"empty bound [$lo, $hi] for $check($column)")
    // q is quantile-only; setting it on another check is the typo'd-
    // check misconfiguration this closed vocabulary exists to reject.
    require(check.startsWith("quantile") || q.isNaN,
      s"q applies only to quantile checks, not '$check'")
    require(!check.startsWith("quantile") || q.isNaN || (q >= 0d && q <= 1d),
      s"quantile q must be in [0,1], got $q")

    /** The quantile actually evaluated (0.5 when unset); NaN for
      * non-quantile checks (reported as null in verdict rows).
      */
    def effectiveQ: Double =
      if (!check.startsWith("quantile")) Double.NaN
      else if (q.isNaN) 0.5
      else q
  }

  object Expect {
    val kinds: Set[String] =
      Set("row_count", "null_frac", "distinct", "unique_frac",
        "mean", "min", "max", "quantile", "quantile_approx")

    /** Baseline-relative kinds: ratio of the base metric vs a stored
      * prior run ([[evaluateRelative]]). Quantile/min/max ratios are
      * deliberately absent — scale-dependent location metrics compare
      * meaningfully through `mean_rel` or absolute bounds.
      */
    val relKinds: Set[String] =
      Set("row_count_rel", "null_frac_rel", "distinct_rel", "mean_rel")

    /** `row_count_rel` → `row_count`. */
    def baseKind(check: String): String = check.stripSuffix("_rel")
  }

  private def observe(e: Expect, approxDistinct: Boolean): Column = {
    def nDistinct: Column =
      (if (approxDistinct) approx_count_distinct(col(e.column))
       else countDistinct(col(e.column))).cast("double")
    e.check match {
      case "row_count" => count(lit(1)).cast("double")
      case "null_frac" =>
        coalesce(avg(when(col(e.column).isNull, 1d).otherwise(0d)), lit(0d))
      case "distinct" => nDistinct
      case "unique_frac" =>
        // Explicit null on an empty table (never a 0/0 — ANSI mode
        // would throw mid-job): fails any bounded check, the same
        // no-signal-must-not-pass rule as an all-null mean.
        when(count(lit(1)) === 0, lit(null).cast("double"))
          .otherwise(nDistinct / count(lit(1)).cast("double"))
      case "mean" => avg(col(e.column).cast("double"))
      case "min" => min(col(e.column).cast("double"))
      case "max" => max(col(e.column).cast("double"))
      case "quantile" =>
        percentile(col(e.column).cast("double"), lit(e.effectiveQ))
      case "quantile_approx" =>
        approx_percentile(col(e.column).cast("double"), lit(e.effectiveQ),
          lit(10000))
    }
  }

  /** Evaluate every expectation in one aggregation. With `groupCols`,
    * one verdict row per (group, check) — per-partition expectations,
    * e.g. "every lang slice has ≥ 1000 rows". A NULL observed value
    * (mean/min/max over an all-null column) FAILS any bounded check —
    * "no signal" must not pass a gate that asked for one.
    */
  def evaluate(
      df: DataFrame,
      expects: Seq[Expect],
      groupCols: Seq[String] = Nil,
      approxDistinct: Boolean = false): DataFrame = {
    require(expects.nonEmpty, "evaluate needs at least one expectation")
    expects.foreach(e => require(Expect.kinds.contains(e.check),
      s"'${e.check}' is a relative check — it needs a baseline; " +
        "use evaluateRelative"))
    val aggs = expects.zipWithIndex.map { case (e, i) =>
      observe(e, approxDistinct).as(s"__obs$i")
    }
    val agged =
      if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val rows = expects.zipWithIndex.map { case (e, i) =>
      val o = col(s"__obs$i")
      // q identifies WHICH quantile a row gates on (two quantile checks
      // on one column must stay distinguishable in the verdict table —
      // verdicts are data); null for non-quantile checks.
      val qCol =
        if (e.effectiveQ.isNaN) lit(null).cast("double") else lit(e.effectiveQ)
      struct(
        lit(e.check).as("check"),
        lit(e.column).as("column"),
        qCol.as("q"),
        o.as("observed"),
        lit(e.lo).as("lo"),
        lit(e.hi).as("hi"),
        coalesce(o >= e.lo && o <= e.hi, lit(false)).as("pass"))
    }
    agged.select(
      groupCols.map(col) :+ explode(array(rows: _*)).as("e"): _*)
      .select(groupCols.map(col) :+ col("e.*"): _*)
  }

  /** True iff every expectation passes — the table-level gate
    * (reference analog: reject the whole import when the table-level
    * property fails, app/.../HomeViewModel.kt:168-177).
    *
    * A GROUPED suite over an empty table produces zero groups and so
    * zero verdict rows; that must FAIL the gate, not vacuously pass it
    * — an empty snapshot is the exact catastrophe a row_count
    * expectation exists to catch.
    */
  def holds(
      df: DataFrame,
      expects: Seq[Expect],
      groupCols: Seq[String] = Nil,
      approxDistinct: Boolean = false): Boolean = {
    val r = evaluate(df, expects, groupCols, approxDistinct)
      .agg(count(lit(1)), sum(when(!col("pass"), 1L).otherwise(0L)))
      .first()
    r.getLong(0) > 0 && r.getLong(1) == 0L
  }

  /** Evaluate baseline-RELATIVE expectations: each `*_rel` check gates
    * the ratio `current / previous` of its base metric, where
    * `previous` comes from `baseline` — an [[evaluate]] output of an
    * earlier snapshot, kept by the caller (same groupCols).
    *
    * Output: one row per (group ∪ groups-only-in-baseline, declared
    * check) with `(…groupCols, check, column, current, previous,
    * observed = ratio, lo, hi, pass)`.
    *
    * No-signal rule, applied to history: the ratio is NULL — and so
    * every bounded relative check FAILS — whenever
    *   - the baseline has no matching row (FIRST RUN, or a group that
    *     appeared since): nothing to compare against must not pass a
    *     gate that asked for a comparison;
    *   - `previous == 0` (a zero-baseline metric has no meaningful
    *     ratio; declare an absolute bound for that case);
    *   - the group VANISHED since the baseline (present there, absent
    *     now): surfaced via the full-outer group alignment with
    *     `current` null — a disappeared partition is exactly the
    *     regression a relative gate exists to catch.
    *
    * Scale: current observations are ONE aggregation over `df` (same
    * plan as [[evaluate]]); the baseline side and the declared-bounds
    * frame are O(groups × checks) and O(checks) — broadcast joins,
    * never corpus-sized.
    */
  def evaluateRelative(
      df: DataFrame,
      expects: Seq[Expect],
      baseline: DataFrame,
      groupCols: Seq[String] = Nil,
      approxDistinct: Boolean = false): DataFrame = {
    require(expects.nonEmpty, "evaluateRelative needs at least one expectation")
    expects.foreach(e => require(Expect.relKinds.contains(e.check),
      s"'${e.check}' is an absolute check — use evaluate; " +
        s"relative vocabulary: ${Expect.relKinds.toSeq.sorted.mkString(", ")}"))
    val spark = df.sparkSession
    import spark.implicits._
    // Distinct base metrics to observe on the CURRENT frame (two rel
    // checks over one metric with different bands share one aggregate).
    val bases = expects.map(e => (Expect.baseKind(e.check), e.column)).distinct
    val aggs = bases.zipWithIndex.map { case ((k, c), i) =>
      observe(Expect(k, c), approxDistinct).as(s"__obs$i")
    }
    val agged =
      if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val curRows = bases.zipWithIndex.map { case ((k, c), i) =>
      struct(lit(k).as("check"), lit(c).as("column"),
        col(s"__obs$i").as("current"))
    }
    val curLong = agged
      .select(groupCols.map(col) :+ explode(array(curRows: _*)).as("e"): _*)
      .select(groupCols.map(col) :+ col("e.*"): _*)
    // Baseline lookup rows. Re-aggregating per key tolerates a baseline
    // holding duplicate declared bounds over one metric (the observed
    // value is identical per key, so max is exact, not a choice).
    val baseLong = baseline
      .where(col("check").isin(bases.map(_._1).distinct: _*))
      .groupBy((groupCols :+ "check" :+ "column").map(col): _*)
      .agg(max(col("observed")).as("previous"))
    // Full-outer on (group, metric): current-only rows are new/first-run
    // groups, baseline-only rows are vanished groups — both must surface
    // as failing verdict rows, not silently drop. NULL-SAFE key
    // equality (<=>): a null-keyed group is a real group and must align
    // with its own baseline row — plain equality would split it into a
    // permanently-failing "first run" + "vanished" pair.
    val joinKeys = groupCols ++ Seq("check", "column")
    val joined = curLong.alias("c")
      .join(baseLong.alias("b"),
        joinKeys.map(k => col(s"c.$k") <=> col(s"b.$k")).reduce(_ && _),
        "full_outer")
      .select(
        joinKeys.map(k => coalesce(col(s"c.$k"), col(s"b.$k")).as(k)) ++
          Seq(col("c.current").as("current"),
            col("b.previous").as("previous")): _*)
    val bounds = broadcast(
      expects.map(e => (Expect.baseKind(e.check), e.column, e.lo, e.hi))
        .toDF("check", "column", "lo", "hi"))
    val ratio =
      when(col("previous").isNotNull && col("previous") =!= 0d,
        col("current") / col("previous"))
    joined.join(bounds, Seq("check", "column"))
      .select(
        groupCols.map(col) ++ Seq(
          concat(col("check"), lit("_rel")).as("check"),
          col("column"),
          col("current"),
          col("previous"),
          ratio.as("observed"),
          col("lo"),
          col("hi"),
          coalesce(ratio >= col("lo") && ratio <= col("hi"), lit(false))
            .as("pass")): _*)
  }

  /** [[holds]] for a relative suite — fails on zero verdict rows (both
    * snapshot slices empty) like the absolute gate.
    */
  def holdsRelative(
      df: DataFrame,
      expects: Seq[Expect],
      baseline: DataFrame,
      groupCols: Seq[String] = Nil,
      approxDistinct: Boolean = false): Boolean = {
    val r = evaluateRelative(df, expects, baseline, groupCols, approxDistinct)
      .agg(count(lit(1)), sum(when(!col("pass"), 1L).otherwise(0L)))
      .first()
    r.getLong(0) > 0 && r.getLong(1) == 0L
  }
}
