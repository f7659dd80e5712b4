package graft.drift

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Distribution-drift detection per partition (north rule: KS/PSI per
  * `lang` against a baseline sketch).
  *
  * Everything is built-in bin-aggregate + join + window arithmetic — no
  * UDAF (SURVEY.md §2g): histograms shrink the data to
  * O(groups × nBins) rows before any join or window runs, so the only
  * full-data pass is one map-side-combined groupBy per side.
  *
  * Group keys match null-safely: a NULL group is a group like any other
  * and is compared with the NULL group of the other side. A group with
  * no (non-null) values on one side has no distribution to compare: its
  * row carries its counts, with a zero count for the empty side, and
  * null `psi` and `ks` (`tv` for [[categoricalCompare]]).
  */
object Drift {

  /** Fixed-width histogram of `valueCol` over [lo, hi): one row per
    * (…groupCols, bin) with count `n`. Out-of-range values clamp into
    * the edge bins; nulls are excluded.
    */
  def bins(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      nBins: Int,
      lo: Double,
      hi: Double
  ): DataFrame = {
    val width = (hi - lo) / nBins
    val raw = floor((col(valueCol).cast("double") - lo) / width)
    val bin = least(greatest(raw, lit(0d)), lit((nBins - 1).toDouble))
      .cast("long")
      .as("bin")
    df.where(col(valueCol).isNotNull)
      .groupBy((groupCols.map(col) :+ bin): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Interior bin edges derived from the BASELINE's quantiles —
    * auto-binning for [[compareWithEdges]]: `nBins − 1` edges at
    * i/nBins for i = 1..nBins−1, so baseline mass is ~equal per bin
    * (the equal-width foot-gun — a mis-chosen [lo, hi) cramming the
    * real mass into two edge bins — disappears, and at 100 TB nobody
    * has to run a separate min/max pass to find ranges). `exact = false`
    * uses the approx_percentile sketch (the scale path); callers that
    * must replay the binning in an external oracle use `exact = true`
    * (same type-7 interpolation as DuckDB `quantile_cont` — pinned by
    * StatsSpec/`q_quantiles_lineitem`).
    */
  def quantileEdges(
      base: DataFrame,
      valueCol: String,
      nBins: Int,
      exact: Boolean = false): Array[Double] = {
    require(nBins >= 2, s"auto-binning needs nBins >= 2, got $nBins")
    val qs = (1 until nBins).map(_.toDouble / nBins)
    graft.stats.ColumnStats.quantiles(
        base.where(col(valueCol).isNotNull), valueCol, Nil, qs, exact)
      .orderBy(col("q"))
      .collect()
      .map(r => r.getDouble(1))
  }

  /** Histogram over EXPLICIT ascending edges: bin(v) = number of edges
    * ≤ v, i.e. bin 0 = (-inf, e0), bin i = [e_{i−1}, e_i), last bin =
    * [e_last, +inf) — every value lands in exactly one of
    * `edges.length + 1` bins with no clamping. Plain integer adds
    * (codegen'd), no higher-order functions.
    */
  def binsByEdges(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      edges: Array[Double]): DataFrame = {
    require(edges.nonEmpty && edges.sameElements(edges.sorted),
      "edges must be non-empty and ascending")
    val v = col(valueCol).cast("double")
    val bin = edges.foldLeft(lit(0L)) { (acc, e) =>
      acc + when(v >= e, 1L).otherwise(0L)
    }.as("bin")
    df.where(col(valueCol).isNotNull)
      .groupBy((groupCols.map(col) :+ bin): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** PSI + KS over an explicit edge set (see [[binsByEdges]]). */
  def compareWithEdges(
      cur: DataFrame,
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      edges: Array[Double],
      eps: Double = 1e-6): DataFrame = {
    val c = binsByEdges(cur, valueCol, groupCols, edges)
      .withColumnRenamed("n", "n_cur")
    val b = binsByEdges(base, valueCol, groupCols, edges)
      .withColumnRenamed("n", "n_base")
    scoreBins(alignCounts(c, b, groupCols :+ "bin"), groupCols, eps)
  }

  /** [[compare]] with AUTO-derived binning: edges come from the
    * baseline's own quantiles ([[quantileEdges]]) instead of caller
    * `lo`/`hi`/width guesses.
    */
  def compareAuto(
      cur: DataFrame,
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      nBins: Int,
      exact: Boolean = false,
      eps: Double = 1e-6): DataFrame =
    compareWithEdges(cur, base, valueCol, groupCols,
      quantileEdges(base, valueCol, nBins, exact), eps)

  /** PSI/KS of `cur` against a materialized EDGE-binned baseline
    * sketch (the output of [[binsByEdges]] read back from storage) —
    * the scorer behind `IndexStore.driftAgainstBaseline`, the one
    * stored-baseline path. Only `cur` is scanned; the sketch side is
    * O(groups × bins). The edges must be the ones the sketch was built
    * with — each stored version's meta carries them.
    */
  def compareWithBaselineEdges(
      cur: DataFrame,
      baselineSketch: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      edges: Array[Double],
      eps: Double = 1e-6): DataFrame = {
    val c = binsByEdges(cur, valueCol, groupCols, edges)
      .withColumnRenamed("n", "n_cur")
    val b = baselineSketch.withColumnRenamed("n", "n_base")
    scoreBins(alignCounts(c, b, groupCols :+ "bin"), groupCols, eps)
  }

  /** PSI + KS per group between `cur` and `base` over a shared binning.
    * Output: `(…groupCols, n_cur, n_base, psi, ks)` with
    * PSI = Σ (p−q)·ln(p/q) (eps-floored fractions) and
    * KS = max |CDF_cur − CDF_base| at bin boundaries. Both rounded to 6
    * decimals (stable across aggregation orders).
    */
  def compare(
      cur: DataFrame,
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      nBins: Int,
      lo: Double,
      hi: Double,
      eps: Double = 1e-6
  ): DataFrame = {
    val c = bins(cur, valueCol, groupCols, nBins, lo, hi)
      .withColumnRenamed("n", "n_cur")
    val b = bins(base, valueCol, groupCols, nBins, lo, hi)
      .withColumnRenamed("n", "n_base")
    scoreBins(alignCounts(c, b, groupCols :+ "bin"), groupCols, eps)
  }

  /** Drift of each group's distribution against the GLOBAL distribution
    * of the same frame — the per-`lang`-vs-baseline shape when no
    * separate baseline snapshot exists. The global histogram is tiny
    * (nBins rows) and broadcast.
    */
  def againstGlobal(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      nBins: Int,
      lo: Double,
      hi: Double,
      eps: Double = 1e-6
  ): DataFrame = {
    val c = bins(df, valueCol, groupCols, nBins, lo, hi)
      .withColumnRenamed("n", "n_cur")
    val b = bins(df, valueCol, Nil, nBins, lo, hi)
      .withColumnRenamed("n", "n_base")
    // Densify to the full (group × global-bin) grid: a bin the group
    // never hit still contributes a PSI term (p=eps, q>0) and a CDF
    // step. Groups = those with ≥1 binned row; grid is
    // O(groups × nBins) rows, built from already-aggregated frames.
    val groups = c.select(groupCols.map(col): _*).distinct()
    val grid = groups.crossJoin(broadcast(b))
    scoreBins(alignCounts(c, grid, groupCols :+ "bin"), groupCols, eps)
  }

  /** Categorical drift: PSI + total-variation distance of a CATEGORY
    * distribution (lang, source, file extension, …) between `cur` and
    * `base` — the columns numeric binning can't cover. Output:
    * `(…groupCols, n_cur, n_base, psi, tv)` with
    * TV = ½·Σ|p−q| ∈ [0,1] (KS is meaningless for unordered
    * categories, so TV replaces it). Costs one map-side-combined
    * groupBy per side; categories never leave the executors until
    * reduced to O(groups × categories) rows.
    */
  def categoricalCompare(
      cur: DataFrame,
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      eps: Double = 1e-6): DataFrame = {
    def counts(df: DataFrame, as: String) =
      df.where(col(valueCol).isNotNull)
        .groupBy((groupCols.map(col) :+ col(valueCol).cast("string").as("category")): _*)
        .agg(count(lit(1)).as(as))
    val joined = alignCounts(counts(cur, "n_cur"), counts(base, "n_base"), groupCols :+ "category")
    val g = groupCols.map(col)
    val (p, q) = fractions(Window.partitionBy(g: _*))
    val pc = greatest(p, lit(eps))
    val qc = greatest(q, lit(eps))
    joined
      .withColumn("p", p)
      .withColumn("q", q)
      .withColumn("psi_term", (pc - qc) * log(pc / qc))
      .groupBy(g: _*)
      .agg(
        sum(col("n_cur")).as("n_cur"),
        sum(col("n_base")).as("n_base"),
        whenBothSides(round(sum(col("psi_term")), 6)).as("psi"),
        whenBothSides(round(sum(abs(col("p") - col("q"))) / 2d, 6)).as("tv"))
  }

  /** One row per `keys` value on either side with its `n_cur` and
    * `n_base` (0 where that side has none): the two count frames
    * unioned and summed per key. Grouping matches NULL keys with each
    * other, which a `using` join's `=` never does.
    */
  private def alignCounts(cur: DataFrame, base: DataFrame, keys: Seq[String]): DataFrame =
    cur.select(keys.map(col) :+ col("n_cur") :+ lit(0L).as("n_base"): _*)
      .unionByName(base.select(keys.map(col) :+ lit(0L).as("n_cur") :+ col("n_base"): _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_cur")).as("n_cur"), sum(col("n_base")).as("n_base"))

  /** Each row's share `p` of its group's `n_cur` and `q` of its `n_base`;
    * null for a side with no rows in the group (no division by zero).
    */
  private def fractions(group: WindowSpec): (Column, Column) =
    (try_divide(col("n_cur"), sum(col("n_cur")).over(group)),
      try_divide(col("n_base"), sum(col("n_base")).over(group)))

  /** `score` for a group with rows on both sides, null otherwise. */
  private def whenBothSides(score: Column): Column =
    when(sum(col("n_cur")) > 0 && sum(col("n_base")) > 0, score)

  /** Shared scoring over joined per-bin counts. Operates on
    * O(groups × nBins) rows — window use here is cheap by construction.
    */
  private def scoreBins(
      joined: DataFrame,
      groupCols: Seq[String],
      eps: Double
  ): DataFrame = {
    val g = groupCols.map(col)
    val wg = Window.partitionBy(g: _*)
    val wcum = wg
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val (p, q) = fractions(wg)
    val pc = greatest(p, lit(eps))
    val qc = greatest(q, lit(eps))

    joined
      .withColumn("p", p)
      .withColumn("q", q)
      .withColumn("psi_term", (pc - qc) * log(pc / qc))
      .withColumn("cdf_p", sum(col("p")).over(wcum))
      .withColumn("cdf_q", sum(col("q")).over(wcum))
      .groupBy(g: _*)
      .agg(
        sum(col("n_cur")).as("n_cur"),
        sum(col("n_base")).as("n_base"),
        whenBothSides(round(sum(col("psi_term")), 6)).as("psi"),
        whenBothSides(round(max(abs(col("cdf_p") - col("cdf_q"))), 6)).as("ks")
      )
  }
}
