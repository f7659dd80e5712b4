package graft.drift

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Distribution-drift detection per partition (north rule: KS/PSI per
  * `lang` against a baseline sketch).
  *
  * Numeric drift is a histogram comparison. Both sides' per-(group, bin)
  * counts come from ONE aggregate over their side-tagged union — one
  * exchange, with map-side partial aggregation shrinking each side to
  * O(groups × bins) rows before it. Those rows are collected and PSI and
  * KS are scored on the driver in plain Scala ([[score]]); the result is
  * a one-partition local frame. No UDAF, window or sort runs (SURVEY.md
  * §2g), and the whole check generates the code of one aggregate instead
  * of a plan per scoring step.
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
  ): DataFrame = histogram(df, valueCol, groupCols, widthBin(valueCol, nBins, lo, hi))

  /** Interior bin edges derived from the BASELINE's quantiles —
    * auto-binning for [[compareWithEdges]]: `nBins − 1` edges at
    * i/nBins for i = 1..nBins−1, so baseline mass is ~equal per bin
    * (the equal-width foot-gun — a mis-chosen [lo, hi) cramming the
    * real mass into two edge bins — disappears, and at 100 TB nobody
    * has to run a separate min/max pass to find ranges). `exact = false`
    * uses the approx_percentile sketch (the scale path); callers that
    * must replay the binning in an external oracle use `exact = true`
    * (same type-7 interpolation as DuckDB `quantile_cont` — pinned by
    * StatsSpec/`q_quantiles_lineitem`). One global aggregate, read with
    * `first()`; a baseline with no non-null value has no quantiles and
    * yields no edges.
    */
  def quantileEdges(
      base: DataFrame,
      valueCol: String,
      nBins: Int,
      exact: Boolean = false): Array[Double] = {
    require(nBins >= 2, s"auto-binning needs nBins >= 2, got $nBins")
    val qs = array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)
    val agg =
      if (exact) call_function("percentile", col(valueCol), qs)
      else percentile_approx(col(valueCol), qs, lit(10000))
    val row = base.agg(agg.cast("array<double>")).first()
    if (row.isNullAt(0)) Array.empty else row.getSeq[Double](0).toArray
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
    requireEdges(edges)
    histogram(df, valueCol, groupCols, edgeBin(valueCol, edges))
  }

  /** PSI + KS over an explicit edge set (see [[binsByEdges]]). */
  def compareWithEdges(
      cur: DataFrame,
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      edges: Array[Double],
      eps: Double = 1e-6): DataFrame = {
    requireEdges(edges)
    compareBinned(cur, base, valueCol, groupCols, edgeBin(valueCol, edges), eps)
  }

  /** [[compare]] with AUTO-derived binning: edges come from the
    * baseline's own quantiles ([[quantileEdges]]) instead of caller
    * `lo`/`hi`/width guesses. Two queries: the edges, then the bin
    * counts. A baseline with no non-null value yields no edges; every
    * current value then shares one bin, so each current group keeps its
    * `n_cur`, with `n_base = 0` and null scores — the rule for any group
    * with one empty side.
    */
  def compareAuto(
      cur: DataFrame,
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      nBins: Int,
      exact: Boolean = false,
      eps: Double = 1e-6): DataFrame = {
    val edges = quantileEdges(base, valueCol, nBins, exact)
    compareBinned(cur, base, valueCol, groupCols, edgeBin(valueCol, edges), eps)
  }

  /** PSI/KS of `cur` against a materialized EDGE-binned baseline
    * sketch (the output of [[binsByEdges]] read back from storage) —
    * the scorer behind `IndexStore.driftAgainstBaseline`, the one
    * stored-baseline path. Only `cur` is scanned; the sketch side is
    * O(groups × bins) rows, unioned with `cur`'s tagged rows into the
    * one counting aggregate. The edges must be the ones the sketch was
    * built with — each stored version's meta carries them.
    */
  def compareWithBaselineEdges(
      cur: DataFrame,
      baselineSketch: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      edges: Array[Double],
      eps: Double = 1e-6): DataFrame = {
    requireEdges(edges)
    val keys = groupCols :+ "bin"
    val sketch = baselineSketch.select(keys.map(col) :+ lit(0L).as("n_cur") :+ col("n").as("n_base"): _*)
    scored(sideCounts(tagged(cur, valueCol, groupCols, edgeBin(valueCol, edges).as("bin"), isCur = true)
      .unionByName(sketch), keys), groupCols, eps)
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
  ): DataFrame =
    compareBinned(cur, base, valueCol, groupCols, widthBin(valueCol, nBins, lo, hi), eps)

  /** Drift of each group's distribution against the GLOBAL distribution
    * of the same frame — the per-`lang`-vs-baseline shape when no
    * separate baseline snapshot exists. One aggregate counts
    * (group, bin); the global histogram is the sum of those rows on the
    * driver. Each group with ≥1 binned row is scored over every global
    * bin: a bin the group never hit still contributes a PSI term
    * (p = eps, q > 0) and a CDF step.
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
    val counts = bins(df, valueCol, groupCols, nBins, lo, hi)
    val k = groupCols.length
    val rows = counts.collect()
    val global = rows.groupMapReduce(_.getLong(k))(_.getLong(k + 1))(_ + _)
    val grid = rows.groupBy(_.toSeq.take(k)).map { case (g, rs) =>
      val own = rs.map(r => r.getLong(k) -> r.getLong(k + 1)).toMap
      g -> global.map { case (bin, n) => bin -> ((own.getOrElse(bin, 0L), n)) }
    }
    result(counts, groupCols, grid, eps)
  }

  /** Categorical drift: PSI + total-variation distance of a CATEGORY
    * distribution (lang, source, file extension, …) between `cur` and
    * `base` — the columns numeric binning can't cover. Output:
    * `(…groupCols, n_cur, n_base, psi, tv)` with
    * TV = ½·Σ|p−q| ∈ [0,1] (KS is meaningless for unordered
    * categories, so TV replaces it). Categories are unbounded, so they
    * never leave the executors: one aggregate aligns both sides'
    * per-(group, category) counts and a window over the
    * O(groups × categories) rows scores them.
    */
  def categoricalCompare(
      cur: DataFrame,
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      eps: Double = 1e-6): DataFrame = {
    val category = col(valueCol).cast("string").as("category")
    val joined = sideCounts(tagged(cur, valueCol, groupCols, category, isCur = true)
      .unionByName(tagged(base, valueCol, groupCols, category, isCur = false)), groupCols :+ "category")
    val g = groupCols.map(col)
    val group = Window.partitionBy(g: _*)
    val p = try_divide(col("n_cur"), sum(col("n_cur")).over(group))
    val q = try_divide(col("n_base"), sum(col("n_base")).over(group))
    val pc = greatest(p, lit(eps))
    val qc = greatest(q, lit(eps))
    val bothSides = sum(col("n_cur")) > 0 && sum(col("n_base")) > 0
    joined
      .withColumn("p", p)
      .withColumn("q", q)
      .withColumn("psi_term", (pc - qc) * log(pc / qc))
      .groupBy(g: _*)
      .agg(
        sum(col("n_cur")).as("n_cur"),
        sum(col("n_base")).as("n_base"),
        when(bothSides, round(sum(col("psi_term")), 6)).as("psi"),
        when(bothSides, round(sum(abs(col("p") - col("q"))) / 2d, 6)).as("tv"))
  }

  private def requireEdges(edges: Array[Double]): Unit =
    require(edges.nonEmpty && edges.sameElements(edges.sorted),
      "edges must be non-empty and ascending")

  /** Equal-width bin of `valueCol` over [lo, hi), clamped into [0, nBins). */
  private def widthBin(valueCol: String, nBins: Int, lo: Double, hi: Double): Column = {
    val width = (hi - lo) / nBins
    val raw = floor((col(valueCol).cast("double") - lo) / width)
    least(greatest(raw, lit(0d)), lit((nBins - 1).toDouble)).cast("long")
  }

  /** Number of `edges` ≤ `valueCol` (see [[binsByEdges]]); no edges is
    * one bin.
    */
  private def edgeBin(valueCol: String, edges: Array[Double]): Column = {
    val v = col(valueCol).cast("double")
    edges.foldLeft(lit(0L)) { (acc, e) => acc + when(v >= e, 1L).otherwise(0L) }
  }

  private def histogram(df: DataFrame, valueCol: String, groupCols: Seq[String], bin: Column): DataFrame =
    df.where(col(valueCol).isNotNull)
      .groupBy((groupCols.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("n"))

  /** `df`'s non-null values as `(…groupCols, key, n_cur, n_base)` rows
    * counting one for its side; `key` is the aliased bin or category.
    */
  private def tagged(df: DataFrame, valueCol: String, groupCols: Seq[String], key: Column,
      isCur: Boolean): DataFrame =
    df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ key :+
        lit(if (isCur) 1L else 0L).as("n_cur") :+ lit(if (isCur) 0L else 1L).as("n_base"): _*)

  /** One row per `keys` value on either side with its summed `n_cur` and
    * `n_base` (0 where that side has none). Grouping matches NULL keys
    * with each other, which a `using` join's `=` never does.
    */
  private def sideCounts(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sum(col("n_cur")).as("n_cur"), sum(col("n_base")).as("n_base"))

  private def compareBinned(cur: DataFrame, base: DataFrame, valueCol: String,
      groupCols: Seq[String], bin: Column, eps: Double): DataFrame =
    scored(sideCounts(tagged(cur, valueCol, groupCols, bin.as("bin"), isCur = true)
      .unionByName(tagged(base, valueCol, groupCols, bin.as("bin"), isCur = false)), groupCols :+ "bin"),
      groupCols, eps)

  /** Collects the `(…groupCols, bin, n_cur, n_base)` counts and scores
    * every group on the driver.
    */
  private def scored(counts: DataFrame, groupCols: Seq[String], eps: Double): DataFrame = {
    val k = groupCols.length
    val grid = counts.collect().groupBy(_.toSeq.take(k)).map { case (g, rs) =>
      g -> rs.map(r => r.getLong(k) -> ((r.getLong(k + 1), r.getLong(k + 2)))).toMap
    }
    result(counts, groupCols, grid, eps)
  }

  /** The `(…groupCols, n_cur, n_base, psi, ks)` frame of the scored
    * `grid` (group → bin → (n_cur, n_base)) as ONE partition, so a
    * writer makes one file of it. Group column types come from `counts`.
    */
  private def result(counts: DataFrame, groupCols: Seq[String],
      grid: Map[Seq[Any], Map[Long, (Long, Long)]], eps: Double): DataFrame = {
    val schema = StructType(counts.schema.take(groupCols.length) ++ Seq(
      StructField("n_cur", LongType), StructField("n_base", LongType),
      StructField("psi", DoubleType), StructField("ks", DoubleType)))
    val rows = grid.toSeq.map { case (g, bins) =>
      val ordered = bins.toSeq.sortBy(_._1).map(_._2)
      val (c, b) = (ordered.map(_._1), ordered.map(_._2))
      val scores = score(c, b, eps).fold(Seq[Any](null, null)) { case (psi, ks) => Seq(psi, ks) }
      Row.fromSeq(g ++ Seq(c.sum, b.sum) ++ scores)
    }
    counts.sparkSession.createDataFrame(rows.asJava, schema).coalesce(1)
  }

  /** PSI and KS of one group from its per-bin counts in bin order, or
    * None when a side has no values. p and q are each side's share of
    * its total; PSI = Σ (p'−q')·ln(p'/q') with p' = max(p, eps) (and q'
    * likewise), KS = max |Σp − Σq| over the running sums in bin order.
    * Both are rounded to 6 decimals HALF_UP through `BigDecimal`, as
    * Spark's `round` does, with the same floating-point steps (and
    * `StrictMath.log`, as Spark's `log`).
    */
  private def score(cur: Seq[Long], base: Seq[Long], eps: Double): Option[(Double, Double)] = {
    val (nc, nb) = (cur.sum, base.sum)
    if (nc == 0 || nb == 0) None
    else {
      var psi, cdfP, cdfQ, ks = 0d
      cur.zip(base).foreach { case (c, b) =>
        val (p, q) = (c.toDouble / nc, b.toDouble / nb)
        val (pc, qc) = (math.max(p, eps), math.max(q, eps))
        psi += (pc - qc) * StrictMath.log(pc / qc)
        cdfP += p
        cdfQ += q
        ks = math.max(ks, math.abs(cdfP - cdfQ))
      }
      Some((round6(psi), round6(ks)))
    }
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
