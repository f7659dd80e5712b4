package graft

import graft.data.SynthGen
import graft.drift.Drift
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("identical distributions → psi ≈ 0 and ks ≈ 0") {
    val df = spark.range(0, 2000).select(
      lit("g").as("g"), pmod(col("id"), lit(100)).cast("double").as("v"))
    val out = Drift.compare(df, df, "v", Seq("g"), 10, 0d, 100d).first()
    assert(math.abs(out.getAs[Double]("psi")) < 1e-9)
    assert(math.abs(out.getAs[Double]("ks")) < 1e-9)
  }

  test("shifted distribution → large psi/ks; unshifted → small") {
    val base = spark.range(0, 4000).select(
      when(pmod(col("id"), lit(2)) === 0, lit("stable")).otherwise(lit("shifted")).as("g"),
      pmod(col("id"), lit(100)).cast("double").as("v"))
    val cur = base.withColumn("v",
      when(col("g") === "shifted", col("v") + 50d).otherwise(col("v")))
    val out = Drift.compare(cur, base, "v", Seq("g"), 10, 0d, 150d)
      .collect().map(r => r.getString(0) -> (r.getAs[Double]("psi"), r.getAs[Double]("ks"))).toMap
    assert(out("stable")._1 < 0.01 && out("stable")._2 < 0.01)
    assert(out("shifted")._1 > 0.5 && out("shifted")._2 > 0.3)
  }

  test("out-of-range values clamp to edge bins; nulls excluded") {
    val df = Seq(("g", Some(-5d)), ("g", Some(500d)), ("g", None))
      .toDF("g", "v")
    val b = Drift.bins(df, "v", Seq("g"), 10, 0d, 100d)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(b === Set((0L, 1L), (9L, 1L)))
  }

  test("synthetic python content drifts vs global (injected wider length dist)") {
    val files = SynthGen.codeFiles(spark, SynthGen.Config(rows = 20000L))
      .where(col("content").isNotNull && col("lang").isin(SynthGen.langs: _*))
      .withColumn("len", length(col("content")))
    val out = Drift.againstGlobal(files, "len", Seq("lang"), 20, 0d, 800d)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("psi")).toMap
    val others = SynthGen.langs.filterNot(_ == "python").map(out)
    assert(out("python") > others.max * 1.5,
      s"python psi ${out("python")} should dominate $others")
  }

  test("againstGlobal densifies missing (group, bin) combos") {
    // group "b" never hits bin 1 but the global does → PSI must include
    // the (p=eps, q>0) term rather than dropping the bin.
    val df = Seq(("a", 5d), ("a", 15d), ("b", 5d)).toDF("g", "v")
    val out = Drift.againstGlobal(df, "v", Seq("g"), 2, 0d, 20d)
      .where(col("g") === "b").first()
    assert(out.getAs[Double]("psi") > 1.0) // missing a third of global mass
    assert(out.getAs[Double]("ks") > 0.3)
  }

  test("auto-binning: quantile edges are exact on a known grid; auto == explicit edges") {
    // values 0..100 → type-7 quartile positions are integral → edges
    // are exact data values, no interpolation arithmetic
    val base = spark.range(0, 101).select(lit("g").as("g"), col("id").cast("double").as("v"))
    val edges = Drift.quantileEdges(base, "v", nBins = 4, exact = true)
    assert(edges.toSeq === Seq(25.0, 50.0, 75.0))
    val cur = spark.range(0, 101).select(lit("g").as("g"),
      (col("id").cast("double") * 0.9 + 5).as("v"))
    val auto = Drift.compareAuto(cur, base, "v", Seq("g"), nBins = 4, exact = true)
      .collect().toSeq
    val explicit = Drift.compareWithEdges(cur, base, "v", Seq("g"), edges)
      .collect().toSeq
    assert(auto === explicit)
    // boundary semantics: bin = number of edges <= v (no clamping)
    val b = Drift.binsByEdges(
        Seq(("g", 24.999), ("g", 25.0), ("g", 100.0), ("g", -5.0)).toDF("g", "v"),
        "v", Seq("g"), edges)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(b === Map(0L -> 2L, 1L -> 1L, 3L -> 1L))
  }

  test("auto-binning: approx sketch edges track exact within tolerance") {
    val base = spark.range(0, 10000).select(lit("g").as("g"),
      pmod(col("id") * 37L, lit(1000L)).cast("double").as("v"))
    val exact = Drift.quantileEdges(base, "v", nBins = 5, exact = true)
    val approx = Drift.quantileEdges(base, "v", nBins = 5, exact = false)
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 10d, s"approx edge $a far from exact $e")
    }
  }

  test("categorical drift: identical distributions score ~0; a shifted category is detected") {
    import spark.implicits._
    val a = Seq.fill(50)("s1") ++ Seq.fill(30)("s2") ++ Seq.fill(20)("s3")
    val b = Seq.fill(20)("s1") ++ Seq.fill(30)("s2") ++ Seq.fill(50)("s3")
    val cur = a.zipWithIndex.map { case (v, i) => (i, "g", v) }.toDF("id", "grp", "cat")
    val base = b.zipWithIndex.map { case (v, i) => (i, "g", v) }.toDF("id", "grp", "cat")

    val same = Drift.categoricalCompare(cur, cur, "cat", Seq("grp")).head()
    assert(same.getAs[Double]("psi") === 0.0)
    assert(same.getAs[Double]("tv") === 0.0)

    val shifted = Drift.categoricalCompare(cur, base, "cat", Seq("grp")).head()
    // TV = 0.5 * (|0.5-0.2| + 0 + |0.2-0.5|) = 0.3 exactly
    assert(shifted.getAs[Double]("tv") === 0.3)
    assert(shifted.getAs[Double]("psi") > 0.1)

    // a category absent from one side still contributes (full outer join)
    val extra = Seq((999, "g", "s9")).toDF("id", "grp", "cat")
    val withNew = Drift.categoricalCompare(cur.union(extra), cur, "cat", Seq("grp")).head()
    assert(withNew.getAs[Double]("tv") > 0.0)
  }

  private val edges = Array(25d, 50d, 75d)

  /** `(group, n_cur, n_base, score1, score2)` per row; scores as Options. */
  private def scores(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => Option(r.getString(0)) ->
      (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toMap

  test("a group on only one side scores null psi/ks (no DIVIDE_BY_ZERO under ANSI)") {
    val both = spark.range(0, 400).select(lit("both").as("g"), pmod(col("id"), lit(100)).cast("double").as("v"))
    val curOnly = both.withColumn("g", lit("cur_only"))
    val baseOnly = both.withColumn("g", lit("base_only"))
    val out = scores(Drift.compareWithEdges(both.union(curOnly), both.union(baseOnly), "v", Seq("g"), edges))
    assert(out(Some("both")) === ((400L, 400L, Some(0d), Some(0d))))
    assert(out(Some("cur_only")) === ((400L, 0L, None, None)))
    assert(out(Some("base_only")) === ((0L, 400L, None, None)))
    val cat = scores(Drift.categoricalCompare(both.union(curOnly), both.union(baseOnly), "v", Seq("g")))
    assert(cat(Some("both")) === ((400L, 400L, Some(0d), Some(0d))))
    assert(cat(Some("cur_only")) === ((400L, 0L, None, None)))
    assert(cat(Some("base_only")) === ((0L, 400L, None, None)))
  }

  test("a NULL group key matches itself: a frame compared with itself scores psi 0 and ks 0") {
    val df = spark.range(0, 400).select(
      when(col("id") % 4 === 0, lit(null).cast("string")).otherwise(lit("g")).as("g"),
      pmod(col("id") * 7, lit(100)).cast("double").as("v"))
    def allZero(out: Map[Option[String], (Long, Long, Option[Any], Option[Any])], what: String) = {
      assert(out.keySet === Set(None, Some("g")), what)
      assert(out(None)._1 === 100L && out(None)._2 === 100L, what)
      out.values.foreach(v => assert(v._3 === Some(0d) && v._4 === Some(0d), what))
    }
    allZero(scores(Drift.compareWithEdges(df, df, "v", Seq("g"), edges)), "compareWithEdges")
    allZero(scores(Drift.compare(df, df, "v", Seq("g"), 10, 0d, 100d)), "compare")
    allZero(scores(Drift.compareWithBaselineEdges(df,
      Drift.binsByEdges(df, "v", Seq("g"), edges), "v", Seq("g"), edges)), "compareWithBaselineEdges")
    allZero(scores(Drift.categoricalCompare(df, df, "v", Seq("g"))), "categoricalCompare")
    // against the global distribution the NULL group is scored, not dropped
    val global = scores(Drift.againstGlobal(df, "v", Seq("g"), 10, 0d, 100d))
    assert(global.keySet === Set(None, Some("g")) && global(None)._1 === 100L)
    assert(global.values.forall(v => v._3.isDefined && v._4.isDefined))
  }

  test("an empty or all-null baseline: each current group keeps n_cur, with n_base 0 and null scores") {
    val cur = Seq(("a", Some(1d)), ("a", Some(2d)), ("b", Some(3d)), (null, Some(4d)), ("c", None))
      .toDF("g", "v")
    val want = Map(Some("a") -> ((2L, 0L, None, None)), Some("b") -> ((1L, 0L, None, None)),
      None -> ((1L, 0L, None, None)))
    Seq("empty" -> cur.limit(0), "all-null" -> cur.where(col("v").isNull)).foreach { case (what, base) =>
      Seq(true, false).foreach { exact =>
        val out = scores(Drift.compareAuto(cur, base, "v", Seq("g"), nBins = 4, exact = exact))
        assert(out === want, s"$what baseline, exact = $exact")
      }
    }
  }

  test("compareAuto runs two queries, edges then bins, with one hash exchange and no window or sort") {
    val base = spark.range(0, 400).select(
      when(col("id") % 5 === 0, lit(null).cast("string")).otherwise(pmod(col("id"), lit(3)).cast("string")).as("g"),
      pmod(col("id") * 7, lit(100)).cast("double").as("v"))
    val cur = base.withColumn("v", col("v") * 1.1)
    var out: DataFrame = null
    val plans = Executed.plans(spark) {
      out = Drift.compareAuto(cur, base, "v", Seq("g"), nBins = 10)
    }
    assert(plans.length === 2)
    val nodes = plans.map(Executed.nodes)
    def count(p: PartialFunction[SparkPlan, Unit]) = nodes.map(_.count(p.isDefinedAt))
    // one hash exchange, under the bins' aggregate; the edges' global
    // aggregate only gathers its partial sketches into one partition
    def exchanges(p: ShuffleExchangeExec => Boolean) = count { case s: ShuffleExchangeExec if p(s) => }
    assert(exchanges(_.outputPartitioning.numPartitions > 1) === Seq(0, 1))
    assert(exchanges(_.outputPartitioning == SinglePartition) === Seq(1, 0))
    assert(count { case _: WindowExec | _: SortExec => } === Seq(0, 0))
    // the scored frame is local and writes as one file
    assert(out.rdd.getNumPartitions === 1)
    assert(out.count() === 4)
  }

  test("the driver scorer equals the Catalyst window scorer on generated frames") {
    // a NULL group, a group on one side only, gaps of bins that neither
    // side hits, and nBins 2..12
    def frame(rnd: Random, groups: Seq[String], shift: Double) =
      Seq.fill(300) {
        val g = groups(rnd.nextInt(groups.size))
        val v = if (rnd.nextInt(20) == 0) None
          else Some(math.floor(rnd.nextDouble() * 4) * 25 + rnd.nextDouble() * 5 + shift)
        (g, v)
      }.toDF("g", "v")
    (2 to 12).foreach { nBins =>
      val rnd = new Random(nBins)
      val cur = frame(rnd, Seq("a", "b", null, "cur_only"), shift = rnd.nextDouble() * 10)
      val base = frame(rnd, Seq("a", "b", null, "base_only"), shift = 0d)
      val hi = 120d + nBins
      val curBins = Drift.bins(cur, "v", Seq("g"), nBins, 0d, hi)
      val baseBins = Drift.bins(base, "v", Seq("g"), nBins, 0d, hi)
      val direct = scores(Drift.compare(cur, base, "v", Seq("g"), nBins, 0d, hi))
      assert(direct.keySet === Set(Some("a"), Some("b"), None, Some("cur_only"), Some("base_only")))
      assert(direct === scores(WindowScorer.compare(curBins, baseBins, Seq("g"))), s"compare, nBins = $nBins")
      assert(scores(Drift.againstGlobal(cur, "v", Seq("g"), nBins, 0d, hi)) ===
        scores(WindowScorer.againstGlobal(curBins, Drift.bins(cur, "v", Nil, nBins, 0d, hi), Seq("g"))),
        s"againstGlobal, nBins = $nBins")
      val edges = (1 until nBins).map(i => i * hi / nBins).toArray
      assert(scores(Drift.compareWithEdges(cur, base, "v", Seq("g"), edges)) ===
        scores(WindowScorer.compare(Drift.binsByEdges(cur, "v", Seq("g"), edges),
          Drift.binsByEdges(base, "v", Seq("g"), edges), Seq("g"))), s"compareWithEdges, nBins = $nBins")
    }
  }

  /** The scoring `Drift` ran in Catalyst before it moved to the driver:
    * the two sides' counts aligned by an aggregate, fractions and
    * cumulative sums by windows per group.
    */
  private object WindowScorer {
    private val eps = 1e-6

    def compare(cur: DataFrame, base: DataFrame, groupCols: Seq[String]): DataFrame =
      score(align(cur, base, groupCols :+ "bin"), groupCols)

    def againstGlobal(cur: DataFrame, global: DataFrame, groupCols: Seq[String]): DataFrame = {
      val grid = cur.select(groupCols.map(col): _*).distinct().crossJoin(broadcast(global))
      score(align(cur, grid, groupCols :+ "bin"), groupCols)
    }

    private def align(cur: DataFrame, base: DataFrame, keys: Seq[String]): DataFrame =
      cur.select(keys.map(col) :+ col("n").as("n_cur") :+ lit(0L).as("n_base"): _*)
        .unionByName(base.select(keys.map(col) :+ lit(0L).as("n_cur") :+ col("n").as("n_base"): _*))
        .groupBy(keys.map(col): _*)
        .agg(sum(col("n_cur")).as("n_cur"), sum(col("n_base")).as("n_base"))

    private def score(joined: DataFrame, groupCols: Seq[String]): DataFrame = {
      val g = groupCols.map(col)
      val wg = Window.partitionBy(g: _*)
      val wcum = wg.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val p = try_divide(col("n_cur"), sum(col("n_cur")).over(wg))
      val q = try_divide(col("n_base"), sum(col("n_base")).over(wg))
      val pc = greatest(p, lit(eps))
      val qc = greatest(q, lit(eps))
      def whenBothSides(score: org.apache.spark.sql.Column) =
        when(sum(col("n_cur")) > 0 && sum(col("n_base")) > 0, score)
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
          whenBothSides(round(max(abs(col("cdf_p") - col("cdf_q"))), 6)).as("ks"))
    }
  }
}
