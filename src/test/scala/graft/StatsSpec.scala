package graft

import graft.stats.ColumnStats
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("single-pass stats: counts, nulls, distinct, min/max") {
    val df = Seq(
      ("a", Some(1)), ("a", Some(3)), ("a", None), ("b", Some(2)))
      .toDF("g", "x")
    val out = ColumnStats
      .compute(df, Seq("x"), groupCols = Seq("g"), exact = true)
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(5),
        r.getString(6), r.getString(7)))
      .toSet
    assert(out === Set(
      ("a", 3L, 1L, 2L, "1", "3"),
      ("b", 1L, 0L, 1L, "2", "2")))
  }

  test("ungrouped stats return one row per column") {
    val df = Seq(("x", 1), ("y", 2)).toDF("s", "i")
    val out = ColumnStats.compute(df, Seq("s", "i"), exact = true)
    assert(out.count() === 2)
    assert(out.columns.toSeq === Seq("column", "n_rows", "n_null",
      "null_rate", "n_distinct", "min", "max", "avg_len"))
  }

  test("quantiles: exact interpolates like the textbook formula; approx tracks exact") {
    // 1..5 → p50 = 3, p25 = 2 (type-7 linear interpolation on a small set)
    val df = Seq(1d, 2d, 3d, 4d, 5d).toDF("x").withColumn("g", lit("a"))
    val exact = ColumnStats.quantiles(df, "x", Seq("g"), Seq(0.25, 0.5), exact = true)
      .collect().map(r => r.getAs[Double]("q") -> r.getAs[Double]("value")).toMap
    assert(exact(0.5) === 3d)
    assert(exact(0.25) === 2d)

    // Approx path (the 100 TB sketch) stays within 1 rank of exact on
    // real data.
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    val e = ColumnStats.quantiles(li, "l_quantity", Nil, Seq(0.5, 0.95), exact = true)
      .collect().map(r => r.getAs[Double]("q") -> r.getAs[Double]("value")).toMap
    val a = ColumnStats.quantiles(li, "l_quantity", Nil, Seq(0.5, 0.95), exact = false)
      .collect().map(r => r.getAs[Double]("q") -> r.getAs[Double]("value")).toMap
    Seq(0.5, 0.95).foreach { q =>
      assert(math.abs(a(q) - e(q)) <= 1d, s"q=$q approx=${a(q)} exact=${e(q)}")
    }
  }

  test("quantiles: all-null groups survive with null values; group cols may be named pos/col") {
    val df = Seq(
      ("a", Some(1d)), ("a", Some(3d)), ("b", None), ("b", None))
      .toDF("pos", "x") // group column deliberately named like the explode ordinal
    val out = ColumnStats.quantiles(df, "x", Seq("pos"), Seq(0.5, 0.95), exact = true)
      .collect()
      .map(r => (r.getString(0), r.getAs[Double]("q"),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.length === 4) // 2 groups × 2 quantiles — 'b' not dropped
    assert(out.filter(_._1 == "b").forall(_._3.isEmpty))
    assert(out.contains(("a", 0.5, Some(2d))))
  }

  test("HLL distinct within rsd of exact on driver documents") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val approx = ColumnStats.compute(docs, Seq("text"), exact = false, rsd = 0.05)
      .select("n_distinct").first().getLong(0).toDouble
    val exact = docs.select(countDistinct(col("text"))).first().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.10)
  }

  test("approximate stats over string columns run on a hash aggregate: no sort of the rows") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val nodes = Executed.plans(spark) {
      ColumnStats.compute(docs, Seq("text", "source", "doc_id"), Seq("lang")).collect()
    }.flatMap(Executed.nodes)
    assert(nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]))
    assert(!nodes.exists(n => n.isInstanceOf[SortAggregateExec] || n.isInstanceOf[SortExec]))
  }

  test("length histogram bins by floor(length/width)") {
    val df = Seq(("g", "aa"), ("g", "aaa"), ("g", "aaaaaa")).toDF("g", "s")
    val out = ColumnStats.lengthHistogram(df, "s", Seq("g"), 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((0L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("outliers: planted extremes flagged, bulk untouched; summary agrees with row set") {
    // 100 tightly clustered values + two planted extremes per group;
    // the NULL group is a group like any other (one planted extreme)
    val rows =
      (1 to 100).map(i => ("a", 100.0 + (i % 10))) ++
        Seq(("a", 10000.0), ("a", -10000.0)) ++
        (1 to 100).map(i => ("b", 5.0 + (i % 3) * 0.1)) ++
        (1 to 100).map(i => (null: String, 50.0 + (i % 5))) ++
        Seq((null: String, 5000.0))
    val df = rows.toDF("g", "v")
    val out = ColumnStats.outliers(df, "v", Seq("g"), k = 1.5, exact = true)
      .select($"g", $"v").collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(out === Set(("a", 10000.0), ("a", -10000.0), (null, 5000.0)))
    val sum = ColumnStats.outlierSummary(df, "v", Seq("g"), k = 1.5, exact = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6))).toMap
    assert(sum("a")._1 === 102L && sum("a")._2 === 2L)
    assert(sum("b")._1 === 100L && sum("b")._2 === 0L)
    assert(sum.size === 3)
    val nullFences = ColumnStats.outlierBounds(df, "v", Seq("g"), k = 1.5, exact = true)
      .where($"g".isNull).select($"lo", $"hi").as[(Double, Double)].collect().toSeq
    assert(nullFences.size === 1)
    assert(sum(null) === ((101L, 1L, nullFences.head._1, nullFences.head._2)))
    // fences bracket the bulk
    assert(sum("a")._3 > -10000.0 && sum("a")._4 < 10000.0)
    // null values are never outliers
    val withNull = df.union(Seq(("a", null.asInstanceOf[java.lang.Double]))
      .toDF("g", "v"))
    assert(ColumnStats.outliers(withNull, "v", Seq("g"), exact = true)
      .where($"v".isNull).count() === 0)
  }
}
