package graft

import graft.verdict.Expectations
import graft.verdict.Expectations.Expect
import org.apache.spark.sql.functions._

class ExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")

  test("evaluate: observed values and pass flags match directly computed stats") {
    val n = docs.count().toDouble
    val nullFrac = docs.where($"text".isNull).count() / n
    val out = Expectations.evaluate(docs, Seq(
        Expect("row_count", lo = 1),
        Expect("null_frac", "text", hi = nullFrac), // exactly at the bound → pass
        Expect("distinct", "lang", lo = 5, hi = 5),
        Expect("mean", "n_chars", lo = 0),
        Expect("max", "n_chars", hi = 0) // deliberately failing
      )).collect().map(r => (r.getAs[String]("check"), r)).toMap

    assert(out("row_count").getAs[Double]("observed") === n)
    assert(out("row_count").getAs[Boolean]("pass"))
    assert(math.abs(out("null_frac").getAs[Double]("observed") - nullFrac) < 1e-12)
    assert(out("null_frac").getAs[Boolean]("pass"))
    assert(out("distinct").getAs[Double]("observed") === 5.0)
    assert(out("mean").getAs[Boolean]("pass"))
    assert(!out("max").getAs[Boolean]("pass"))
    assert(!Expectations.holds(docs, Seq(Expect("max", "n_chars", hi = 0))))
    assert(Expectations.holds(docs, Seq(Expect("row_count", lo = 1))))
  }

  test("grouped expectations: one verdict row per (group, check)") {
    val out = Expectations.evaluate(docs,
      Seq(Expect("row_count", lo = 10), Expect("null_frac", "text", hi = 0.5)),
      groupCols = Seq("lang"))
    val langs = docs.select("lang").distinct().count()
    assert(out.count() === langs * 2)
    assert(out.columns.toSeq ===
      Seq("lang", "check", "column", "q", "observed", "lo", "hi", "pass"))
    // per-group row counts match a direct groupBy
    val direct = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    out.where($"check" === "row_count").collect().foreach { r =>
      assert(r.getAs[Double]("observed") === direct(r.getString(0)))
    }
  }

  test("null observed fails a bounded check; misconfig rejected at construction") {
    val allNull = docs.withColumn("gone", lit(null).cast("double"))
    val out = Expectations.evaluate(allNull,
      Seq(Expect("mean", "gone", lo = 0))).collect().head
    assert(out.isNullAt(out.fieldIndex("observed")))
    assert(!out.getAs[Boolean]("pass")) // no signal must not pass a gate

    assertThrows[IllegalArgumentException](Expect("median", "x"))
    assertThrows[IllegalArgumentException](Expect("mean"))
    assertThrows[IllegalArgumentException](Expect("mean", "x", lo = 2, hi = 1))
  }

  test("grouped holds on an empty table fails, never vacuously passes") {
    val empty = docs.where(lit(false))
    // zero groups → zero verdict rows → the gate must reject
    assert(!Expectations.holds(empty,
      Seq(Expect("row_count", lo = 1000)), groupCols = Seq("lang")))
    // ungrouped form fails via the row_count bound itself
    assert(!Expectations.holds(empty, Seq(Expect("row_count", lo = 1))))
    assert(Expectations.holds(empty, Seq(Expect("row_count", hi = 0))))
  }

  test("approx distinct: sketch within rsd of exact; single-pass plan (no Expand)") {
    val exact = Expectations.evaluate(docs, Seq(Expect("distinct", "doc_id")))
      .collect().head.getAs[Double]("observed")
    val approx = Expectations.evaluate(docs, Seq(Expect("distinct", "doc_id")),
      approxDistinct = true).collect().head.getAs[Double]("observed")
    assert(math.abs(approx - exact) / exact < 0.1)
    val plan = Expectations.evaluate(docs,
        Seq(Expect("distinct", "doc_id"), Expect("distinct", "lang"),
          Expect("row_count")), approxDistinct = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"))
  }

  test("quantile: exact interpolated bound; approx variant tracks exact") {
    val med = docs.select(percentile(col("n_chars").cast("double"), lit(0.5)))
      .first().getDouble(0)
    val out = Expectations.evaluate(docs, Seq(
        Expect("quantile", "n_chars", lo = med, hi = med), // exactly at bound
        Expect("quantile", "n_chars", lo = 0, hi = 0.25, q = 0.0) // q=0 is min; fails
      )).collect()
    assert(out(0).getAs[Double]("observed") === med)
    assert(out(0).getAs[Boolean]("pass"))
    assert(out(1).getAs[Double]("observed") ===
      docs.agg(min(col("n_chars").cast("double"))).first().getDouble(0))
    assert(!out(1).getAs[Boolean]("pass"))
    // sketch variant within 5% of exact on this distribution
    val approx = Expectations.evaluate(docs,
      Seq(Expect("quantile_approx", "n_chars", lo = 0))).first()
      .getAs[Double]("observed")
    assert(math.abs(approx - med) / med < 0.05)
    assertThrows[IllegalArgumentException] {
      Expect("quantile", "n_chars", q = 1.5)
    }
    // q on a non-quantile check is a misconfiguration (typo'd check),
    // rejected at construction like every other misconfig
    assertThrows[IllegalArgumentException] {
      Expect("mean", "n_chars", q = 0.9)
    }
    // two quantiles on one column stay distinguishable: q is data
    val two = Expectations.evaluate(docs, Seq(
        Expect("quantile", "n_chars", lo = 0, q = 0.05),
        Expect("quantile", "n_chars", lo = 0, q = 0.95)))
      .collect().map(r => r.getAs[Double]("q")).toSet
    assert(two === Set(0.05, 0.95))
  }

  test("unique_frac: key uniqueness as one declared check") {
    val n = docs.count().toDouble
    val distinctLang = docs.select("lang").distinct().count().toDouble
    val out = Expectations.evaluate(docs, Seq(
        Expect("unique_frac", "doc_id", lo = 1.0), // a true key → 1.0
        Expect("unique_frac", "lang", lo = 0.5) // many rows per lang → fails
      )).collect().map(r => (r.getAs[String]("column"), r)).toMap
    assert(out("doc_id").getAs[Double]("observed") === 1.0)
    assert(out("doc_id").getAs[Boolean]("pass"))
    assert(math.abs(out("lang").getAs[Double]("observed") - distinctLang / n) < 1e-12)
    assert(!out("lang").getAs[Boolean]("pass"))
    // sketch variant: within HLL rsd of exact, same single-pass plan
    val approx = Expectations.evaluate(docs,
        Seq(Expect("unique_frac", "doc_id", lo = 0.9)), approxDistinct = true)
      .first()
    assert(math.abs(approx.getAs[Double]("observed") - 1.0) < 0.1)
    // empty table: observed null → bounded check FAILS, never passes
    val empty = Expectations.evaluate(docs.limit(0),
      Seq(Expect("unique_frac", "doc_id", lo = 0.0))).first()
    assert(empty.isNullAt(empty.fieldIndex("observed")))
    assert(!empty.getAs[Boolean]("pass"))
  }

  test("evaluateRelative: ratio gates, missing-baseline and vanished-group rows fail") {
    val base = Seq(("a", 1), ("a", 2), ("b", 1), ("gone", 1))
      .toDF("g", "v")
    val cur = Seq(("a", 2), ("a", 4), ("a", 6), ("b", 1), ("new", 9))
      .toDF("g", "v")
    val baseline = Expectations.evaluate(base,
      Seq(Expect("row_count"), Expect("mean", "v")), Seq("g"))
    val out = Expectations.evaluateRelative(cur,
        Seq(Expect("row_count_rel", lo = 0.5, hi = 2.0),
          Expect("mean_rel", "v", lo = 0.5, hi = 2.0)),
        baseline, Seq("g"))
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[String]("check")) -> r).toMap
    // a: 3/2 rows, mean 4/1.5 — row_count passes, mean ratio 2.67 fails
    assert(out(("a", "row_count_rel")).getAs[Double]("observed") === 1.5)
    assert(out(("a", "row_count_rel")).getAs[Boolean]("pass"))
    assert(!out(("a", "mean_rel")).getAs[Boolean]("pass"))
    // b unchanged: ratio exactly 1.0, passes
    assert(out(("b", "mean_rel")).getAs[Double]("observed") === 1.0)
    assert(out(("b", "mean_rel")).getAs[Boolean]("pass"))
    // new group: no baseline row → null ratio → FAILS (first-run rule)
    val nw = out(("new", "row_count_rel"))
    assert(nw.isNullAt(nw.fieldIndex("previous")))
    assert(!nw.getAs[Boolean]("pass"))
    // vanished group: baseline row, no current → surfaces and FAILS
    val gone = out(("gone", "row_count_rel"))
    assert(gone.isNullAt(gone.fieldIndex("current")))
    assert(!gone.getAs[Boolean]("pass"))
    // zero previous: ratio undefined → fails even a wide bound
    val z = Expectations.evaluateRelative(
      Seq(("a", null.asInstanceOf[String])).toDF("g", "s"),
      Seq(Expect("null_frac_rel", "s", lo = 0.0, hi = 100.0)),
      Expectations.evaluate(Seq(("a", "x")).toDF("g", "s"),
        Seq(Expect("null_frac", "s")), Seq("g")),
      Seq("g")).first()
    assert(z.getAs[Double]("previous") === 0.0)
    assert(z.isNullAt(z.fieldIndex("observed")) && !z.getAs[Boolean]("pass"))
    // misconfig: kind/entry-point mismatch rejected up front
    assertThrows[IllegalArgumentException] {
      Expectations.evaluate(cur, Seq(Expect("row_count_rel", lo = 1)))
    }
    assertThrows[IllegalArgumentException] {
      Expectations.evaluateRelative(cur, Seq(Expect("row_count", lo = 1)),
        baseline)
    }
    assertThrows[IllegalArgumentException] { Expect("mean_rel", "v", q = 0.5) }
  }

  test("ExpectJson: suites round-trip as canonical JSON; strict parse") {
    import graft.verdict.ExpectJson
    val suite = Seq(
      Expect("row_count", lo = 100, hi = 200.5),
      Expect("null_frac", "text", hi = 0.1),
      Expect("unique_frac", "doc_id", lo = 1.0),
      Expect("quantile", "n_chars", lo = 50, hi = 400, q = 0.9),
      Expect("row_count_rel", lo = 0.6)) // relative kinds serialize too
    val j = ExpectJson.toJson(suite)
    // toString compare: Expect is a case class holding NaN q slots, and
    // NaN != NaN breaks structural equality on identical suites
    assert(ExpectJson.fromJson(j).map(_.toString) === suite.map(_.toString))
    assert(ExpectJson.toJson(ExpectJson.fromJson(j)) === j) // fixpoint
    // unbounded sides are omitted, not rendered as pseudo-infinities
    assert(!j.contains("inf") && !j.contains("Inf"))
    def err(json: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](ExpectJson.fromJson(json))
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !contains '$frag'")
    }
    err("""[{"check": "row_count", "low": 1}]""", "unknown key 'low'")
    err("""[{"check": "row_count", "lo": 100, "lo": 1}]""", "duplicate keys")
    err("""[{"column": "x"}]""", "missing required key 'check'")
    err("""[{"check": "row_count", "lo": "ten"}]""", "lo must be a number")
    err("""{"check": "row_count"}""", "must be a JSON array")
    err("""[]""", "at least one check")
    // Expect's own closed vocabulary still guards parsed suites
    intercept[IllegalArgumentException](
      ExpectJson.fromJson("""[{"check": "rowcount"}]"""))
    intercept[IllegalArgumentException]( // q on a non-quantile check
      ExpectJson.fromJson("""[{"check": "mean", "column": "x", "q": 0.5}]"""))
  }

  test("ExpectJson: a declared suite → serialize → parse → gate is lossless") {
    import graft.verdict.ExpectJson
    val base = Seq((1L, "en", 10.0), (2L, "de", 20.0)).toDF("id", "lang", "v")
    val suite = Seq(
      Expect("row_count", lo = 1.8, hi = 2.2),
      Expect("null_frac", "lang", lo = 0, hi = 0.1),
      Expect("unique_frac", "id", lo = 1.0),
      Expect("distinct", "lang", hi = 2),
      Expect("mean", "v", lo = 14, hi = 16),
      Expect("min", "v", lo = 7.5),
      Expect("max", "v", hi = 22.5),
      Expect("quantile", "v", lo = 10, hi = 20, q = 0.5))
    val shipped = ExpectJson.fromJson(ExpectJson.toJson(suite))
    assert(shipped.map(_.toString) === suite.map(_.toString))
    assert(Expectations.holds(base, shipped))
  }

  test("relative gates: null group keys align null-safely with their baseline row") {
    val base = Seq((Some("a"), 1), (None, 1), (None, 1)).toDF("g", "v")
    val cur = Seq((Some("a"), 2), (None, 3)).toDF("g", "v")
    val out = Expectations.evaluateRelative(cur,
        Seq(Expect("row_count_rel", lo = 0.4, hi = 2.5)),
        Expectations.evaluate(base, Seq(Expect("row_count")), Seq("g")),
        Seq("g"))
      .collect().map(r => Option(r.getAs[String]("g")) -> r).toMap
    // the NULL-keyed group is ONE aligned row (ratio 1/2), not a
    // failing first-run + vanished pair
    assert(out.size === 2)
    assert(out(None).getAs[Double]("observed") === 0.5)
    assert(out(None).getAs[Boolean]("pass"))
    assert(out(Some("a")).getAs[Double]("observed") === 1.0)
  }
}
