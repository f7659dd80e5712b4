package graft

import graft.refint.RefIntegrity
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Size
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Plan-SHAPE regression tests: the scale-critical physical-plan
  * properties the dossier (PLANS.md) documents, asserted so they cannot
  * silently regress. These inspect the pre-adaptive physical plan —
  * shape, not timings, so they are deterministic at any data size.
  */
class PlanSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  /** Final physical plan with exchanges inserted (EnsureRequirements
    * runs in executedPlan, not sparkPlan); AQE is disabled for the
    * planning call so the plan is a plain inspectable tree instead of
    * an AdaptiveSparkPlan wrapper.
    */
  private def physical(df: DataFrame): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    physical(df).collect { case s: ShuffleExchangeExec => s }

  private val docSchema = graft.schema.Schema.of(
    "text" -> graft.schema.FieldSpec(required = true, minLength = Some(10)),
    "lang" -> graft.schema.FieldSpec(allowed = Some(Seq("en", "de"))))

  test("per-row validation is shuffle-free (pure projection)") {
    assert(shuffles(Validator.annotate(docs, docSchema)).isEmpty)
    assert(shuffles(Validator.violations(docs, docSchema, Seq("doc_id"))).isEmpty)
  }

  test("violation rows evaluate the rules once: no inferred size filter over the rule array") {
    def sizeFilters(df: DataFrame) = physical(df).collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[Size]) => f
    }
    val accounts = docs.select(col("doc_id"),
      array(struct(col("source").as("name")), struct(col("lang").as("name"))).as("accounts"))
    val elemSchema = graft.schema.Schema.of(
      "name" -> graft.schema.FieldSpec(required = true, regex = Some("src[0-9]+")))
    assert(sizeFilters(Validator.violations(docs, docSchema, Seq("doc_id"))).isEmpty)
    assert(sizeFilters(
      Validator.elementViolations(accounts, elemSchema, "accounts", Seq("doc_id"))).isEmpty)
  }

  test("verdict rollup is one exchange with map-side partial aggregation") {
    val v = Verdict.compute(docs, docSchema, "lang")
    assert(shuffles(v).length === 1)
    assert(physical(v).toString.contains("partial_"))
  }

  test("ruleBreakdown sketch path: ONE exchange (exact distinct needs two), no Expand") {
    // Exact countDistinct plans the two-exchange distinct-rewrite over
    // the violation rows; the HLL path must collapse to ONE partial/
    // final aggregation exchange. (Both paths stay SortAggregate — the
    // string example_min/max buffers are not hash-aggregable — but the
    // sort keys are O(rules) and the second corpus-keyed exchange is
    // the cost that matters at scale.)
    val exact2 = Verdict.ruleBreakdown(docs, docSchema)
    assert(shuffles(exact2).length === 2)
    val sketch = Verdict.ruleBreakdown(docs, docSchema, approxDistinct = true)
    assert(shuffles(sketch).length === 1)
    val p = physical(sketch).toString
    assert(!p.contains("Expand"))
    assert(p.contains("partial_"))
    // and it must agree with the exact path on everything but the
    // distinct estimate (tiny violation sets: HLL is exact here too)
    val exact = Verdict.ruleBreakdown(docs, docSchema).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    val approx = sketch.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(exact === approx)
  }

  test("relative expectations: current side is one aggregation; lookup joins are broadcast") {
    import graft.verdict.Expectations
    import graft.verdict.Expectations.Expect
    val baseline = Expectations.evaluate(docs,
      Seq(Expect("row_count"), Expect("mean", "n_chars")), Seq("lang"))
    val rel = Expectations.evaluateRelative(docs,
      Seq(Expect("row_count_rel", lo = 0.5, hi = 2.0),
        Expect("mean_rel", "n_chars", lo = 0.5, hi = 2.0)),
      baseline, Seq("lang"))
    val p = physical(rel)
    // corpus-keyed exchanges: one per evaluate() pass (current +
    // baseline) — the alignment/bounds joins must add none beyond the
    // full-outer's own requirement, and the bounds join is broadcast.
    assert(p.toString.contains("BroadcastHashJoin"))
    assert(physical(rel).toString.contains("partial_"))
  }

  test("referential integrity plans a broadcast LEFT ANTI join") {
    val dim = spark.range(10).select(col("id").as("doc_id"))
    val p = physical(RefIntegrity.summary(docs, dim, Seq("doc_id"))).toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("approximate bloom RI is a shuffle-free scan; exact path joins only probe-hits") {
    val dim = docs.select(col("doc_id")).limit(100)
    val bloom = RefIntegrity.buildKeyBloom(dim, Seq("doc_id"), 1000L)
    // probe-only path: one codegen'd filter over the fact scan, no
    // exchange, no dim access
    assert(shuffles(RefIntegrity.orphansApprox(docs, Seq("doc_id"), bloom)).isEmpty)
    // exact path: the bloom probe appears as a pushed filter on the
    // candidate branch (might_contain_long in the plan), not a UDF
    val p = physical(RefIntegrity.orphansWithBloom(
      docs, dim, Seq("doc_id"), bloom, broadcastDim = true)).toString
    assert(p.contains("might_contain_long"))
  }

  test("column pruning reaches the scan for narrow projections") {
    val q = docs.select(col("doc_id"), length(col("text")).as("len"))
    val scans = physical(q).toString
    assert(scans.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("filter pushdown reaches the parquet scan") {
    val q = docs.where(col("lang") === "en").select(col("doc_id"))
    assert(physical(q).toString.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"))
  }
}
