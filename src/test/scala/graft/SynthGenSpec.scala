package graft

import graft.data.SynthGen
import graft.validate.Validator
import org.apache.spark.sql.functions._

class SynthGenSpec extends SparkSpec {

  private val cfg = SynthGen.Config(rows = 6000L, partitions = 8)

  test("generator is deterministic and parallelism-invariant") {
    val a = SynthGen.codeFiles(spark, cfg)
    val b = SynthGen.codeFiles(spark, cfg.copy(partitions = 3))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("violation rates land near the configured per-mille dials") {
    val df = SynthGen.codeFiles(spark, cfg).cache()
    val n = df.count().toDouble
    def rate(c: org.apache.spark.sql.Column) = df.where(c).count() / n
    assert(rate(col("repo").isNull) > 0.001 && rate(col("repo").isNull) < 0.02)
    assert(rate(length(col("commit")) =!= 40) > 0.002)
    assert(rate(col("lang") === "cobol") > 0.002)
    assert(rate(col("content").isNull) > 0.001)
    // sha invariant broken for a known fraction of non-null contents
    assert(rate(col("content").isNotNull &&
      sha2(col("content"), 256) =!= col("expected_sha")) > 0.001)
    df.unpersist()
  }

  test("duplicates on (repo,path,commit) are injected; hot repo is skewed") {
    val df = SynthGen.codeFiles(spark, cfg)
    val dups = df.groupBy("repo", "path", "commit")
      .count().where(col("count") > 1).count()
    assert(dups > 0)
    val hot = df.groupBy("repo").count().orderBy(desc("count")).first()
    assert(hot.getLong(1) > cfg.rows / 10) // ~20% hot repo
  }

  test("flagship entry returns per-lang verdicts with rows > 0") {
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.columns.toSeq ===
      Seq("lang", "n_rows", "n_bad_rows", "n_violations", "n_warnings",
        "n_errors", "worst_severity", "pass"))
  }

  test("contract: every oracle SQL names a query; only the rows-only set lacks one") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles -- queries === Set.empty[String], "oracle SQL without a query")
    // Queries checked by rows only: their operators (HLL++ sketches)
    // have no DuckDB equivalent.
    assert(queries -- oracles === Set("q_hll_documents"))
  }

  test("full pipeline finds every injected violation kind") {
    val df = SynthGen.codeFiles(spark, cfg)
    val rules = Validator
      .violations(df, CodeFiles.schema, CodeFiles.keyCols)
      .select("field", "rule").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rules.contains(("repo", "required")))
    assert(rules.contains(("commit", "regex")))
    assert(rules.contains(("lang", "allowed")))
    assert(rules.contains(("content", "required")))
    assert(rules.contains(("content", "check_sha256")))
  }
}
