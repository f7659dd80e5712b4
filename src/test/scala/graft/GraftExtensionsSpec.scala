package graft

import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL functions match the Column API after registration") {
    GraftExtensions.register(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text").createOrReplaceTempView("ext_docs")

    val viaSql = spark.sql(
      """SELECT simhash64(text) AS sh, minhash_sig(text, 8, 16) AS mh
        |FROM ext_docs""".stripMargin).head()
    val viaApi = spark.table("ext_docs").select(
      graft.functions.HashExprs.simhash64($"text").as("sh"),
      graft.functions.HashExprs.minhashSig($"text", 8, 16).as("mh")).head()
    assert(viaSql.getLong(0) === viaApi.getLong(0))
    assert(viaSql.getSeq[Long](1) === viaApi.getSeq[Long](1))
  }

  test("injectFunction wiring registers into a fresh FunctionRegistry") {
    // Exercise the spark.sql.extensions route directly: apply the
    // extensions class to a SparkSessionExtensions instance and drain it
    // into a clean registry (getOrCreate would just return the shared
    // test session and silently skip extension application).
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = new SimpleFunctionRegistry
    org.apache.spark.sql.GraftExprBridge.applyExtensionFunctions(ext, registry)
    Seq("minhash_sig", "simhash64").foreach { f =>
      assert(registry.functionExists(FunctionIdentifier(f)), f)
    }
    val built = registry.lookupFunction(
      FunctionIdentifier("simhash64"), Seq(Literal("hello world")))
    val expect = graft.functions.SimHash64.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world"))
    assert(built.eval(null) === expect)
  }

  test("argument validation: wrong arity fails analysis") {
    GraftExtensions.register(spark)
    intercept[Exception] { spark.sql("SELECT simhash64('a', 'b')").collect() }
    intercept[Exception] { spark.sql("SELECT minhash_sig('a')").collect() }
  }

  test("argument validation: wrong types fail at ANALYSIS, not execution") {
    GraftExtensions.register(spark)
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash64(42)").queryExecution.analyzed
    }
    assert(e1.getMessage.contains("string"))
  }
}
