package graft

import graft.functions.HashExprs
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class HashExprsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  /** Reference MinHash signatures composed from built-ins (explode →
    * k min-aggregates): the oracle the native [[HashExprs.minhashSig]]
    * must match bit for bit.
    */
  private def minHashSignaturesAgg(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      shingleN: Int = 8): DataFrame = {
    val exploded = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.normalizeText(col(textCol)).as("__norm"))
      .select(col("id"),
        explode(TextAnalysis.shingleHashesNormalized(col("__norm"), shingleN)).as("h"))
    // k independent hash families: h_i = xxhash64(shingle_hash, i).
    val minCols = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    exploded
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Reference SimHash composed from built-ins: explode tokens → (id,
    * token-hash, tf) aggregate → 64 conditional sums → bit assembly.
    * The native [[HashExprs.simhash64]] must match it bit for bit on
    * docs with ≥1 token.
    */
  private def simHashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(split(TextAnalysis.normalizeText(col(textCol)), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("id"), xxhash64(col("tok")).as("h"))
      .agg(count(lit(1)).as("tf"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"b$j")
    }
    val assembled = (0 until 64)
      .map { j =>
        // bit j contributes 2^j when its sum is positive; use the
        // signed-long bit directly (bit 63 → Long.MinValue).
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
      }
      .reduce[Column](_.bitwiseXOR(_))
    tokens
      .groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), assembled.as("simhash"))
  }

  test("native minhash_sig is bit-identical to the explode+aggregate path") {
    val k = 16; val n = 8
    val viaAgg = minHashSignaturesAgg(docs, "doc_id", "text", k = k, shingleN = n)
      .as[(Long, Seq[Long])].collect().toMap
    val viaExpr = docs
      .where($"text".isNotNull)
      .select($"doc_id",
        HashExprs.minhashSig(TextAnalysis.normalizeText($"text"), n, k).as("sig"))
      .where(size($"sig") > 0)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr.keySet === viaAgg.keySet)
    viaAgg.foreach { case (id, sig) => assert(viaExpr(id) === sig, s"doc $id") }
  }

  test("native simhash64 is bit-identical to the explode+aggregate path") {
    val viaAgg = simHashAgg(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    val viaExpr = docs
      .where($"text".isNotNull)
      .select($"doc_id",
        HashExprs.simhash64(TextAnalysis.normalizeText($"text")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg.keySet.subsetOf(viaExpr.keySet))
    viaAgg.foreach { case (id, h) => assert(viaExpr(id) === h, s"doc $id") }
  }

  test("interpreted eval matches codegen (both paths exercised)") {
    val df = Seq((1L, "the quick brown fox"), (2L, "ab")).toDF("id", "t")
    // Codegen path: plain projection inside WholeStageCodegen.
    val gen = df.select($"id", HashExprs.simhash64($"t").as("h"),
      HashExprs.minhashSig($"t", 8, 4).as("s")).collect()
    // Interpreted path: direct expression eval.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val h1 = graft.functions.SimHash64(Literal("the quick brown fox")).eval(null)
    assert(gen.find(_.getLong(0) == 1L).get.getLong(1) === h1)
    val s2 = graft.functions.MinHashSig(Literal("ab"), 8, 4).eval(null)
    assert(s2.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() === 0)
    assert(gen.find(_.getLong(0) == 2L).get.getSeq[Long](2) === Seq.empty)
  }

  test("minhash windows over code points: non-BMP text keeps bit-parity") {
    // "𝄞" (U+1D11E) is a surrogate pair in UTF-16; char-based windowing
    // would produce a different shingle count AND split the pair.
    val df = Seq((1L, "𝄞abcdefgh foo"), (2L, "日本語のテキストです長い")).toDF("doc_id", "text")
    val viaAgg = minHashSignaturesAgg(df, "doc_id", "text", k = 8, shingleN = 8)
      .as[(Long, Seq[Long])].collect().toMap
    val viaExpr = df
      .select($"doc_id",
        HashExprs.minhashSig(TextAnalysis.normalizeText($"text"), 8, 8).as("sig"))
      .where(size($"sig") > 0)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr === viaAgg)
  }

  test("null propagates; empty text yields empty sig / zero simhash") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("id", "t")
    val r = df.select($"id", HashExprs.simhash64($"t").as("h"),
      HashExprs.minhashSig($"t", 8, 4).as("s")).collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(1L).isNullAt(1) && byId(1L).isNullAt(2))
    assert(byId(2L).getLong(1) === 0L)
    assert(byId(2L).getSeq[Long](2) === Seq.empty)
  }
}
