package graft

import graft.functions.{MinHashSig, SimHash64}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the engine's native expressions, injectable two ways:
  *
  *   - config: `--conf spark.sql.extensions=graft.GraftExtensions`
  *     (applied at session build — the spark-submit path);
  *   - programmatic: `GraftExtensions.register(spark)` on a live
  *     session.
  *
  * Registered functions (names mirror the Column API in
  * `graft.functions.HashExprs`):
  * {{{
  *   SELECT minhash_sig(text, 8, 64)  -- array<bigint> signature
  *   SELECT simhash64(text)           -- 64-bit simhash
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val registrations: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(text, n, k) =>
          MinHashSig(text, intLit(n, "shingle size"), intLit(k, "signature length"))
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text, shingleN, k) takes 3 arguments")
      }),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => SimHash64(text)
        case _ => throw new IllegalArgumentException("simhash64(text) takes 1 argument")
      })
  )

  /** Register into an already-built session's function registry. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, info, builder) =>
      org.apache.spark.sql.GraftExprBridge
        .registerFunction(spark, FunctionIdentifier(name), info, builder)
    }
}
