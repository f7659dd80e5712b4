package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-document hash kernels.
  *
  * Why native: MinHash/SimHash are per-row computations, but the
  * compose-built-ins route (explode shingles → shuffle → k min/64 sum
  * aggregates) materializes |doc|·shingles rows and shuffles them —
  * pure overhead at 100 TB. These expressions compute the whole
  * signature inside one projection: zero shuffle, zero row
  * amplification, and `doGenCode` emits a single static call so the
  * operator stays inside WholeStageCodegen.
  *
  * Hash-family parity: both use Spark's own xxhash64 kernel
  * (`XxHash64Function`, seed 42) exactly as the built-in `xxhash64(col)`
  * / `xxhash64(col, lit(i))` expressions chain it, so results are
  * bit-identical to the DataFrame-composed versions — pinned by
  * HashExprsSpec, which keeps those compositions as its reference.
  *
  * Semantics grounding: deterministic per-row hash kernels mirror the
  * reference's digest dispatch (rust/src/lib.rs:194-214) and
  * hash-then-compare (rust/src/lib.rs:161-172).
  */
object HashExprs {

  /** MinHash signature of `c`'s character `n`-gram shingle set, length
    * `k`, as one per-row expression. Input must be pre-normalized text
    * (compose with TextAnalysis.normalizeText upstream).
    */
  def minhashSig(c: Column, n: Int, k: Int): Column =
    GraftExprBridge.column(MinHashSig(GraftExprBridge.expression(c), n, k))

  /** 64-bit SimHash of `c`'s whitespace tokens (tf-weighted), as one
    * per-row expression. Input must be pre-normalized text.
    */
  def simhash64(c: Column): Column =
    GraftExprBridge.column(SimHash64(GraftExprBridge.expression(c)))
}

/** Per-row MinHash signature: for each of `k` hash families, the min of
  * `xxhash64(xxhash64(shingle), i)` over the row's distinct character
  * n-gram shingles. Empty/short input → empty array (matches the
  * DataFrame path, where such docs produce no exploded rows).
  */
case class MinHashSig(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  // ExpectsInputTypes is unusable outside org.apache.spark.sql
  // (AbstractDataType is private[sql]); enforce at analysis time here.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires a string argument, got ${t.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c, $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** Static kernel (called from generated code — keep Java-callable). */
  def compute(s: UTF8String, n: Int, k: Int): ArrayData = {
    // Windows are over CODE POINTS, not UTF-16 units — `substring()` in
    // the composed DataFrame path counts code points, and windowing on
    // chars would both break bit-parity on non-BMP text and split
    // surrogate pairs mid-character. Walk the UTF-8 bytes directly and
    // slice shingles with fromBytes: identical bytes → identical hash,
    // without the UTF8String → String → substring → UTF8String round
    // trip the obvious implementation pays per shingle (two charset
    // conversions × shingles × corpus — measurable at mining scale).
    val bytes = s.getBytes
    val numBytes = bytes.length
    val cpCount = s.numChars()
    if (cpCount < n) return new GenericArrayData(Array.emptyLongArray)
    val offsets = new Array[Int](cpCount + 1)
    var o = 0
    var ci = 0
    while (ci < cpCount) {
      offsets(ci) = o
      o += UTF8String.numBytesForFirstByte(bytes(o))
      ci += 1
    }
    offsets(cpCount) = numBytes
    val mins = Array.fill(k)(Long.MaxValue)
    // Distinct shingles: the DataFrame path applies array_distinct before
    // hashing families; duplicates don't change a min, so no dedup needed
    // for correctness — skip the set allocation entirely.
    var i = 0
    while (i <= cpCount - n) {
      val shingle =
        UTF8String.fromBytes(bytes, offsets(i), offsets(i + n) - offsets(i))
      // xxhash64(substring) — built-in seed 42, hashing the UTF-8 bytes.
      val base = XxHash64Function.hash(shingle, org.apache.spark.sql.types.StringType, 42L)
      val seed1 = XxHash64Function.hash(base, LongType, 42L)
      var f = 0
      while (f < k) {
        // xxhash64(baseHash, f) chains as hash(int f, seed = hash(long base, 42))
        // — f is an IntegerType literal in the DataFrame path, so it
        // must hash as a 4-byte int here for bit parity.
        val h = XxHash64Function.hash(f,
          org.apache.spark.sql.types.IntegerType, seed1)
        if (h < mins(f)) mins(f) = h
        f += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Per-row 64-bit SimHash over whitespace tokens, term-frequency
  * weighted: bit j is set iff Σ_tokens tf·(bit_j(xxhash64(token)) ? 1 : -1) > 0.
  * Null-in → null-out; a row with no tokens hashes to 0L.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires a string argument, got ${t.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** Static kernel (called from generated code — keep Java-callable). */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    val sums = new Array[Long](64)
    var start = 0
    val len = str.length
    while (start < len) {
      var end = start
      while (end < len && str.charAt(end) != ' ') end += 1
      if (end > start) {
        val tok = UTF8String.fromString(str.substring(start, end))
        val h = XxHash64Function.hash(tok, org.apache.spark.sql.types.StringType, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
      }
      start = end + 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}
