package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership probe as a native, codegen'd expression.
  *
  * Why: referential integrity against a dimension too large to
  * broadcast normally costs a full shuffle of the fact table
  * (sort-merge anti-join). A Bloom filter over the dim's key hashes is
  * megabytes where the dim itself is terabytes, so it CAN ship to every
  * task; probing it classifies each fact row with zero shuffle:
  *
  *   - probe says NO  → the key is DEFINITELY absent → a true orphan;
  *   - probe says YES → the key is PRESENT OR a false positive (rate
  *     `fpp`) → only these rows need the real join.
  *
  * The filter object rides the plan once via `addReferenceObj` (plan
  * size O(1) in filter size, one deserialized instance per executor,
  * probe stays inside WholeStageCodegen).
  *
  * Semantics grounding: the reference's membership gate before the
  * expensive per-entry work (set-lookup guard at
  * app/src/main/java/com/yiran/cerberus/ui/home/HomeViewModel.kt:108)
  * — generalized to a space-bounded approximate set at corpus scale.
  */
object BloomExprs {

  /** `bloom.mightContainLong(col)` — col must be LONG (hash your key
    * tuple first, e.g. `xxhash64(k1, k2)`); `bytes` is a serialized
    * `org.apache.spark.util.sketch.BloomFilter`.
    */
  def mightContainLong(c: Column, bytes: Array[Byte]): Column =
    GraftExprBridge.column(
      BloomMightContainLong(GraftExprBridge.expression(c), bytes))

  /** Serialize a sketch BloomFilter to portable bytes. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Inverse of [[serialize]]. */
  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
}

/** `might_contain_long(child)` against a fixed serialized BloomFilter.
  * Null input → null (a NULL key is neither present nor an orphan —
  * matching SQL RI semantics where NULL never violates).
  */
case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "might_contain_long"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"might_contain_long requires BIGINT (hash the key first), got ${t.sql}")
  }

  // Deserialized once per (driver, deserialized-task) instance; the
  // sketch BloomFilter is Serializable so it also rides addReferenceObj.
  @transient private lazy val bloom: BloomFilter =
    BloomExprs.deserialize(bloomBytes)

  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomRef = ctx.addReferenceObj("bloom", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $bloomRef.mightContainLong($c);
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}
