package graft

import graft.data.SynthGen
import graft.schema.{FieldSpec, Schema}
import graft.unique.Uniqueness
import graft.validate.Validator
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property tests (SURVEY.md §5.2 #2): engine invariants under
  * generated inputs.
  *
  *   - violations(df) is empty ⟺ every rule predicate holds row-wise
  *     (checked against an independent driver-side interpreter);
  *   - dedup idempotence;
  *   - salting invariance (salted == unsalted counts).
  */
object RuleProps extends Properties("graft.rules") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10) // each Spark-backed case is a real job

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // ---------------- generators ----------------

  private val langGen: Gen[String] =
    Gen.oneOf(SynthGen.langs :+ "cobol" :+ "" :+ "FORTRAN")
  private val commitGen: Gen[String] = Gen.oneOf(
    Gen.listOfN(40, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString),
    Gen.alphaNumStr.map(_.take(45)))
  private val textGen: Gen[Option[String]] = Gen.frequency(
    8 -> Gen.alphaNumStr.map(s => Some(s.take(60))),
    1 -> Gen.const(Some("")),
    1 -> Gen.const(None))
  private val rowGen: Gen[(Option[String], String, String, Double)] =
    for {
      t <- textGen; c <- commitGen; l <- langGen
      d <- Gen.choose(-100d, 700d)
    } yield (t, c, l, d)

  private val schema = Schema.of(
    "text" -> FieldSpec(required = true, notEmpty = true, minLength = Some(3)),
    "commit" -> FieldSpec(required = true, regex = Some("[0-9a-f]{40}")),
    "lang" -> FieldSpec(required = true, allowed = Some(SynthGen.langs)),
    "score" -> FieldSpec(min = Some(0d), max = Some(500d))
  )

  /** Independent driver-side interpreter of the same schema. */
  private def expectedViolations(
      t: Option[String], c: String, l: String, d: Double): Int = {
    var n = 0
    t match {
      case None => n += 1 // text required
      case Some(s) =>
        if (s.trim.isEmpty) n += 1 // `empty` trims before testing
        if (s.length < 3) n += 1 // `minlength` does NOT trim (no normalizer set)
    }
    if (!java.util.regex.Pattern.matches("[0-9a-f]{40}", c)) n += 1
    if (!SynthGen.langs.contains(l)) n += 1
    if (d < 0d) n += 1
    if (d > 500d) n += 1
    n
  }

  property("violation count matches an independent rule interpreter") =
    forAll(Gen.listOfN(60, rowGen)) { rows =>
      val df = rows.map { case (t, c, l, d) => (t.orNull, c, l, d) }
        .toDF("text", "commit", "lang", "score")
      val got = Validator.annotate(df, schema)
        .select($"text", $"commit", $"lang", $"score", $"n_violations")
        .collect()
      got.forall { r =>
        val t = Option(r.getString(0))
        val exp = expectedViolations(t, r.getString(1), r.getString(2), r.getDouble(3))
        r.getInt(4) == exp
      }
    }

  property("dedup is idempotent and keeps one row per key") =
    forAll(Gen.listOfN(80, Gen.choose(0, 15))) { keys =>
      val df = keys.zipWithIndex.map { case (k, i) => (k.toLong, i.toLong) }
        .toDF("k", "v")
      val once = Uniqueness.dedup(df, Seq("k"), Seq(col("v")))
      val twice = Uniqueness.dedup(once, Seq("k"), Seq(col("v")))
      val a = once.select($"k", $"v").as[(Long, Long)].collect().sorted.toSeq
      val b = twice.select($"k", $"v").as[(Long, Long)].collect().sorted.toSeq
      a == b && a.map(_._1).distinct.length == a.length
    }

  property("salted group counts equal plain groupBy counts") =
    forAll(Gen.listOfN(100, Gen.choose(0, 5))) { keys =>
      val df = keys.map(k => Tuple1(s"repo$k")).toDF("repo")
      val plain = df.groupBy($"repo").count()
        .as[(String, Long)].collect().toMap
      val salted = Uniqueness.groupCountsSalted(df, "repo", nSalts = 7)
        .as[(String, Long)].collect().toMap
      plain == salted
    }
}
