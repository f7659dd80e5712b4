package graft

import graft.schema.{FieldSpec, Schema, SchemaJson}
import graft.verdict.{ExpectJson, Expectations}
import graft.verdict.Expectations.Expect
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property tests for the round-5 data layer — laws that hold for ALL
  * inputs, not just the fixtures the example specs pin:
  *
  *   - SchemaJson / ExpectJson canonical round-trip (toJson is a
  *     fixpoint under fromJson) over generated data-only schemas and
  *     generated suites.
  *
  * Pure driver-side properties — no Spark jobs, so the default 100
  * cases per property are cheap.
  */
object CodecProps extends Properties("graft.codecs") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(60)

  // ---------------- generators ----------------

  private val genName: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)

  /** Flat specs: required/nullable, numeric bounds, length bounds,
    * allowed, notEmpty, regex, forbidden and severity.
    */
  private val genFlatSpec: Gen[FieldSpec] = for {
    required <- Gen.oneOf(true, false)
    nullable <- Gen.oneOf(true, false)
    notEmpty <- Gen.oneOf(true, false)
    lo <- Gen.choose(-100d, 100d)
    span <- Gen.choose(0d, 50d)
    hasMin <- Gen.oneOf(true, false)
    hasMax <- Gen.oneOf(true, false)
    minLen <- Gen.option(Gen.choose(0, 10))
    maxLen <- Gen.option(Gen.choose(10, 40))
    allowed <- Gen.option(
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))
        .map(_.distinct.sorted))
    forbidden <- Gen.option(
      Gen.nonEmptyListOf(Gen.oneOf("x", "y", "z")).map(_.distinct.sorted))
    regex <- Gen.option(Gen.oneOf("[a-z]+", "[0-9]{2}", "src[0-9]{1,2}"))
    sev <- Gen.oneOf("warning", "error", "fatal")
  } yield FieldSpec(
    required = required, nullable = nullable, notEmpty = notEmpty,
    min = if (hasMin) Some(lo) else None,
    max = if (hasMax) Some(lo + span) else None,
    minLength = minLen, maxLength = maxLen,
    allowed = allowed, forbidden = forbidden, regex = regex,
    severity = sev)

  private val genSchema: Gen[Schema] = for {
    names <- Gen.nonEmptyListOf(genName).map(_.distinct.take(5))
    specs <- Gen.listOfN(names.size, genFlatSpec)
  } yield Schema(names.zip(specs))

  /** Value-only sub-spec (what combinators/items/keysrules may carry). */
  private val genValueOnly: Gen[FieldSpec] = for {
    lo <- Gen.choose(-50d, 50d)
    hasMin <- Gen.oneOf(true, false)
    maxLen <- Gen.option(Gen.choose(1, 30))
    regex <- Gen.option(Gen.oneOf("[a-z]+", "[0-9]+"))
    allowed <- Gen.option(Gen.nonEmptyListOf(Gen.oneOf("p", "q")).map(_.distinct))
  } yield FieldSpec(
    min = if (hasMin) Some(lo) else None,
    maxLength = maxLen, regex = regex, allowed = allowed)

  /** Specs with NESTED machinery — combinators, positional items,
    * map rules, dependencies in both shapes, contains literals — the
    * recursive half of the codec.
    */
  private val genNestedSpec: Gen[FieldSpec] = for {
    base <- genFlatSpec
    anyOf <- Gen.listOf(genValueOnly).map(_.take(3))
    oneOf <- Gen.listOf(genValueOnly).map(_.take(2))
    items <- Gen.listOf(genValueOnly).map(_.take(3))
    keys <- Gen.option(genValueOnly)
    values <- Gen.option(genValueOnly)
    deps <- Gen.mapOf(Gen.zip(genName,
      Gen.listOf(Gen.oneOf("1", "2")))).map(_.take(2))
    contains <- Gen.option(Gen.nonEmptyListOf(
      Gen.oneOf[Any]("s", 7L, 1.5d, true)).map(_.take(3)))
  } yield base.copy(
    anyOf = anyOf, oneOf = oneOf, items = items,
    keysRules = keys, valuesRules = values,
    dependencies = deps, contains = contains)

  private val genNestedSchema: Gen[Schema] = for {
    names <- Gen.nonEmptyListOf(genName).map(_.distinct.take(4))
    specs <- Gen.listOfN(names.size, genNestedSpec)
  } yield Schema(names.zip(specs))

  private val genExpect: Gen[Expect] = for {
    kind <- Gen.oneOf(Expect.kinds.toSeq ++ Expect.relKinds.toSeq)
    columnName <- genName
    column = if (kind.startsWith("row_count")) "" else columnName
    lo <- Gen.choose(-1e6, 1e6)
    span <- Gen.choose(0d, 1e6)
    bounded <- Gen.oneOf(0, 1, 2, 3) // neither, lo, hi, both
    q <- Gen.choose(0d, 1d)
  } yield Expect(kind, column,
    lo = if (bounded == 1 || bounded == 3) lo else Double.NegativeInfinity,
    hi = if (bounded == 2 || bounded == 3) lo + span else Double.PositiveInfinity,
    q = if (kind.startsWith("quantile")) q else Double.NaN)

  // ---------------- codec round-trip laws ----------------

  property("SchemaJson: toJson is a fixpoint under fromJson") =
    forAll(genSchema) { s =>
      val j = SchemaJson.toJson(s)
      val parsed = SchemaJson.fromJson(j)
      SchemaJson.toJson(parsed) == j &&
        parsed.fieldNames == s.fieldNames
    }

  property("SchemaJson: fixpoint holds through nested combinators/items/map rules") =
    forAll(genNestedSchema) { s =>
      val j = SchemaJson.toJson(s)
      SchemaJson.toJson(SchemaJson.fromJson(j)) == j
    }

  property("ExpectJson: toJson is a fixpoint under fromJson") =
    forAll(Gen.nonEmptyListOf(genExpect)) { es =>
      val j = ExpectJson.toJson(es)
      ExpectJson.toJson(ExpectJson.fromJson(j)) == j
    }
}
