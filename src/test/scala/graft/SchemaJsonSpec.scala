package graft

import graft.schema.{CustomCheck, FieldSpec, Schema, SchemaJson, Severity}
import graft.validate.Validator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class SchemaJsonSpec extends SparkSpec {
  import spark.implicits._

  private val checkReg = Map(
    "check_even" -> CustomCheck("check_even",
      c => c.cast("long") % 2 === 0, Severity.Warning))

  /** One of everything serializable — the round-trip workhorse. */
  private val rich = Schema.of(
    "id" -> FieldSpec(required = true, dtype = Some(LongType),
      checks = checkReg.values.toSeq),
    "name" -> FieldSpec(notEmpty = true, minLength = Some(2),
      maxLength = Some(10), regex = Some("[a-z]+"),
      normalize = Some(c => lower(trim(c))),
      ruleSeverity = Map("minlength" -> Severity.Warning)),
    "kind" -> FieldSpec(allowed = Some(Seq("a", "b")),
      forbidden = Some(Seq("z")), severity = Severity.Warning,
      dependencies = Map("name" -> Nil, "score" -> Seq("1", "2"))),
    "score" -> FieldSpec(min = Some(0d), max = Some(100.5),
      oneOf = Seq(FieldSpec(max = Some(10d)), FieldSpec(min = Some(90d))),
      excludes = Seq("legacy")),
    "tags" -> FieldSpec(contains = Some(Seq("x", 3L, 4.0)),
      items = Seq(FieldSpec(regex = Some("t.*")), FieldSpec())),
    "attrs" -> FieldSpec(
      keysRules = Some(FieldSpec(maxLength = Some(5))),
      valuesRules = Some(FieldSpec(min = Some(0d)))),
    "region" -> FieldSpec(default = Some("eu"), rename = Some("zone")),
    "ratio" -> FieldSpec(default = Some(100.0)),
    "bucket" -> FieldSpec(defaultSetter =
      Some(expr("CASE WHEN score > 50 THEN 'hi' ELSE 'lo' END"))))

  private val richNorms = Map("lower_trim" -> ((c: org.apache.spark.sql.Column) => lower(trim(c))))

  test("toJson is a fixpoint under fromJson (canonical round-trip)") {
    val j1 = SchemaJson.toJson(rich, richNorms)
    val parsed = SchemaJson.fromJson(j1, richNorms, checkReg)
    val j2 = SchemaJson.toJson(parsed, richNorms)
    assert(j1 === j2)
    // order preserved
    assert(parsed.fieldNames === rich.fieldNames)
    // integral Double literals stay Double (a Long default would change
    // the type of the column it creates)
    val spec = parsed.fields.toMap
    assert(spec("ratio").default.get.isInstanceOf[Double])
    assert(spec("tags").contains.get.map(_.getClass) ===
      Seq(classOf[String], classOf[java.lang.Long], classOf[java.lang.Double]))
  }

  test("parsed schema validates identically to the code-built schema") {
    val df = Seq(
      (1L, "  OK  ", "a", 95.0),
      (2L, "x", "z", 50.0),
      (3L, null.asInstanceOf[String], "c", -1.0)
    ).toDF("id", "name", "kind", "score")
    val codeSchema = Schema.of(
      "id" -> FieldSpec(required = true, checks = checkReg.values.toSeq),
      "name" -> FieldSpec(notEmpty = true, minLength = Some(2),
        normalize = Some(c => lower(trim(c))),
        ruleSeverity = Map("minlength" -> Severity.Warning)),
      "kind" -> FieldSpec(allowed = Some(Seq("a", "b")),
        forbidden = Some(Seq("z"))),
      "score" -> FieldSpec(min = Some(0d),
        oneOf = Seq(FieldSpec(max = Some(10d)), FieldSpec(min = Some(90d)))))
    val json = SchemaJson.toJson(codeSchema, richNorms)
    val viaJson = SchemaJson.fromJson(json, richNorms, checkReg)
    val a = Validator.violations(df, codeSchema, Seq("id"))
      .collect().map(_.toString).sorted
    val b = Validator.violations(df, viaJson, Seq("id"))
      .collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("default_setter round-trips as SQL and injects the computed value") {
    val json = """{"score": {}, "bucket":
      {"default_setter": "CASE WHEN score > 50 THEN 'hi' ELSE 'lo' END"}}"""
    val schema = SchemaJson.fromJson(json)
    val out = Validator.normalizeDocument(
      Seq((95.0, null.asInstanceOf[String]), (10.0, "set"))
        .toDF("score", "bucket"), schema)
      .orderBy(desc("score")).collect()
    assert(out.map(_.getString(1)).toSeq === Seq("hi", "set"))
    // serialize → parse → same SQL text
    val j2 = SchemaJson.toJson(schema)
    assert(SchemaJson.toJson(SchemaJson.fromJson(j2)) === j2)
  }

  test("dependencies: array form means presence-only, object form carries values") {
    val arr = SchemaJson.fromJson("""{"a": {"dependencies": ["b", "c"]}}""")
    assert(arr.fields.head._2.dependencies === Map("b" -> Nil, "c" -> Nil))
    val obj = SchemaJson.fromJson("""{"a": {"dependencies": {"b": ["1"], "c": "2"}}}""")
    assert(obj.fields.head._2.dependencies === Map("b" -> Seq("1"), "c" -> Seq("2")))
  }

  test("empty key uses Cerberus polarity: empty:false forbids empty values") {
    assert(SchemaJson.fromJson("""{"a": {"empty": false}}""").fields.head._2.notEmpty)
    assert(!SchemaJson.fromJson("""{"a": {"empty": true}}""").fields.head._2.notEmpty)
  }

  test("strict parse: unknown keys, types, names, and shapes all fail loudly") {
    def err(json: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](SchemaJson.fromJson(json))
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !contains '$frag'")
    }
    err("""{"a": {"regexp": "x"}}""", "unknown key 'regexp'")
    err("""{"a": {"min": "ten"}}""", "min must be a number")
    err("""{"a": {"normalize": "rot13"}}""", "unknown normalizer 'rot13'")
    err("""{"a": {"checks": ["nope"]}}""", "unknown check 'nope'")
    err("""{"a": [1, 2]}""", "spec must be a JSON object")
    err("""[1]""", "schema document must be a JSON object")
    err("""{"a": {"anyof": {"min": 1}}}""", "anyof must be an array")
    err("""{"a": {"min": 1}, "a": {"max": 2}}""", "duplicate keys")
    err("""{"a": {"min": 1, "min": 2}}""", "duplicate keys")
    // severity validated by FieldSpec's closed vocabulary (E1)
    intercept[IllegalArgumentException](
      SchemaJson.fromJson("""{"a": {"severity": "panic"}}"""))
    // value-only law reaches sub-specs parsed from JSON too
    intercept[IllegalArgumentException](
      SchemaJson.fromJson("""{"a": {"anyof": [{"required": true}]}}"""))
  }

  test("serializing an unregistered normalizer fails with its applied form") {
    val s = Schema.of("a" -> FieldSpec(normalize = Some(reverse(_))))
    val e = intercept[IllegalArgumentException](SchemaJson.toJson(s))
    assert(e.getMessage.contains("no registry name"))
    assert(SchemaJson.toJson(s,
      Map("rev" -> ((c: org.apache.spark.sql.Column) => reverse(c))))
      .contains(""""normalize":"rev""""))
  }

  test("serializing a DSL-built default_setter fails with guidance") {
    val s = Schema.of("b" -> FieldSpec(defaultSetter =
      Some(when(col("x") > 0, "p").otherwise("n"))))
    val e = intercept[IllegalArgumentException](SchemaJson.toJson(s))
    assert(e.getMessage.contains("built with expr"))
  }

  test("type round-trips through catalogString, including nested types") {
    val s = Schema.of(
      "a" -> FieldSpec(dtype = Some(org.apache.spark.sql.types.DataType
        .fromDDL("array<struct<x:int,y:string>>"))))
    val j = SchemaJson.toJson(s)
    assert(SchemaJson.fromJson(j).fields.head._2.dtype === s.fields.head._2.dtype)
  }
}
