package graft.schema

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DataType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Schemas as DATA: a strict, order-preserving JSON codec for [[Schema]].
  *
  * The reference round-trips its validated domain through JSON with
  * parse failure as a closed error (`accounts_to_json` /
  * `json_to_accounts`, reference rust/src/lib.rs:73-82); public
  * Cerberus takes the next step and makes the SCHEMA itself a plain
  * dict. This codec is that step for the engine: a validation schema
  * becomes a shippable document — versioned in config repos, diffed,
  * sent over the wire — compiled to the same Catalyst rules as the
  * Scala DSL.
  *
  * Format: a JSON object `{field: spec}` in field order (order is
  * significant — it fixes violation-struct slot order), each spec an
  * object over the public-Cerberus key vocabulary:
  * `type required nullable empty regex allowed forbidden min max
  * minlength maxlength dependencies excludes contains anyof allof
  * oneof noneof keysrules valuesrules items normalize checks severity
  * rule_severity default default_setter rename`.
  *
  * Strictness (E1 — misconfiguration fails at parse, not mid-job):
  * unknown keys, wrong JSON types, unknown severities, and unresolved
  * registry names all throw naming the field and key. There is no
  * lenient mode.
  *
  * Functional members cross the data boundary BY NAME, exactly like
  * Cerberus's registry-resolved `coerce`/`check_with` strings:
  *   - `normalize`: a name resolved against [[builtinNormalizers]]
  *     plus a caller registry; serialization reverse-maps the function
  *     by the SQL of its applied form (so `Some(trim(_))` and the
  *     registry's `trim` entry serialize identically — function
  *     REFERENCE equality is useless for lambdas).
  *   - `checks`: [[CustomCheck]] names; the registry supplies the
  *     predicate and severity (the code half never serializes).
  *   - `default_setter`: SQL text, parsed with `expr(...)` — a
  *     computed default IS an expression over the document. Serializing
  *     requires the Column to have been BUILT from SQL text (`expr`);
  *     DSL-built Columns render debug strings, not parseable SQL, and
  *     are rejected with guidance.
  *
  * Canonical form: [[toJson]] emits keys in a fixed order and omits
  * defaults, so `toJson` is a fixpoint under `fromJson` — the
  * round-trip law pinned by SchemaJsonSpec is
  * `toJson(fromJson(toJson(s))) == toJson(s)` plus violation-for-
  * violation behavior equality of the parsed schema.
  */
object SchemaJson {

  /** Named normalizers available to every schema document (callers
    * extend via the `normalizers` parameter). Kept deliberately small:
    * the trim/case-fold family is the reference's own normalization
    * vocabulary (uppercase+strip before validate, reference
    * app/.../TotpUtil.kt:26).
    */
  val builtinNormalizers: Map[String, Column => Column] = Map(
    "trim" -> (F.trim(_)),
    "upper" -> (F.upper(_)),
    "lower" -> (F.lower(_)),
    "trim_upper" -> (c => F.upper(F.trim(c))),
    "trim_lower" -> (c => F.lower(F.trim(c))))

  private val specKeys: Seq[String] = Seq(
    "type", "required", "nullable", "empty", "regex", "allowed",
    "forbidden", "min", "max", "minlength", "maxlength", "dependencies",
    "excludes", "contains", "anyof", "allof", "oneof", "noneof",
    "keysrules", "valuesrules", "items", "normalize", "checks",
    "severity", "rule_severity", "default", "default_setter", "rename")
  private val knownKeys = specKeys.toSet

  // ------------------------------------------------------------------
  // Parse
  // ------------------------------------------------------------------

  /** Parse a JSON schema document. `normalizers` and `checks` extend
    * the name registries (a caller check name shadows nothing —
    * built-ins exist only for normalizers, and caller entries win
    * there).
    */
  def fromJson(
      json: String,
      normalizers: Map[String, Column => Column] = Map.empty,
      checks: Map[String, CustomCheck] = Map.empty): Schema = {
    val root = JsonMethods.parse(json) match {
      case JObject(fields) => fields
      case other => fail("<root>", s"schema document must be a JSON " +
        s"object {field: spec}, got ${kind(other)}")
    }
    // JSON parsers keep duplicate keys; two specs folding onto one
    // field is exactly the silent-collision class E1 exists to reject
    graft.util.JsonLeaf.requireDistinctKeys("SchemaJson", root)
    val normReg = builtinNormalizers ++ normalizers
    Schema(root.map { case (field, jv) =>
      jv match {
        case JObject(spec) => field -> parseSpec(field, spec, normReg, checks)
        case other => fail(field, s"spec must be a JSON object, got ${kind(other)}")
      }
    })
  }

  private def parseSpec(
      field: String,
      entries: List[(String, JValue)],
      normReg: Map[String, Column => Column],
      checkReg: Map[String, CustomCheck]): FieldSpec = {
    entries.foreach { case (k, _) =>
      require(knownKeys.contains(k),
        s"field '$field': unknown key '$k' (known: ${specKeys.mkString(", ")})")
    }
    graft.util.JsonLeaf.requireDistinctKeys(s"field '$field'", entries)
    val m = entries.toMap
    def sub(rule: String)(jv: JValue): FieldSpec = jv match {
      // sub-specs are value-only predicates (FieldSpec enforces) and
      // carry no functional members — empty registries keep that
      // boundary a parse error, not a silent acceptance
      case JObject(s) => parseSpec(s"$field.$rule", s, normReg, Map.empty)
      case other => fail(field, s"$rule entries must be objects, got ${kind(other)}")
    }
    FieldSpec(
      dtype = m.get("type").map(jv => DataType.fromDDL(str(field, "type", jv))),
      required = m.get("required").map(bool(field, "required", _)).getOrElse(false),
      nullable = m.get("nullable").map(bool(field, "nullable", _)).getOrElse(true),
      // Cerberus polarity: `"empty": false` forbids empty values
      notEmpty = m.get("empty").exists(!bool(field, "empty", _)),
      regex = m.get("regex").map(str(field, "regex", _)),
      allowed = m.get("allowed").map(strs(field, "allowed", _)),
      forbidden = m.get("forbidden").map(strs(field, "forbidden", _)),
      min = m.get("min").map(num(field, "min", _)),
      max = m.get("max").map(num(field, "max", _)),
      minLength = m.get("minlength").map(int(field, "minlength", _)),
      maxLength = m.get("maxlength").map(int(field, "maxlength", _)),
      dependencies = m.get("dependencies").map(deps(field, _)).getOrElse(Map.empty),
      excludes = m.get("excludes").map(strs(field, "excludes", _)).getOrElse(Nil),
      contains = m.get("contains").map {
        case JArray(vs) => vs.map(lit(field, "contains", _))
        case other => fail(field, s"contains must be an array, got ${kind(other)}")
      },
      anyOf = subList(field, "anyof", m, sub("anyof")),
      allOf = subList(field, "allof", m, sub("allof")),
      oneOf = subList(field, "oneof", m, sub("oneof")),
      noneOf = subList(field, "noneof", m, sub("noneof")),
      keysRules = m.get("keysrules").map(sub("keysrules")),
      valuesRules = m.get("valuesrules").map(sub("valuesrules")),
      items = subList(field, "items", m, sub("items")),
      normalize = m.get("normalize").map { jv =>
        val name = str(field, "normalize", jv)
        normReg.getOrElse(name, fail(field,
          s"unknown normalizer '$name' (known: ${normReg.keys.toSeq.sorted.mkString(", ")})"))
      },
      checks = m.get("checks").map {
        case JArray(vs) => vs.map { jv =>
          val name = str(field, "checks", jv)
          checkReg.getOrElse(name, fail(field,
            s"unknown check '$name' (known: ${checkReg.keys.toSeq.sorted.mkString(", ")})"))
        }
        case other => fail(field, s"checks must be an array of names, got ${kind(other)}")
      }.getOrElse(Nil),
      severity = m.get("severity").map(str(field, "severity", _))
        .getOrElse(Severity.Error),
      ruleSeverity = m.get("rule_severity").map {
        case JObject(fs) => fs.map { case (r, v) =>
          r -> str(field, s"rule_severity.$r", v)
        }.toMap
        case other => fail(field, s"rule_severity must be an object, got ${kind(other)}")
      }.getOrElse(Map.empty),
      default = m.get("default").map(lit(field, "default", _)),
      defaultSetter = m.get("default_setter")
        .map(jv => F.expr(str(field, "default_setter", jv))),
      rename = m.get("rename").map(str(field, "rename", _)))
  }

  // ------------------------------------------------------------------
  // Serialize
  // ------------------------------------------------------------------

  /** Canonical JSON for `schema`. Functional members must be NAMEABLE:
    * `normalize` is reverse-mapped against the registries by the SQL
    * of its applied form, `checks` serialize their own rule names, and
    * `default_setter` becomes its Column's SQL. An unnameable
    * normalizer throws (E1 — register it, then serialize).
    */
  def toJson(
      schema: Schema,
      normalizers: Map[String, Column => Column] = Map.empty,
      pretty: Boolean = false): String = {
    val normReg = builtinNormalizers ++ normalizers
    // name -> SQL-of-applied-form, computed once; lambda identity is
    // meaningless, the produced EXPRESSION is the function's identity
    val normSql = normReg.map { case (n, fn) => probeSql(fn) -> n }
    val doc = JObject(schema.fields.toList.map { case (f, spec) =>
      f -> renderSpec(f, spec, normSql)
    })
    if (pretty) JsonMethods.pretty(JsonMethods.render(doc))
    else JsonMethods.compact(JsonMethods.render(doc))
  }

  /** A normalizer's identity is the canonical rendering of its applied
    * form (`Column.toString` renders the node tree deterministically) —
    * lambda reference equality would make every `Some(trim(_))`
    * unserializable.
    */
  private def probeSql(fn: Column => Column): String =
    fn(F.col("__probe")).toString

  private def renderSpec(
      field: String,
      s: FieldSpec,
      normSql: Map[String, String]): JObject = {
    val subs: FieldSpec => JValue =
      sp => renderSpec(field, sp, normSql)
    val entries: Seq[(String, Option[JValue])] = Seq(
      "type" -> s.dtype.map(dt => JString(dt.catalogString)),
      "required" -> (if (s.required) Some(JBool(true)) else None),
      "nullable" -> (if (!s.nullable) Some(JBool(false)) else None),
      "empty" -> (if (s.notEmpty) Some(JBool(false)) else None),
      "regex" -> s.regex.map(JString(_)),
      "allowed" -> s.allowed.map(vs => JArray(vs.toList.map(JString(_)))),
      "forbidden" -> s.forbidden.map(vs => JArray(vs.toList.map(JString(_)))),
      "min" -> s.min.map(jnum),
      "max" -> s.max.map(jnum),
      "minlength" -> s.minLength.map(i => JInt(BigInt(i))),
      "maxlength" -> s.maxLength.map(i => JInt(BigInt(i))),
      "dependencies" -> (if (s.dependencies.isEmpty) None
        else Some(JObject(s.dependencies.toList.map { case (f, vs) =>
          f -> JArray(vs.toList.map(JString(_)))
        }))),
      "excludes" -> (if (s.excludes.isEmpty) None
        else Some(JArray(s.excludes.toList.map(JString(_))))),
      "contains" -> s.contains.map(vs =>
        JArray(vs.toList.map(jlit(field, "contains", _)))),
      "anyof" -> seqOpt(s.anyOf, subs),
      "allof" -> seqOpt(s.allOf, subs),
      "oneof" -> seqOpt(s.oneOf, subs),
      "noneof" -> seqOpt(s.noneOf, subs),
      "keysrules" -> s.keysRules.map(subs),
      "valuesrules" -> s.valuesRules.map(subs),
      "items" -> seqOpt(s.items, subs),
      "normalize" -> s.normalize.map { fn =>
        val sql = probeSql(fn)
        JString(normSql.getOrElse(sql, fail(field,
          s"normalizer with applied form `$sql` has no registry name — " +
            "pass it in `normalizers` to serialize this schema")))
      },
      "checks" -> (if (s.checks.isEmpty) None
        else Some(JArray(s.checks.toList.map(c => JString(c.rule))))),
      "severity" -> (if (s.severity != Severity.Error)
        Some(JString(s.severity)) else None),
      "rule_severity" -> (if (s.ruleSeverity.isEmpty) None
        else Some(JObject(
          s.ruleSeverity.toList.sortBy(_._1).map { case (r, v) =>
            r -> JString(v)
          }))),
      "default" -> s.default.map(jlit(field, "default", _)),
      "default_setter" -> s.defaultSetter.map { c =>
        // only expr("...")-built Columns carry recoverable SQL text;
        // DSL-built nodes render debug strings SQL parsers reject
        JString(org.apache.spark.sql.GraftExprBridge.sqlText(c)
          .getOrElse(fail(field, "default_setter serializes only when " +
            "built with expr(\"…\") — SQL text is the serializable form " +
            s"(got node `$c`)")))
      },
      "rename" -> s.rename.map(JString(_)))
    JObject(entries.collect { case (k, Some(v)) => k -> v }.toList)
  }

  // ------------------------------------------------------------------
  // Leaf helpers — every wrong shape names the field and key.
  // ------------------------------------------------------------------

  // str/num/kind/jnum/fail delegate to graft.util.JsonLeaf — shared
  // with ExpectJson so the codecs' canonical forms cannot drift apart.
  private def fail(field: String, msg: String): Nothing =
    graft.util.JsonLeaf.fail(s"SchemaJson: field '$field'", msg)

  private def kind(jv: JValue): String = graft.util.JsonLeaf.kind(jv)

  private def str(field: String, key: String, jv: JValue): String =
    graft.util.JsonLeaf.str(s"SchemaJson: field '$field'", key, jv)

  private def bool(field: String, key: String, jv: JValue): Boolean = jv match {
    case JBool(b) => b
    case other => fail(field, s"$key must be a boolean, got ${kind(other)}")
  }

  private def num(field: String, key: String, jv: JValue): Double =
    graft.util.JsonLeaf.num(s"SchemaJson: field '$field'", key, jv)

  private def int(field: String, key: String, jv: JValue): Int = jv match {
    case JInt(i) => i.toInt
    case JLong(l) => l.toInt
    case other => fail(field, s"$key must be an integer, got ${kind(other)}")
  }

  /** Strings, or a single string treated as a one-element list
    * (Cerberus accepts both shapes for list-valued rules).
    */
  private def strs(field: String, key: String, jv: JValue): Seq[String] =
    jv match {
      case JString(s) => Seq(s)
      case JArray(vs) => vs.map(str(field, key, _))
      case other =>
        fail(field, s"$key must be a string or array of strings, got ${kind(other)}")
    }

  /** Typed literal for `default` / `contains` — the closed set of JSON
    * scalars that round-trip losslessly into Spark literals.
    */
  private def lit(field: String, key: String, jv: JValue): Any = jv match {
    case JString(s) => s
    case JBool(b) => b
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case other =>
      fail(field, s"$key values must be scalars, got ${kind(other)}")
  }

  /** Literal values keep their JSON number shape — a Double renders as
    * `100.0`, never `100`, so it reads back as a Double, not a Long
    * (`default` can create a column, whose type must survive a
    * round-trip). Only the min/max bounds, always Doubles, use [[jnum]].
    */
  private def jlit(field: String, key: String, v: Any): JValue = v match {
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(BigInt(i))
    case l: Long => JInt(BigInt(l))
    case d: Double => JDouble(d)
    case other => fail(field,
      s"$key value ${other} (${other.getClass.getSimpleName}) is not a " +
        "JSON-serializable scalar (string, boolean, int, long, double)")
  }

  private def jnum(d: Double): JValue = graft.util.JsonLeaf.jnum(d)

  private def deps(field: String, jv: JValue): Map[String, Seq[String]] =
    jv match {
      // array form: presence-only dependencies
      case JArray(vs) => vs.map(str(field, "dependencies", _) -> Seq.empty[String]).toMap
      case JString(s) => Map(s -> Seq.empty)
      case JObject(fs) =>
        fs.map { case (f, v) => f -> strs(field, s"dependencies.$f", v) }.toMap
      case other => fail(field,
        s"dependencies must be an array of field names or an object " +
          s"{field: [allowed]}, got ${kind(other)}")
    }

  private def subList(
      field: String,
      key: String,
      m: Map[String, JValue],
      f: JValue => FieldSpec): Seq[FieldSpec] = m.get(key) match {
    case None => Nil
    case Some(JArray(vs)) => vs.map(f)
    case Some(other) =>
      fail(field, s"$key must be an array of spec objects, got ${kind(other)}")
  }

  private def seqOpt(
      specs: Seq[FieldSpec],
      f: FieldSpec => JValue): Option[JValue] =
    if (specs.isEmpty) None else Some(JArray(specs.toList.map(f)))
}
