package graft.compile

import graft.schema.{FieldSpec, Schema, Severity}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Compiles a declarative [[graft.schema.Schema]] into Catalyst `Column`
  * expressions — pure built-in functions, zero UDFs, so every rule stays
  * inside whole-stage codegen.
  *
  * Output surfaces:
  *   - [[violationStructs]]: one `when(fail, struct(field, rule, value))
  *     .otherwise(null)` per compiled rule — explode + filter-not-null
  *     downstream (codegen-friendly; avoids higher-order functions).
  *   - [[violationCount]]: integer sum of rule-failure flags — lets the
  *     verdict rollup run without materializing violation rows.
  */
object RuleCompiler {

  /** One compiled rule: the violation predicate (true = violation), the
    * normalized value to report (both as Catalyst columns), and the
    * severity channel the failure reports on.
    */
  final case class CompiledRule(
      field: String,
      rule: String,
      fails: Column,
      value: Column,
      severity: String = Severity.Error
  ) {
    def failing: Boolean = Severity.rank(severity) >= Severity.failingRank
  }

  /** Normalized view of a field (identity when no normalizer given). */
  private def normalized(name: String, spec: FieldSpec): Column =
    spec.normalize.fold(col(name))(f => f(col(name)))

  /** Compile every rule of every field. All rules are emitted — the
    * engine never short-circuits on the first failure (reference
    * semantics, see RuleDsl scaladoc).
    */
  def compile(schema: Schema): Seq[CompiledRule] =
    schema.fields.flatMap { case (name, spec) => compileField(name, spec) }

  private def compileField(name: String, spec: FieldSpec): Seq[CompiledRule] = {
    val v = normalized(name, spec)
    val vStr = v.cast(StringType)
    val isNull = v.isNull
    val nonNull = v.isNotNull
    def rule(r: String, fails: Column, value: Column = vStr) =
      CompiledRule(name, r, fails, value,
        spec.ruleSeverity.getOrElse(r, spec.severity))

    val nullRules = Seq(
      if (spec.required) Some(rule("required", isNull)) else None,
      if (!spec.nullable && !spec.required) Some(rule("nullable", isNull))
      else None
    ).flatten

    val valueRules = valueRuleFails(spec, v).map { case (r, fails) =>
      rule(r, fails)
    }

    val depRule =
      if (spec.dependencies.isEmpty) Nil
      else {
        val unsatisfied = spec.dependencies
          .map { case (depField, allowedVals) =>
            val d = col(depField)
            if (allowedVals.isEmpty) d.isNull
            else d.isNull || !d.isin(allowedVals: _*)
          }
          .reduce(_ || _)
        Seq(rule("dependencies", nonNull && unsatisfied))
      }

    // Cerberus `excludes` — mutual exclusion, the complement of
    // `dependencies`: a non-null value here demands every listed field
    // be null.
    val exclRule =
      if (spec.excludes.isEmpty) Nil
      else Seq(rule("excludes",
        nonNull && spec.excludes.map(col(_).isNotNull).reduce(_ || _)))

    // Combinators: each sub-spec is a value-only predicate; the
    // combinator emits ONE violation on the parent field's channel.
    def passCount(subs: Seq[FieldSpec]): Column =
      subs.map(s0 => when(passes(s0, v), 1).otherwise(0)).reduce(_ + _)
    val combinatorRules = Seq(
      if (spec.anyOf.isEmpty) None
      else Some(rule("anyof", nonNull && !spec.anyOf.map(passes(_, v)).reduce(_ || _))),
      if (spec.allOf.isEmpty) None
      else Some(rule("allof", nonNull && !spec.allOf.map(passes(_, v)).reduce(_ && _))),
      if (spec.noneOf.isEmpty) None
      else Some(rule("noneof", nonNull && spec.noneOf.map(passes(_, v)).reduce(_ || _))),
      if (spec.oneOf.isEmpty) None
      else Some(rule("oneof", nonNull && passCount(spec.oneOf) =!= 1))
    ).flatten

    // Map-column element rules. `forall` is a higher-order function
    // (CodegenFallback, outside whole-stage codegen) — acceptable here
    // because a map column is bounded per row; unbounded collections
    // belong in Validator.elementViolations (explode, fully codegen'd).
    val mapRules = Seq(
      spec.keysRules.map(kr =>
        rule("keysrules", nonNull && !forall(map_keys(v), k => passes(kr, k)))),
      spec.valuesRules.map(vr =>
        rule("valuesrules", nonNull && !forall(map_values(v), x => passes(vr, x))))
    ).flatten

    // Positional `items` (tuple-shaped lists, public Cerberus): a length
    // gate on the parent (value = the ACTUAL size — Cerberus's "length
    // of list should be N"), then per-position value-only sub-specs on
    // indexed paths, emitted only when the length matches (Cerberus
    // skips positional checks on mismatched length). A null element
    // passes — `passes` embeds per-rule non-null guards.
    val itemsRules =
      if (spec.items.isEmpty) Nil
      else {
        val sev = spec.ruleSeverity.getOrElse("items", spec.severity)
        val lenOk = size(v) === spec.items.length
        val lenRule = CompiledRule(name, "items", nonNull && !lenOk,
          size(v).cast(StringType), sev)
        val posRules = spec.items.zipWithIndex.map { case (sub, i) =>
          // try_element_at, not element_at: the lenOk guard short-
          // circuits logically, but codegen subexpression elimination
          // may hoist the element access past it — under ANSI mode a
          // plain element_at on a too-short array would then throw.
          val el = try_element_at(v, lit(i + 1))
          CompiledRule(s"$name[$i]", "items",
            nonNull && lenOk && !passes(sub, el),
            el.cast(StringType), sev)
        }
        lenRule +: posRules
      }

    val customRules = spec.checks.map { c =>
      CompiledRule(name, c.rule, nonNull && !coalesce(c.pass(v), lit(false)),
        vStr, spec.ruleSeverity.getOrElse(c.rule, c.severity))
    }

    nullRules ++ valueRules ++ depRule ++ exclRule ++ combinatorRules ++
      mapRules ++ itemsRules ++ customRules
  }

  /** The simple VALUE rules of a spec as (rule, fails) pairs over an
    * already-normalized value — shared by the field path and the
    * combinator / keysrules / valuesrules sub-spec paths. Every
    * predicate embeds its own non-null guard, so a null value fails
    * nothing here (null handling is `required`/`nullable`'s job).
    */
  private[graft] def valueRuleFails(spec: FieldSpec, v: Column): Seq[(String, Column)] = {
    val vStr = v.cast(StringType)
    val nonNull = v.isNotNull
    Seq(
      if (spec.notEmpty) Some("empty" -> (nonNull && trim(vStr) === ""))
      else None,
      spec.dtype.map { t =>
        // Cerberus `type`: value must be interpretable as the target type
        // (try_cast-and-compare; a failed cast yields null — ANSI-safe).
        "type" -> (nonNull && v.try_cast(t).isNull)
      },
      spec.regex.map { p =>
        // Whole-string anchoring, like the reference's `matches` (not
        // `find`) at app/.../TotpUtil.kt:28.
        "regex" -> (nonNull && !regexp_like(vStr, lit(anchor(p))))
      },
      spec.allowed.map(vals => "allowed" -> (nonNull && !v.isin(vals: _*))),
      spec.forbidden.map { vals =>
        // Cerberus `forbidden`: the complement of `allowed` — listed
        // values are rejected, everything else passes.
        "forbidden" -> (nonNull && v.isin(vals: _*))
      },
      spec.min.map(m => "min" -> (nonNull && v < lit(m))),
      spec.max.map(m => "max" -> (nonNull && v > lit(m))),
      spec.minLength.map(m => "minlength" -> (nonNull && length(vStr) < lit(m))),
      spec.maxLength.map(m => "maxlength" -> (nonNull && length(vStr) > lit(m))),
      spec.contains.map { vals =>
        // Cerberus `contains` (array columns): the array must contain
        // EVERY listed value; array_except(needles, v) is non-empty iff
        // some needle is missing.
        "contains" ->
          (nonNull && size(array_except(array(vals.map(lit): _*), v)) > 0)
      }
    ).flatten
  }

  /** True iff the (non-null) value passes every value rule of a
    * value-only sub-spec; a spec with no rules passes everything.
    */
  private def passes(spec: FieldSpec, v: Column): Column =
    valueRuleFails(spec, v)
      .map(_._2)
      .reduceOption(_ || _)
      .map(f => !f)
      .getOrElse(lit(true))

  /** Regexes anchor the whole string unless the author anchored them. */
  private def anchor(p: String): String = {
    val pre = if (p.startsWith("^")) "" else "^"
    val post = if (p.endsWith("$")) "" else "$"
    pre + p + post
  }

  /** One nullable struct per rule: `struct(field, rule, value)` when the
    * rule fails, null otherwise. Explode + `isNotNull` filter stays in
    * one codegen stage.
    */
  def violationStructs(schema: Schema): Seq[Column] =
    compile(schema).map { r =>
      when(
        r.fails,
        struct(
          lit(r.field).as("field"),
          lit(r.rule).as("rule"),
          r.value.as("value"),
          lit(r.severity).as("severity")
        )
      )
    }

  /** Array of all (nullable) violation structs for a row. */
  def violationsArray(schema: Schema): Column =
    structArray(violationStructs(schema))

  /** `array(structs)`, typed even when there are none: a bare `array()`
    * is `array<void>`, whose fields cannot be extracted, so a schema
    * with no rules gets an empty array of the violation struct type
    * `(field, rule, value, severity)` (every rule reports a string).
    */
  def structArray(structs: Seq[Column]): Column =
    if (structs.nonEmpty) array(structs: _*)
    else array().cast(ArrayType(StructType(
      Seq("field", "rule", "value", "severity").map(StructField(_, StringType)))))

  /** Number of failed rules for a row — plain integer arithmetic, fully
    * codegen'd, no array materialization.
    */
  def violationCount(schema: Schema): Column = countWhere(schema, _ => true)

  /** Failures on a failing channel (severity ≥ error) — the count that
    * decides pass/fail; warnings are reported but don't fail.
    */
  def errorCount(schema: Schema): Column = countWhere(schema, _.failing)

  /** Failures below the failing threshold (the warn channel). */
  def warningCount(schema: Schema): Column = countWhere(schema, r => !r.failing)

  private def countWhere(schema: Schema, p: CompiledRule => Boolean): Column =
    compile(schema)
      .filter(p)
      .map(r => when(r.fails, 1).otherwise(0))
      .reduceOption(_ + _)
      .getOrElse(lit(0))

  /** Worst severity rank of the row's failed rules (-1 = clean row) —
    * integer max, codegen'd; feeds the per-partition worst-severity
    * rollup (reference channel semantics, app/.../HomeViewModel.kt:
    * 179-185).
    */
  def worstSeverityRank(schema: Schema): Column =
    compile(schema)
      .map(r => when(r.fails, lit(Severity.rank(r.severity))).otherwise(lit(-1)))
      .reduceOption(greatest(_, _))
      .getOrElse(lit(-1))

  /** Map a severity rank column back to its name (null for -1). */
  def severityName(rank: Column): Column =
    Severity.rank.foldLeft(lit(null).cast(StringType)) { case (acc, (name, r)) =>
      when(rank === r, lit(name)).otherwise(acc)
    }
}
