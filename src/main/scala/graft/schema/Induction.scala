package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, NumericType, StringType}

/** Schema inference (rule induction): profile a corpus once and derive
  * the strictest Cerberus [[Schema]] consistent with it — the bootstrap
  * step of a validation pipeline (profile a known-good snapshot, then
  * validate every later snapshot against the induced rules; drift
  * surfaces as violations instead of silent decay).
  *
  * Semantics grounding: the reference derives its record constraints
  * from observed data shape too — the fixed serde schema IS the strict
  * contract every later document must match (reference
  * rust/src/lib.rs:81-83); induction generalizes that to rule level.
  *
  * Scale design: [[profile]] is ONE global aggregation over the corpus
  * (the shared `ColumnStats.longFormat` single-pass scaffold; the only
  * caveat is `exact = true`, whose multi-column count-distinct plans an
  * Expand — ×fields row amplification — so the 100 TB path is the
  * default HLL sketch, same exact/approx split as
  * `ColumnStats.quantiles`). [[suggestSchema]] collects O(fields)
  * profile rows plus ONE more aggregation gathering every qualifying
  * `allowed` set (each bounded by `maxAllowed` values) — all
  * driver-side data is bounded by configuration, never by corpus size.
  */
object Induction {

  /** Per-field corpus profile, one row per field:
    * `(field, n_rows, n_null, null_frac, n_distinct, numeric_frac,
    * min_num, max_num, min_len, max_len)`. `numeric_frac` is the share
    * of NON-NULL values parseable as double (`try_cast` — ANSI-safe);
    * length stats are over the string rendering, so they are defined
    * for every column type.
    */
  def profile(
      df: DataFrame,
      fields: Seq[String],
      exact: Boolean = false): DataFrame = {
    require(fields.nonEmpty, "profile needs at least one field")
    graft.stats.ColumnStats.longFormat(df, fields, groupCols = Nil,
      aggsFor = { f =>
        val c = col(f)
        val num = c.try_cast(DoubleType)
        Seq(
          count(lit(1)).as(s"__${f}__n"),
          sum(when(c.isNull, 1L).otherwise(0L)).as(s"__${f}__n_null"),
          (if (exact) countDistinct(c) else approx_count_distinct(c))
            .as(s"__${f}__n_distinct"),
          count(num).as(s"__${f}__n_numeric"),
          min(num).as(s"__${f}__min_num"),
          max(num).as(s"__${f}__max_num"),
          min(length(c.cast(StringType))).cast("long").as(s"__${f}__min_len"),
          max(length(c.cast(StringType))).cast("long").as(s"__${f}__max_len"))
      },
      rowFor = { f =>
        val n = col(s"__${f}__n")
        val nonNull = n - col(s"__${f}__n_null")
        struct(
          lit(f).as("field"),
          n.as("n_rows"),
          col(s"__${f}__n_null").as("n_null"),
          when(n > 0, col(s"__${f}__n_null").cast("double") / n)
            .as("null_frac"),
          col(s"__${f}__n_distinct").as("n_distinct"),
          when(nonNull > 0,
            col(s"__${f}__n_numeric").cast("double") / nonNull)
            .as("numeric_frac"),
          col(s"__${f}__min_num").as("min_num"),
          col(s"__${f}__max_num").as("max_num"),
          col(s"__${f}__min_len").as("min_len"),
          col(s"__${f}__max_len").as("max_len"))
      })
  }

  /** The strictest [[Schema]] the profiled corpus satisfies:
    *   - never-null field → `required` + `nullable = false`; observed
    *     nulls → optional and nullable (nulls are evidently legal);
    *   - numeric field (frame-typed numeric, or a string column whose
    *     every non-null value parses) → observed `[min, max]` bounds,
    *     plus a `type` rule for the parseable-string case;
    *   - string field → observed length bounds, and when its exact
    *     cardinality is ≤ `maxAllowed`, the observed `allowed` set.
    *
    * By construction `Validator.violations(df, suggestSchema(df, …))`
    * is empty — the induced rules fire only on rows OUTSIDE the
    * profiled distribution (pinned in InductionSpec).
    *
    * Cardinality uses `exact = true` (an `allowed` set must not depend
    * on sketch error); pass a sampled frame at 100 TB if the Expand
    * cost matters — rule induction is a bootstrap step, not a per-run
    * one. Exactly two jobs: the profile pass, then one aggregation
    * collecting ALL qualifying `allowed` sets together (`collect_set`,
    * each bounded by `maxAllowed` values — never a per-field scan).
    */
  def suggestSchema(
      df: DataFrame,
      fields: Seq[String],
      maxAllowed: Int = 20): Schema = {
    val prof = profile(df, fields, exact = true).collect()
      .map(r => r.getAs[String]("field") -> r).toMap

    def hasNonNull(f: String) =
      prof(f).getAs[Long]("n_rows") > prof(f).getAs[Long]("n_null")
    def parsesNumeric(f: String) = hasNonNull(f) &&
      Option(prof(f).getAs[java.lang.Double]("numeric_frac")).exists(_ == 1.0)
    // Only fields the string branch below will actually consult:
    // fully-numeric strings take the numeric branch, so collecting
    // their value sets would be a wasted corpus aggregation.
    def isLowCardString(f: String) =
      df.schema(f).dataType == StringType && hasNonNull(f) &&
        !parsesNumeric(f) &&
        prof(f).getAs[Long]("n_distinct") <= maxAllowed

    val lowCard = fields.filter(isLowCardString)
    val allowedSets: Map[String, Seq[String]] =
      if (lowCard.isEmpty) Map.empty
      else {
        // slice() re-bounds the driver transfer to maxAllowed + 1 per
        // field even if the table changed between the profile pass and
        // this one (the two jobs are separate scans; the profile's
        // cardinality guard alone must not be the only thing standing
        // between a concurrent append and a driver OOM). An overflowing
        // set is discarded below rather than truncated — a clipped
        // `allowed` rule would reject values the corpus contains.
        val aggs = lowCard.map(f =>
          slice(sort_array(collect_set(col(f))), 1, maxAllowed + 1).as(f))
        val r = df.agg(aggs.head, aggs.tail: _*).first()
        lowCard.flatMap { f =>
          val vals = r.getSeq[String](r.fieldIndex(f))
          if (vals.size > maxAllowed) None else Some(f -> vals.sorted)
        }.toMap
      }

    val specs = fields.map { f =>
      val p = prof(f)
      val nNull = p.getAs[Long]("n_null")
      val frameNumeric =
        df.schema(f).dataType.isInstanceOf[NumericType]
      val base = FieldSpec(
        required = nNull == 0L,
        nullable = nNull > 0L)
      val spec =
        if (frameNumeric || parsesNumeric(f))
          base.copy(
            dtype = if (frameNumeric) None else Some(DoubleType: DataType),
            min = Option(p.getAs[java.lang.Double]("min_num")).map(_.toDouble),
            max = Option(p.getAs[java.lang.Double]("max_num")).map(_.toDouble))
        else if (df.schema(f).dataType == StringType && hasNonNull(f))
          base.copy(
            allowed = allowedSets.get(f),
            minLength = Option(p.getAs[java.lang.Long]("min_len")).map(_.toInt),
            maxLength = Option(p.getAs[java.lang.Long]("max_len")).map(_.toInt))
        else base
      f -> spec
    }
    Schema.of(specs: _*)
  }

  /** WIDEN two schemas into the loosest schema consistent with both —
    * the monoid that makes induction INCREMENTAL: induce per partition
    * / per day / per stream batch, then fold, instead of re-profiling
    * the whole corpus ([[diff]] tells you WHAT changed between two
    * schemas; merge gives you the schema that accepts BOTH corpora).
    * The defining law, pinned in InductionSpec:
    * `violations(A ∪ B, merge(suggestSchema(A), suggestSchema(B)))`
    * is empty whenever each schema accepts its own slice.
    *
    * Per-aspect widening:
    *   - `required` = both required; `nullable` = either nullable;
    *     `empty` forbidden only if both forbid it;
    *   - `min`/`minlength` = the smaller, `max`/`maxlength` = the
    *     larger; a side without the bound unbounds the result;
    *   - `allowed` = set UNION when both sides have one AND the union
    *     stays ≤ `maxAllowed`, else absent (one unbounded side means
    *     the union is unbounded; and a union past the induction cap is
    *     dropped exactly as [[suggestSchema]] would have dropped it on
    *     the combined corpus — otherwise a streaming fold over a
    *     drifting categorical column grows the list, the JSON artifact,
    *     and the `isin` expression without bound);
    *   - `forbidden` = set INTERSECTION (a value only stays deniable
    *     if BOTH sides denied it — the other corpus may contain it);
    *   - `type`/`regex` = kept only when identical (no widening exists
    *     that both corpora are known to satisfy);
    *   - `severity` = the LOWER channel (loosest);
    *   - a field present on ONE side only keeps its `type` and
    *     `severity` and loses every other rule: optional + nullable,
    *     no value bounds (`min`/`max`, `regex`, `allowed`,
    *     `forbidden`, lengths, `empty`). The other side carries no
    *     evidence about the field — its corpus may lack the column, or
    *     may simply not have been profiled on it — so no bound is
    *     known to hold there.
    *
    * Declared machinery (dependencies, excludes, contains, combinators,
    * keysrules/valuesrules/items, normalize, checks, defaults, rename,
    * per-rule severities) has no corpus-evidence widening — specs
    * carrying any of it are rejected at construction (E1): merge is
    * for INDUCED value rules; merge declared schemas by hand.
    *
    * Pure driver function over O(fields) specs; associative and
    * commutative up to field order (left operand's order first), and
    * idempotent on canonical (sorted-`allowed`) schemas — fold in any
    * shape, including tree-reduce over thousands of partition schemas.
    */
  def merge(a: Schema, b: Schema, maxAllowed: Int = 20): Schema = {
    def requireInduced(side: String, f: String, s: FieldSpec): Unit = {
      require(s.dependencies.isEmpty && s.excludes.isEmpty &&
        s.contains.isEmpty && s.anyOf.isEmpty && s.allOf.isEmpty &&
        s.oneOf.isEmpty && s.noneOf.isEmpty && s.keysRules.isEmpty &&
        s.valuesRules.isEmpty && s.items.isEmpty && s.normalize.isEmpty &&
        s.checks.isEmpty && s.default.isEmpty && s.defaultSetter.isEmpty &&
        s.rename.isEmpty && s.ruleSeverity.isEmpty,
        s"merge widens induced VALUE rules only; $side field '$f' " +
          "carries declared machinery (dependencies/combinators/" +
          "normalization/checks/defaults) that has no corpus-evidence " +
          "widening — merge such schemas by hand")
      // An authored over-cap allowed list must not be SILENTLY dropped
      // by the union cap (E1 — reject loudly; induced schemas can never
      // carry one, suggestSchema's own cap guarantees it).
      s.allowed.foreach(vs => require(vs.size <= maxAllowed,
        s"$side field '$f' carries an allowed set of ${vs.size} values, " +
          s"over merge's maxAllowed = $maxAllowed — raise maxAllowed or " +
          "merge such schemas by hand"))
    }
    a.fields.foreach { case (f, s) => requireInduced("left", f, s) }
    b.fields.foreach { case (f, s) => requireInduced("right", f, s) }
    val bm = b.fields.toMap
    val am = a.fields.toMap
    def widenSolo(s: FieldSpec): FieldSpec =
      FieldSpec(dtype = s.dtype, severity = s.severity)
    def widen(x: FieldSpec, y: FieldSpec): FieldSpec = FieldSpec(
      dtype = if (x.dtype == y.dtype) x.dtype else None,
      required = x.required && y.required,
      nullable = x.nullable || y.nullable,
      notEmpty = x.notEmpty && y.notEmpty,
      regex = if (x.regex == y.regex) x.regex else None,
      allowed = (for (xs <- x.allowed; ys <- y.allowed)
        yield (xs ++ ys).distinct.sorted).filter(_.size <= maxAllowed),
      forbidden = (x.forbidden, y.forbidden) match {
        case (Some(xs), Some(ys)) =>
          val i = xs.toSet.intersect(ys.toSet).toSeq.sorted
          if (i.isEmpty) None else Some(i)
        case _ => None
      },
      min = for (m1 <- x.min; m2 <- y.min) yield math.min(m1, m2),
      max = for (m1 <- x.max; m2 <- y.max) yield math.max(m1, m2),
      minLength = for (l1 <- x.minLength; l2 <- y.minLength)
        yield math.min(l1, l2),
      maxLength = for (l1 <- x.maxLength; l2 <- y.maxLength)
        yield math.max(l1, l2),
      severity =
        if (Severity.rank(x.severity) <= Severity.rank(y.severity)) x.severity
        else y.severity)
    val merged = a.fields.map { case (f, x) =>
      f -> bm.get(f).map(widen(x, _)).getOrElse(widenSolo(x))
    } ++ b.fields.collect {
      case (f, y) if !am.contains(f) => f -> widenSolo(y)
    }
    Schema(merged)
  }

  /** Rule-level schema DRIFT: diff two [[Schema]]s (typically two
    * [[suggestSchema]] runs over consecutive snapshots, or induced vs
    * declared) into a typed report — the validation-engine complement
    * of value-level KS/PSI drift: `(field, aspect, before, after,
    * change)`, one row per aspect that DIFFERS (self-diff is empty).
    *
    * `change` classifies direction: `tightened` (the after-schema
    * rejects more — a NEW rule, a higher min, a SMALLER allowed set),
    * `loosened` (the reverse), `changed` (incomparable, e.g.
    * overlapping allowed sets or a type swap), `added`/`removed` for
    * whole fields. A tightened induced schema forecasts violations:
    * yesterday-conforming rows may fail tomorrow's induced rules.
    *
    * Semantics grounding: the reference's version gate detects and
    * refuses an incompatible snapshot SHAPE outright (reference
    * rust/src/lib.rs:118-121) — this is that check generalized from
    * one version integer to every rule aspect.
    *
    * Driver-side pure function over O(fields) specs — no job runs;
    * aspect vocabulary: field presence, required, nullable, type,
    * regex, min, max, minlength, maxlength, allowed, forbidden.
    * Integral numeric bounds render without the trailing `.0` (the
    * canonical cross-engine form); sets render sorted comma-joined.
    */
  def diff(spark: SparkSession, before: Schema, after: Schema): DataFrame = {
    def fmtNum(d: Double): String =
      if (!d.isInfinite && !d.isNaN && d == math.floor(d) && math.abs(d) < 1e15)
        d.toLong.toString
      else d.toString
    def fmtSet(s: Seq[String]): String = s.sorted.mkString(",")
    val bm = before.fields.toMap
    val am = after.fields.toMap
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, String)]
    (before.fieldNames ++ after.fieldNames).distinct.foreach { f =>
      (bm.get(f), am.get(f)) match {
        case (Some(_), None) => rows += ((f, "field", "present", null, "removed"))
        case (None, Some(_)) => rows += ((f, "field", null, "present", "added"))
        case (None, None) => // unreachable
        case (Some(b), Some(a)) =>
          // A rule APPEARING is tightened (new constraint), VANISHING is
          // loosened; both present and rendering differently classifies
          // via the aspect's own comparator.
          def opt[T](aspect: String, bv: Option[T], av: Option[T])(
              render: T => String)(cmp: (T, T) => String): Unit =
            (bv, av) match {
              case (None, Some(y)) => rows += ((f, aspect, null, render(y), "tightened"))
              case (Some(x), None) => rows += ((f, aspect, render(x), null, "loosened"))
              case (Some(x), Some(y)) if render(x) != render(y) =>
                rows += ((f, aspect, render(x), render(y), cmp(x, y)))
              case _ =>
            }
          if (b.required != a.required)
            rows += ((f, "required", b.required.toString, a.required.toString,
              if (a.required) "tightened" else "loosened"))
          if (b.nullable != a.nullable)
            rows += ((f, "nullable", b.nullable.toString, a.nullable.toString,
              if (a.nullable) "loosened" else "tightened"))
          opt("type", b.dtype, a.dtype)(_.simpleString)((_, _) => "changed")
          opt("regex", b.regex, a.regex)(identity)((_, _) => "changed")
          opt("min", b.min, a.min)(fmtNum)((x, y) =>
            if (y > x) "tightened" else "loosened")
          opt("max", b.max, a.max)(fmtNum)((x, y) =>
            if (y < x) "tightened" else "loosened")
          opt("minlength", b.minLength, a.minLength)(_.toString)((x, y) =>
            if (y > x) "tightened" else "loosened")
          opt("maxlength", b.maxLength, a.maxLength)(_.toString)((x, y) =>
            if (y < x) "tightened" else "loosened")
          opt("allowed", b.allowed, a.allowed)(fmtSet)((x, y) =>
            if (y.toSet.subsetOf(x.toSet)) "tightened"
            else if (x.toSet.subsetOf(y.toSet)) "loosened"
            else "changed")
          // forbidden is a DENY list: growing it tightens.
          opt("forbidden", b.forbidden, a.forbidden)(fmtSet)((x, y) =>
            if (x.toSet.subsetOf(y.toSet)) "tightened"
            else if (y.toSet.subsetOf(x.toSet)) "loosened"
            else "changed")
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("field", "aspect", "before", "after", "change")
  }
}
