package graft

import graft.data.SynthGen
import graft.drift.Drift
import graft.refint.RefIntegrity
import graft.schema.{FieldSpec, Schema, SchemaJson}
import graft.stats.ColumnStats
import graft.unique.Uniqueness
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry has a DuckDB-equivalent in `oracleSql` unless
  * the operator is not SQL-expressible (then the driver records a
  * rows-only check). Column names are aliased identically on both sides
  * (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship: full validation pipeline (rule DSL → Catalyst) over the
    * seeded synthetic code-file table — per-lang verdicts. rows > 0 by
    * construction (6 langs + the injected bad-lang partition).
    */
  def entry(spark: SparkSession): DataFrame = {
    val files = SynthGen.codeFiles(spark, SynthGen.Config(rows = 6000L))
    Verdict.compute(files, CodeFiles.schema, "lang")
  }

  // ---------------------------------------------------------------------
  // Shared fixtures over the driver testdata (TESTDATA.md).
  // ---------------------------------------------------------------------

  /** Driver `documents` table + one derived string column (`size_tag`)
    * that is numeric for normal docs and tagged ("~553") for oversized
    * ones — gives the Cerberus `type` rule a selectively-failing target
    * (all base columns are homogeneously typed). Mirrored exactly by
    * [[docsXSql]].
    */
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .withColumn("size_tag",
        when(col("n_chars") > 500, concat(lit("~"), col("n_chars")))
          .otherwise(col("n_chars").cast("string")))

  private val docsXSql: String =
    """(SELECT *,
      |  CASE WHEN n_chars > 500 THEN '~' || CAST(n_chars AS VARCHAR)
      |       ELSE CAST(n_chars AS VARCHAR) END AS size_tag
      | FROM documents) docs_x""".stripMargin

  /** Cerberus-style schema over the driver `documents` table; thresholds
    * chosen so every rule kind — including `type`, `dependencies`, and
    * the warning severity channel — fires on real rows at sf0.01.
    */
  private val docSchema = Schema.of(
    "doc_id" -> FieldSpec(required = true),
    "text" -> FieldSpec(
      required = true,
      notEmpty = true,
      minLength = Some(100),
      normalize = Some(trim(_)),
      // short-but-present text is a quality smell, not a hard failure:
      // report on the warning channel (reference's 3-channel outcome
      // mapping, app/.../HomeViewModel.kt:179-185)
      ruleSeverity = Map("minlength" -> graft.schema.Severity.Warning)),
    "lang" -> FieldSpec(required = true, allowed = Some(Seq("de", "en", "es", "fr"))),
    "source" -> FieldSpec(
      required = true,
      regex = Some("src[0-9]{1,2}"),
      // Cerberus `forbidden` — the deny-list complement of `allowed`
      // (a known-bad scrape source)
      forbidden = Some(Seq("src13")),
      // cross-field `dependencies` (reference cross-field check,
      // app/.../MainActivity.kt:534-535): source attribution is only
      // meaningful for the four supported European langs
      dependencies = Map("lang" -> Seq("de", "en", "es", "fr"))),
    "n_chars" -> FieldSpec(required = true, min = Some(100d), max = Some(500d)),
    "size_tag" -> FieldSpec(
      required = true,
      // Cerberus `type` rule (strict-schema rejection, rust/src/lib.rs:
      // 81-83): the tag must parse as an integer
      dtype = Some(org.apache.spark.sql.types.LongType))
  )

  /** Normalization-half schema for q_normalize_documents: one of each
    * normalization action over the documents table — rename, literal
    * default, computed default (absent column), declared coercion;
    * purge_unknown drops the undeclared size_tag.
    */
  private val normSchema = Schema.of(
    "doc_id" -> FieldSpec(required = true),
    "text" -> FieldSpec(normalize = Some(trim(_))),
    "lang" -> FieldSpec(),
    // region_hint is derived NULLABLE in the query input (null for
    // oversized docs), so the literal-default injection fires on real
    // rows and the oracle replays it
    "region_hint" -> FieldSpec(default = Some("unknown")),
    "source" -> FieldSpec(rename = Some("origin")),
    "n_chars" -> FieldSpec(),
    "quality_bucket" -> FieldSpec(defaultSetter =
      Some(when(col("n_chars") > 300, "long").otherwise("short"))))

  /** q_normalize input: documents + a derived NULLABLE column (null
    * for oversized docs) so the literal-default injection fires on
    * real rows — the raw table has no nulls at sf0.01.
    */
  private def docsForNormalize(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("region_hint",
      when(col("n_chars") <= 500, col("lang")))

  /** q_normalize_nested input: documents + a `meta` struct — null on
    * the doc_id%31 slice (pins the parent-null no-inject semantics on
    * real rows), `region` null for oversized docs (the dotted default
    * fires), `size` carried through untouched.
    */
  private def docsNested(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("meta",
      when(pmod(col("doc_id"), lit(31)) =!= 0,
        struct(
          when(col("n_chars") <= 500, col("lang")).as("region"),
          col("n_chars").as("size"))))

  /** Struct-path normalization schema: a dotted default + coercion on
    * an existing struct field, and a dotted default CREATING a new
    * struct field — both rebuilt in place via withField.
    */
  private val nestedNormSchema = Schema.of(
    "doc_id" -> FieldSpec(),
    "meta.region" -> FieldSpec(default = Some("unknown"),
      normalize = Some(upper(_))),
    "meta.origin_tag" -> FieldSpec(default = Some("none")))

  /** q_normalize_elements input: accounts array with a NULLABLE element
    * field (element 1's `n` is null for oversized docs) so the
    * per-element default fires on real rows.
    */
  private def docsAccountsNullable(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      array(
        struct(col("source").as("name"), col("n_chars").as("n")),
        struct(col("lang").as("name"),
          when(col("n_chars") <= 500, col("n_chars") - 200).as("n")))
        .as("accounts"))

  /** Per-element normalization: coercion (upper names) + literal
    * default (null n → 0) inside every array element.
    */
  private val elemNormSchema = Schema.of(
    "name" -> FieldSpec(normalize = Some(upper(_))),
    "n" -> FieldSpec(default = Some(0L)))

  /** Positional `items` schema for q_validate_items_documents: slot 0
    * source-shaped, slot 1 language allow-list, slot 2 integer-parseable
    * (size_tag's '~nnn' oversize tag fails it).
    */
  private val itemsSchema = Schema.of(
    "attrs" -> FieldSpec(items = Seq(
      FieldSpec(regex = Some("src[0-9]{1,2}")),
      FieldSpec(allowed = Some(Seq("de", "en", "es", "fr"))),
      FieldSpec(dtype = Some(org.apache.spark.sql.types.LongType)))))

  /** SQL body shared by the validate/verdict oracles: per-rule failure
    * predicates + severity, mirroring RuleCompiler semantics exactly.
    */
  private val docRuleSql: Seq[(String, String, String, String, String)] = Seq(
    // (field, rule, failPredicate, valueExpr, severity)
    ("doc_id", "required", "doc_id IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("text", "required", "text IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("text", "empty", "text IS NOT NULL AND trim(text) = ''", "trim(text)", "error"),
    ("text", "minlength", "text IS NOT NULL AND length(trim(text)) < 100", "trim(text)", "warning"),
    ("lang", "required", "lang IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("lang", "allowed", "lang IS NOT NULL AND lang NOT IN ('de','en','es','fr')", "lang", "error"),
    ("source", "required", "source IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("source", "regex", "source IS NOT NULL AND NOT regexp_full_match(source, 'src[0-9]{1,2}')", "source", "error"),
    ("source", "forbidden", "source IS NOT NULL AND source IN ('src13')", "source", "error"),
    ("source", "dependencies", "source IS NOT NULL AND (lang IS NULL OR lang NOT IN ('de','en','es','fr'))", "source", "error"),
    ("n_chars", "required", "n_chars IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("n_chars", "min", "n_chars IS NOT NULL AND n_chars < 100", "CAST(n_chars AS VARCHAR)", "error"),
    ("n_chars", "max", "n_chars IS NOT NULL AND n_chars > 500", "CAST(n_chars AS VARCHAR)", "error"),
    ("size_tag", "required", "size_tag IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("size_tag", "type", "size_tag IS NOT NULL AND TRY_CAST(size_tag AS BIGINT) IS NULL", "size_tag", "error")
  )

  /** q_validate_json schema — a JSON DOCUMENT, not Scala: exercises the
    * SchemaJson parse path end-to-end (registry normalizer by name,
    * array-form dependencies, rule_severity, fatal channel, oneof).
    * Thresholds differ from [[docSchema]] so the two queries cannot
    * mask each other. Mirrored rule-for-rule by its oracle.
    */
  private val jsonDocSchema: String =
    """{
      | "doc_id":  {"required": true},
      | "lang":    {"required": true, "normalize": "upper",
      |             "allowed": ["DE", "EN", "ES", "FR"],
      |             "rule_severity": {"allowed": "warning"}},
      | "source":  {"regex": "src[0-9]{1,2}", "forbidden": ["src13"],
      |             "dependencies": ["lang"]},
      | "text":    {"empty": false, "minlength": 120},
      | "n_chars": {"min": 150, "max": 450,
      |             "oneof": [{"max": 250}, {"min": 400}]},
      | "size_tag": {"type": "bigint", "severity": "fatal"}
      |}""".stripMargin

  /** Oracle for `q_validate_json_documents`: the JSON-authored rules
    * replayed predicate-for-predicate (normalize-before-validate shows
    * as upper(lang) in both the allowed predicate and the reported
    * value; `empty` trims per the engine's empty semantics).
    */
  private val jsonValidateSql: String = Seq(
    ("doc_id", "required", "doc_id IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("lang", "required", "lang IS NULL", "CAST(NULL AS VARCHAR)", "error"),
    ("lang", "allowed",
      "lang IS NOT NULL AND upper(lang) NOT IN ('DE','EN','ES','FR')",
      "upper(lang)", "warning"),
    ("source", "regex",
      "source IS NOT NULL AND NOT regexp_full_match(source, 'src[0-9]{1,2}')",
      "source", "error"),
    ("source", "forbidden", "source IS NOT NULL AND source IN ('src13')",
      "source", "error"),
    ("source", "dependencies", "source IS NOT NULL AND lang IS NULL",
      "source", "error"),
    ("text", "empty", "text IS NOT NULL AND trim(text) = ''", "text", "error"),
    ("text", "minlength", "text IS NOT NULL AND length(text) < 120",
      "text", "error"),
    ("n_chars", "min", "n_chars IS NOT NULL AND n_chars < 150",
      "CAST(n_chars AS VARCHAR)", "error"),
    ("n_chars", "max", "n_chars IS NOT NULL AND n_chars > 450",
      "CAST(n_chars AS VARCHAR)", "error"),
    ("n_chars", "oneof",
      """n_chars IS NOT NULL AND
        | (CASE WHEN n_chars <= 250 THEN 1 ELSE 0 END +
        |  CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) <> 1""".stripMargin,
      "CAST(n_chars AS VARCHAR)", "error"),
    ("size_tag", "type",
      "size_tag IS NOT NULL AND TRY_CAST(size_tag AS BIGINT) IS NULL",
      "size_tag", "fatal"))
    .map { case (f, r, pred, v, sev) =>
      s"SELECT doc_id, '$f' AS field, '$r' AS rule, $v AS value, '$sev' AS severity FROM $docsXSql WHERE $pred"
    }
    .mkString(" UNION ALL ")

  private val docViolationsSql: String = docRuleSql
    .map { case (f, r, pred, v, sev) =>
      s"SELECT doc_id, '$f' AS field, '$r' AS rule, $v AS value, '$sev' AS severity FROM $docsXSql WHERE $pred"
    }
    .mkString(" UNION ALL ")

  private def docViolationCountSql(severities: Set[String]): String = docRuleSql
    .collect { case (_, _, pred, _, sev) if severities(sev) =>
      s"(CASE WHEN $pred THEN 1 ELSE 0 END)"
    }
    .mkString(" + ")

  // ---------------------------------------------------------------------
  // Contract maps.
  // ---------------------------------------------------------------------

  /** Element sub-schema for the array<struct> validation entry
    * (Cerberus `schema`-on-list; reference grounding: element-wise
    * strict schema over Vec<Account>, rust/src/lib.rs:81-83).
    */
  private val accountElemSchema = Schema.of(
    "name" -> FieldSpec(required = true, regex = Some("src[0-9]{1,2}")),
    "n" -> FieldSpec(min = Some(100d), max = Some(500d)))

  /** documents + a derived `accounts: array<struct<name,n>>` column —
    * element 0 from (source, n_chars), element 1 from (lang,
    * n_chars − 200) so every element rule fires on real rows. Mirrored
    * exactly by the `q_validate_elements_documents` oracle.
    */
  private def docsWithAccounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      array(
        struct(col("source").as("name"), col("n_chars").as("n")),
        struct(col("lang").as("name"), (col("n_chars") - lit(200L)).as("n")))
        .as("accounts"))

  /** documents recast for the extended rule vocabulary (round 3):
    * `tags` array (contains), `legacy_src` present only on a doc_id
    * residue class (excludes vs `source`), `attrs` map
    * (keysrules/valuesrules; key null-coalesced — map keys must be
    * non-null), plus raw `source`/`n_chars` for the combinators.
    * Mirrored exactly by the `q_validate_rules_documents` oracle,
    * including Spark's array/map cast-to-string renderings.
    */
  private def docsRules(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      array(col("lang"), col("source")).as("tags"),
      when(pmod(col("doc_id"), lit(7)) === 0, col("source")).as("legacy_src"),
      col("source"),
      col("n_chars"),
      map(coalesce(col("lang"), lit("null")), col("source")).as("attrs"))

  /** Extended-vocabulary schema: contains, excludes, all four
    * combinators, and map keysrules/valuesrules — thresholds chosen so
    * every rule fires on real sf0.01 rows (incl. a warning-channel
    * combinator).
    */
  private val extSchema = Schema.of(
    "tags" -> FieldSpec(contains = Some(Seq("en", "src1"))),
    "legacy_src" -> FieldSpec(excludes = Seq("source")),
    "n_chars" -> FieldSpec(
      // anyof: the low band or the high band (warning channel)
      anyOf = Seq(FieldSpec(max = Some(120d)), FieldSpec(min = Some(480d))),
      // oneof: OVERLAPPING bands — the overlap [300,400] passes both
      oneOf = Seq(
        FieldSpec(min = Some(100d), max = Some(400d)),
        FieldSpec(min = Some(300d), max = Some(500d))),
      ruleSeverity = Map("anyof" -> graft.schema.Severity.Warning)),
    "source" -> FieldSpec(
      allOf = Seq(FieldSpec(regex = Some("src[0-9]+")), FieldSpec(minLength = Some(4))),
      noneOf = Seq(FieldSpec(allowed = Some(Seq("src13"))))),
    "attrs" -> FieldSpec(
      keysRules = Some(FieldSpec(allowed = Some(Seq("de", "en", "es", "fr")))),
      valuesRules = Some(FieldSpec(regex = Some("src[0-9]{1,2}")))))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_validate_documents" -> ((s, dir) =>
      Validator.violations(docs(s, dir), docSchema, Seq("doc_id"))),
    "q_validate_elements_documents" -> ((s, dir) =>
      // Per-element array<struct> validation: indexed violation paths
      // like accounts[1].name (explode → compiled rules → filter).
      Validator.elementViolations(docsWithAccounts(s, dir),
        accountElemSchema, "accounts", Seq("doc_id"))),
    "q_validate_rules_documents" -> ((s, dir) =>
      // Extended Cerberus vocabulary: contains/excludes/anyof/allof/
      // oneof/noneof/keysrules/valuesrules (round 3).
      Validator.violations(docsRules(s, dir), extSchema, Seq("doc_id"))),
    "q_validate_json_documents" -> ((s, dir) =>
      // Schemas as DATA (round 5): the schema below exists only as a
      // JSON document — parsed by SchemaJson (registry-resolved
      // normalizer, Cerberus array-form dependencies, per-rule
      // severities) and compiled to the same Catalyst rules as the
      // Scala DSL. Reference grounding: the validated domain crosses
      // the data boundary as JSON with parse failure a closed error
      // (accounts_to_json / json_to_accounts, rust/src/lib.rs:73-82).
      Validator.violations(docs(s, dir),
        SchemaJson.fromJson(jsonDocSchema), Seq("doc_id"))),
    "q_schema_check_documents" -> ((s, dir) =>
      // Structural pre-gate (Cerberus allow_unknown analog): the raw
      // documents frame vs a schema that tolerates `text`, declares a
      // nested optional and a required field the table lacks, and does
      // not declare lang/source/n_chars -> unknown.
      Validator.schemaViolations(
        s.read.parquet(s"$dir/documents.parquet"),
        Schema.of(
          "doc_id" -> FieldSpec(required = true),
          "meta.quality" -> FieldSpec(),
          "checksum" -> FieldSpec(required = true)),
        allowUnknown = Set("text"))),
    "q_verdict_documents" -> ((s, dir) =>
      Verdict.compute(docs(s, dir), docSchema, "lang")),
    "q_verdict_rollup_documents" -> ((s, dir) =>
      // Per-lang + grand-total verdicts in ONE pass (ROLLUP).
      Verdict.computeRollup(docs(s, dir), docSchema, "lang")),
    "q_stats_lineitem" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          countDistinct(col("l_partkey")).as("distinct_parts"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))),
    "q_stats_documents" -> ((s, dir) =>
      ColumnStats
        .compute(docs(s, dir), Seq("text", "source", "n_chars"),
          groupCols = Seq("lang"), exact = true)
        .withColumnRenamed("column", "col_name")
        .withColumn("null_rate", round(col("null_rate"), 6))
        .withColumn("avg_len", round(col("avg_len"), 4))),
    "q_hll_documents" -> ((s, dir) =>
      // HLL++ distinct — the 100 TB path; no SQL oracle (approximate),
      // accuracy pinned vs exact in StatsSpec instead.
      ColumnStats.compute(docs(s, dir), Seq("text", "source"),
        groupCols = Seq("lang"), exact = false)
        .withColumnRenamed("column", "col_name")
        .select("lang", "col_name", "n_rows", "n_distinct")),
    "q_quantiles_lineitem" -> ((s, dir) =>
      // Exact interpolating percentile — oracle-parity path (DuckDB
      // quantile_cont is the same type-7 interpolation); the 100 TB
      // path is exact=false (approx_percentile sketch), accuracy pinned
      // vs exact in StatsSpec.
      ColumnStats.quantiles(
          s.read.parquet(s"$dir/lineitem.parquet"),
          "l_quantity", Seq("l_returnflag"),
          qs = Seq(0.25, 0.5, 0.75, 0.95), exact = true)
        .select(col("l_returnflag"), col("q"),
          round(col("value"), 6).as("value"))),
    "q_outliers_lineitem" -> ((s, dir) =>
      // Per-group Tukey-fence outlier summary; exact quartiles for
      // oracle parity, approx sketch as the 100 TB path (StatsSpec).
      ColumnStats.outlierSummary(
          s.read.parquet(s"$dir/lineitem.parquet")
            .select(col("l_returnflag"),
              col("l_extendedprice").cast("double").as("price")),
          "price", Seq("l_returnflag"), k = 1.5, exact = true)
        .select(col("l_returnflag"), col("n_values"), col("n_outliers"),
          round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))),
    "q_unique_lineitem" -> ((s, dir) =>
      Uniqueness.summary(
        s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_orderkey", "l_linenumber"))),
    "q_dups_events" -> ((s, dir) =>
      Uniqueness.duplicates(
        s.read.parquet(s"$dir/events.parquet"),
        Seq("user_id", "event_type"))),
    "q_salted_counts_lineitem" -> ((s, dir) =>
      // Two-phase salted aggregation (skew path) — must equal a plain
      // groupBy exactly; the oracle IS the plain groupBy.
      Uniqueness.groupCountsSalted(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_suppkey", nSalts = 32)),
    "q_lenhist_documents" -> ((s, dir) =>
      ColumnStats.lengthHistogram(docs(s, dir), "text", Seq("lang"), binWidth = 50)),
    "q_ri_orders_customer" -> ((s, dir) =>
      RefIntegrity.summary(
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("o_custkey")),
        Seq("o_custkey"))),
    "q_ri_bloom_orders_customer" -> ((s, dir) => {
      // Bloom-accelerated exact RI: probe-miss rows are orphans with
      // zero shuffle; only probe-hit rows reach the anti-join. Must be
      // row-identical to the plain-join summary — the oracle is the
      // same NOT EXISTS count.
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("o_custkey"))
      val bloom = RefIntegrity.buildKeyBloom(
        dim, Seq("o_custkey"), expectedItems = 200000L, fpp = 0.01)
      RefIntegrity.summaryWithBloom(
        s.read.parquet(s"$dir/orders.parquet"), dim, Seq("o_custkey"), bloom)
    }),
    "q_drift_documents" -> ((s, dir) =>
      Drift.againstGlobal(docs(s, dir), "n_chars", Seq("lang"),
        nBins = 20, lo = 0d, hi = 600d)),
    "q_drift_categorical_documents" -> ((s, dir) => {
      // Categorical drift (PSI + total variation) of the source
      // distribution per lang, between even- and odd-id halves.
      val d = docs(s, dir)
      Drift.categoricalCompare(
        d.where(pmod(col("doc_id"), lit(2)) === 0),
        d.where(pmod(col("doc_id"), lit(2)) === 1),
        "source", Seq("lang"))
    }),
    "q_drift_events" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      Drift.compare(
        ev.where(pmod(col("event_id"), lit(2)) === 0),
        ev.where(pmod(col("event_id"), lit(2)) === 1),
        "value", Seq("event_type"), nBins = 25, lo = 0d, hi = 500d)
    }),
    "q_drift_auto_events" -> ((s, dir) => {
      // AUTO-binned drift: edges derived from the BASELINE's quantiles
      // (equal-mass bins — no caller lo/hi guesses); exact percentile
      // here so the oracle recomputes identical edges via quantile_cont
      // (the 100 TB path is exact=false, the approx_percentile sketch).
      val ev = s.read.parquet(s"$dir/events.parquet")
      Drift.compareAuto(
        ev.where(pmod(col("event_id"), lit(2)) === 0),
        ev.where(pmod(col("event_id"), lit(2)) === 1),
        "value", Seq("event_type"), nBins = 4, exact = true)
    }),

    "q_expectations_documents" -> ((s, dir) =>
      // Table-level expectation suite (dbt-test / Great-Expectations
      // layer): aggregate invariants per lang slice, ALL evaluated in
      // one grouped aggregation; verdict rows are data (E4). The
      // bounds are chosen so both pass and fail rows occur.
      graft.verdict.Expectations.evaluate(docs(s, dir), Seq(
        graft.verdict.Expectations.Expect("row_count", lo = 50),
        graft.verdict.Expectations.Expect("null_frac", "text", hi = 0.1),
        graft.verdict.Expectations.Expect("distinct", "source", lo = 10, hi = 30),
        graft.verdict.Expectations.Expect("mean", "n_chars", lo = 100, hi = 1000),
        graft.verdict.Expectations.Expect("max", "n_chars", hi = 550),
        // key uniqueness as ONE declared check (doc_id passes at 1.0;
        // source is many-rows-per-value, so its row fails — both
        // outcomes exercised)
        graft.verdict.Expectations.Expect("unique_frac", "doc_id", lo = 1.0),
        graft.verdict.Expectations.Expect("unique_frac", "source", lo = 0.9),
        // exact interpolated median (GE-style quantile bound) — DuckDB
        // quantile_cont replays Spark's percentile exactly
        graft.verdict.Expectations.Expect("quantile", "n_chars",
          lo = 100, hi = 400, q = 0.5)),
        groupCols = Seq("lang"))),

    "q_expectations_rel_documents" -> ((s, dir) => {
      // Baseline-RELATIVE expectation gates (round 5): each *_rel check
      // gates current/previous of its base metric, previous = a stored
      // evaluate() snapshot. Baseline = even-doc_id half WITHOUT fr,
      // current = odd half WITHOUT de — so fr rows exercise the
      // no-baseline-must-FAIL rule, de rows the vanished-group rule,
      // and the remaining langs ratio ≈ 1 inside their declared bands.
      // (The persisted-store path over the same engine is pinned in
      // ExpectationsSpec — the contract entry stays filesystem-free.)
      import graft.verdict.Expectations.{Expect, evaluate, evaluateRelative}
      val d = docs(s, dir)
        .withColumn("grp", coalesce(col("lang"), lit("__null__")))
        .withColumn("region_hint", when(col("n_chars") <= 500, col("lang")))
      val baseChecks = Seq(Expect("row_count"),
        Expect("null_frac", "region_hint"),
        Expect("distinct", "source"), Expect("mean", "n_chars"))
      val baseline = evaluate(
        d.where(col("doc_id") % 2 === 0 && col("grp") =!= "fr"),
        baseChecks, Seq("grp"))
      evaluateRelative(
        d.where(col("doc_id") % 2 === 1 && col("grp") =!= "de"),
        Seq(Expect("row_count_rel", lo = 0.5, hi = 2.0),
          Expect("null_frac_rel", "region_hint", lo = 0.25, hi = 4.0),
          Expect("distinct_rel", "source", lo = 0.5, hi = 2.0),
          Expect("mean_rel", "n_chars", lo = 0.9, hi = 1.1)),
        baseline, Seq("grp"))
    }),

    "q_rule_breakdown_documents" -> ((s, dir) =>
      // Per-(field, rule, severity) triage rollup: which rules fired,
      // how often, over how many distinct values, with the value range
      // as examples — O(rules) output rows at any corpus size.
      graft.verdict.Verdict.ruleBreakdown(docs(s, dir), docSchema)),

    "q_normalize_documents" -> ((s, dir) =>
      // Cerberus's NORMALIZATION half end-to-end: rename (source →
      // origin), purge_unknown (drops the derived size_tag column),
      // default (null region_hint → 'unknown'), default_setter (absent
      // quality_bucket column computed from n_chars), declared
      // normalize coercion (trim text) — the oracle replays the whole
      // document transform per row.
      Validator.normalizeDocument(docsForNormalize(s, dir), normSchema,
        purgeUnknown = true)),
    "q_normalize_actions_documents" -> ((s, dir) =>
      // Applied normalization actions as data (E4): one row per
      // injected default — null-region_hint rows get the literal
      // default, EVERY row gets the computed quality_bucket (the
      // column is absent from the frame).
      Validator.normalizationActions(docsForNormalize(s, dir), normSchema,
        Seq("doc_id"))),

    "q_normalize_nested_documents" -> ((s, dir) =>
      // Struct-path normalization (round 5): defaults + coercions on
      // dotted paths — meta.region defaulted then uppercased,
      // meta.origin_tag CREATED inside the struct; rows whose meta
      // struct is null stay null (no injection through a null parent).
      // Output flattened to scalars for the driver harness.
      Validator.normalizeDocument(docsNested(s, dir), nestedNormSchema)
        .select(col("doc_id"), col("meta.region").as("region"),
          col("meta.size").as("size"),
          col("meta.origin_tag").as("origin_tag"))),
    "q_normalize_elements_documents" -> ((s, dir) =>
      // Per-element normalization (round 5): upper-coercion on every
      // element name + literal default for null element n, applied
      // inside ONE transform projection; exploded to scalar rows.
      Validator.normalizeElements(
          docsAccountsNullable(s, dir), elemNormSchema, "accounts")
        .select(col("doc_id"), posexplode(col("accounts")))
        .select(col("doc_id"), col("pos").as("idx"),
          col("col.name").as("name"), col("col.n").as("n"))),

    "q_validate_items_documents" -> ((s, dir) => {
      // Positional `items` rules (tuple-shaped lists): a 3-slot attrs
      // tuple [source, lang, size_tag] — docs on the doc_id%29 slice
      // get a truncated 2-slot tuple (length violation on the parent,
      // value = actual size); full tuples check slot 0 against the
      // source regex, slot 1 against the lang allow-list, slot 2
      // against integer-parseability.
      val d = docs(s, dir).withColumn("attrs",
        when(col("doc_id") % 29 === 0, array(col("source"), col("lang")))
          .otherwise(array(col("source"), col("lang"), col("size_tag"))))
      Validator.violations(d, itemsSchema, Seq("doc_id"))
    })
  )

  /** Element-rule replay for the accounts array: element 0 = (source,
    * n_chars), element 1 = (lang, n_chars − 200); same rule predicates
    * as RuleCompiler emits, with indexed field paths.
    */
  private val elemViolationsSql: String = {
    // (elemIdx, nameExpr, nExpr)
    val elems = Seq((0, "source", "n_chars"), (1, "lang", "n_chars - 200"))
    elems.flatMap { case (i, nm, nv) => Seq(
      s"SELECT doc_id, 'accounts[$i].name' AS field, 'required' AS rule, CAST(NULL AS VARCHAR) AS value, 'error' AS severity FROM documents WHERE $nm IS NULL",
      s"SELECT doc_id, 'accounts[$i].name' AS field, 'regex' AS rule, $nm AS value, 'error' AS severity FROM documents WHERE $nm IS NOT NULL AND NOT regexp_full_match($nm, 'src[0-9]{1,2}')",
      s"SELECT doc_id, 'accounts[$i].n' AS field, 'min' AS rule, CAST($nv AS VARCHAR) AS value, 'error' AS severity FROM documents WHERE ($nv) IS NOT NULL AND ($nv) < 100",
      s"SELECT doc_id, 'accounts[$i].n' AS field, 'max' AS rule, CAST($nv AS VARCHAR) AS value, 'error' AS severity FROM documents WHERE ($nv) IS NOT NULL AND ($nv) > 500"
    )}.mkString(" UNION ALL ")
  }

  def oracleSql: Map[String, String] = Map(
    "q_validate_documents" -> docViolationsSql,
    "q_validate_json_documents" -> jsonValidateSql,
    // Extended vocabulary: each rule's predicate + Spark's exact
    // container cast-to-string rendering, replayed literally.
    "q_validate_rules_documents" ->
      """SELECT doc_id, 'tags' AS field, 'contains' AS rule,
        | '[' || coalesce(lang, 'null') || ', ' || coalesce(source, 'null') || ']' AS value,
        | 'error' AS severity
        |FROM documents
        |WHERE NOT (coalesce(lang = 'en', FALSE) OR coalesce(source = 'en', FALSE))
        |   OR NOT (coalesce(lang = 'src1', FALSE) OR coalesce(source = 'src1', FALSE))
        |UNION ALL
        |SELECT doc_id, 'legacy_src', 'excludes', source, 'error'
        |FROM documents WHERE doc_id % 7 = 0 AND source IS NOT NULL
        |UNION ALL
        |SELECT doc_id, 'n_chars', 'anyof', CAST(n_chars AS VARCHAR), 'warning'
        |FROM documents
        |WHERE n_chars IS NOT NULL AND NOT (n_chars <= 120 OR n_chars >= 480)
        |UNION ALL
        |SELECT doc_id, 'n_chars', 'oneof', CAST(n_chars AS VARCHAR), 'error'
        |FROM documents
        |WHERE n_chars IS NOT NULL AND
        | (CASE WHEN n_chars >= 100 AND n_chars <= 400 THEN 1 ELSE 0 END +
        |  CASE WHEN n_chars >= 300 AND n_chars <= 500 THEN 1 ELSE 0 END) <> 1
        |UNION ALL
        |SELECT doc_id, 'source', 'allof', source, 'error'
        |FROM documents
        |WHERE source IS NOT NULL AND
        | NOT (regexp_full_match(source, 'src[0-9]+') AND length(source) >= 4)
        |UNION ALL
        |SELECT doc_id, 'source', 'noneof', source, 'error'
        |FROM documents WHERE source IS NOT NULL AND source = 'src13'
        |UNION ALL
        |SELECT doc_id, 'attrs', 'keysrules',
        | '{' || coalesce(lang, 'null') || ' -> ' || coalesce(source, 'null') || '}',
        | 'error'
        |FROM documents
        |WHERE coalesce(lang, 'null') NOT IN ('de', 'en', 'es', 'fr')
        |UNION ALL
        |SELECT doc_id, 'attrs', 'valuesrules',
        | '{' || coalesce(lang, 'null') || ' -> ' || coalesce(source, 'null') || '}',
        | 'error'
        |FROM documents
        |WHERE source IS NOT NULL AND NOT regexp_full_match(source, 'src[0-9]{1,2}')""".stripMargin,
    // Structural pre-gate: the oracle states the expected structural
    // truth as constants (the engine derives it from runtime metadata).
    "q_schema_check_documents" ->
      """SELECT 'lang' AS field, 'unknown' AS rule, 'string' AS value, 'error' AS severity
        |UNION ALL SELECT 'source', 'unknown', 'string', 'error'
        |UNION ALL SELECT 'n_chars', 'unknown', 'bigint', 'error'
        |UNION ALL SELECT 'meta.quality', 'missing', CAST(NULL AS VARCHAR), 'warning'
        |UNION ALL SELECT 'checksum', 'missing', CAST(NULL AS VARCHAR), 'error'""".stripMargin,
    "q_validate_elements_documents" -> elemViolationsSql,
    "q_verdict_documents" ->
      s"""SELECT lang, count(*) AS n_rows,
         | CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_rows,
         | CAST(SUM(v) AS BIGINT) AS n_violations,
         | CAST(SUM(w) AS BIGINT) AS n_warnings,
         | CAST(SUM(e) AS BIGINT) AS n_errors,
         | CASE WHEN SUM(e) > 0 THEN 'error'
         |      WHEN SUM(w) > 0 THEN 'warning'
         |      ELSE NULL END AS worst_severity,
         | SUM(e) = 0 AS pass
         |FROM (SELECT lang,
         |       ${docViolationCountSql(Set("warning", "error", "fatal"))} AS v,
         |       ${docViolationCountSql(Set("warning"))} AS w,
         |       ${docViolationCountSql(Set("error", "fatal"))} AS e
         |      FROM $docsXSql)
         |GROUP BY lang""".stripMargin,
    "q_verdict_rollup_documents" ->
      s"""SELECT lang, CAST(GROUPING(lang) AS INT) AS is_total,
         | count(*) AS n_rows,
         | CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_rows,
         | CAST(SUM(v) AS BIGINT) AS n_violations,
         | CAST(SUM(w) AS BIGINT) AS n_warnings,
         | CAST(SUM(e) AS BIGINT) AS n_errors,
         | CASE WHEN SUM(e) > 0 THEN 'error'
         |      WHEN SUM(w) > 0 THEN 'warning'
         |      ELSE NULL END AS worst_severity,
         | SUM(e) = 0 AS pass
         |FROM (SELECT lang,
         |       ${docViolationCountSql(Set("warning", "error", "fatal"))} AS v,
         |       ${docViolationCountSql(Set("warning"))} AS w,
         |       ${docViolationCountSql(Set("error", "fatal"))} AS e
         |      FROM $docsXSql)
         |GROUP BY ROLLUP(lang)""".stripMargin,
    "q_stats_lineitem" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | count(DISTINCT l_partkey) AS distinct_parts,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_stats_documents" -> Seq("text", "source", "n_chars").map { c =>
      s"""SELECT lang, '$c' AS col_name, count(*) AS n_rows,
         | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         | round(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_rate,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(min($c) AS VARCHAR) AS min, CAST(max($c) AS VARCHAR) AS max,
         | round(avg(length(CAST($c AS VARCHAR))), 4) AS avg_len
         |FROM documents GROUP BY lang""".stripMargin
    }.mkString(" UNION ALL "),
    "q_quantiles_lineitem" ->
      """WITH g AS (
        | SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS q25,
        |  round(quantile_cont(l_quantity, 0.50), 6) AS q50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS q75,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS q95
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(0.25 AS DOUBLE) AS q, q25 AS value FROM g
        |UNION ALL SELECT l_returnflag, 0.50, q50 FROM g
        |UNION ALL SELECT l_returnflag, 0.75, q75 FROM g
        |UNION ALL SELECT l_returnflag, 0.95, q95 FROM g""".stripMargin,
    "q_outliers_lineitem" ->
      """WITH v AS (
        | SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS price
        | FROM lineitem),
        |b AS (
        | SELECT l_returnflag,
        |  quantile_cont(price, 0.25) AS q1, quantile_cont(price, 0.75) AS q3
        | FROM v GROUP BY 1),
        |f AS (
        | SELECT l_returnflag, q1, q3,
        |  q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        | FROM b)
        |SELECT v.l_returnflag, count(price) AS n_values,
        | CAST(coalesce(sum(CASE WHEN price < lo OR price > hi
        |                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers,
        | round(q1, 6) AS q1, round(q3, 6) AS q3,
        | round(lo, 6) AS lo, round(hi, 6) AS hi
        |FROM v JOIN f ON v.l_returnflag IS NOT DISTINCT FROM f.l_returnflag
        |GROUP BY v.l_returnflag, q1, q3, lo, hi""".stripMargin,
    "q_unique_lineitem" ->
      """SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
        | CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
        | CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_rows
        |FROM (SELECT count(*) AS n FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber)""".stripMargin,
    "q_dups_events" ->
      """SELECT * FROM (
        | SELECT *, count(*) OVER (PARTITION BY user_id, event_type) AS dup_count
        | FROM events) WHERE dup_count > 1""".stripMargin,
    "q_salted_counts_lineitem" ->
      "SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1",
    "q_lenhist_documents" ->
      """SELECT lang, CAST(floor(length(text) / 50) AS BIGINT) AS bin,
        | count(*) AS n
        |FROM documents WHERE text IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q_ri_orders_customer" ->
      """SELECT (SELECT count(*) FROM orders) AS n_rows,
        | (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_null_keys,
        | (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM customer c
        |                   WHERE c.c_custkey = o.o_custkey)) AS n_orphans""".stripMargin,
    // Identical to q_ri_orders_customer by construction: the bloom path
    // must not change the answer, only the shuffle volume.
    "q_ri_bloom_orders_customer" ->
      """SELECT (SELECT count(*) FROM orders) AS n_rows,
        | (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_null_keys,
        | (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM customer c
        |                   WHERE c.c_custkey = o.o_custkey)) AS n_orphans""".stripMargin,
    "q_drift_documents" ->
      """WITH cur AS (
        |  SELECT lang,
        |   CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 30.0), 0), 19) AS BIGINT) AS bin,
        |   count(*) AS n_cur
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |base AS (
        |  SELECT
        |   CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 30.0), 0), 19) AS BIGINT) AS bin,
        |   count(*) AS n_base
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |grid AS (
        |  SELECT l.lang, b.bin, b.n_base
        |  FROM (SELECT DISTINCT lang FROM cur) l CROSS JOIN base b),
        |j AS (
        |  SELECT g.lang, g.bin, CAST(coalesce(c.n_cur, 0) AS BIGINT) AS n_cur, g.n_base
        |  FROM grid g LEFT JOIN cur c ON c.lang = g.lang AND c.bin = g.bin),
        |f AS (
        |  SELECT lang, bin, n_cur, n_base,
        |   n_cur / CAST(sum(n_cur) OVER (PARTITION BY lang) AS DOUBLE) AS p,
        |   n_base / CAST(sum(n_base) OVER (PARTITION BY lang) AS DOUBLE) AS q
        |  FROM j),
        |t AS (
        |  SELECT lang, bin, n_cur, n_base, p, q,
        |   (greatest(p, 1e-6) - greatest(q, 1e-6)) * ln(greatest(p, 1e-6) / greatest(q, 1e-6)) AS psi_term,
        |   sum(p) OVER (PARTITION BY lang ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cdf_p,
        |   sum(q) OVER (PARTITION BY lang ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cdf_q
        |  FROM f)
        |SELECT lang, CAST(sum(n_cur) AS BIGINT) AS n_cur,
        | CAST(sum(n_base) AS BIGINT) AS n_base,
        | round(sum(psi_term), 6) AS psi,
        | round(max(abs(cdf_p - cdf_q)), 6) AS ks
        |FROM t GROUP BY lang""".stripMargin,
    "q_drift_categorical_documents" ->
      """WITH cur AS (
        |  SELECT lang, source AS category, count(*) AS n_cur FROM documents
        |  WHERE source IS NOT NULL AND doc_id % 2 = 0 GROUP BY 1, 2),
        |base AS (
        |  SELECT lang, source AS category, count(*) AS n_base FROM documents
        |  WHERE source IS NOT NULL AND doc_id % 2 = 1 GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(cur.lang, base.lang) AS lang,
        |   coalesce(cur.category, base.category) AS category,
        |   CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur,
        |   CAST(coalesce(n_base, 0) AS BIGINT) AS n_base
        |  FROM cur FULL OUTER JOIN base
        |   ON cur.lang = base.lang AND cur.category = base.category),
        |f AS (
        |  SELECT lang, category, n_cur, n_base,
        |   n_cur / CAST(sum(n_cur) OVER (PARTITION BY lang) AS DOUBLE) AS p,
        |   n_base / CAST(sum(n_base) OVER (PARTITION BY lang) AS DOUBLE) AS q
        |  FROM j)
        |SELECT lang, CAST(sum(n_cur) AS BIGINT) AS n_cur,
        | CAST(sum(n_base) AS BIGINT) AS n_base,
        | round(sum((greatest(p, 1e-6) - greatest(q, 1e-6)) * ln(greatest(p, 1e-6) / greatest(q, 1e-6))), 6) AS psi,
        | round(sum(abs(p - q)) / 2, 6) AS tv
        |FROM f GROUP BY lang""".stripMargin,
    "q_drift_events" ->
      """WITH cur AS (
        |  SELECT event_type,
        |   CAST(least(greatest(floor(CAST(value AS DOUBLE) / 20.0), 0), 24) AS BIGINT) AS bin,
        |   count(*) AS n_cur
        |  FROM events WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1, 2),
        |base AS (
        |  SELECT event_type,
        |   CAST(least(greatest(floor(CAST(value AS DOUBLE) / 20.0), 0), 24) AS BIGINT) AS bin,
        |   count(*) AS n_base
        |  FROM events WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(cur.event_type, base.event_type) AS event_type,
        |   coalesce(cur.bin, base.bin) AS bin,
        |   CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur,
        |   CAST(coalesce(n_base, 0) AS BIGINT) AS n_base
        |  FROM cur FULL OUTER JOIN base
        |   ON cur.event_type = base.event_type AND cur.bin = base.bin),
        |f AS (
        |  SELECT event_type, bin, n_cur, n_base,
        |   n_cur / CAST(sum(n_cur) OVER (PARTITION BY event_type) AS DOUBLE) AS p,
        |   n_base / CAST(sum(n_base) OVER (PARTITION BY event_type) AS DOUBLE) AS q
        |  FROM j),
        |t AS (
        |  SELECT event_type, bin, n_cur, n_base, p, q,
        |   (greatest(p, 1e-6) - greatest(q, 1e-6)) * ln(greatest(p, 1e-6) / greatest(q, 1e-6)) AS psi_term,
        |   sum(p) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cdf_p,
        |   sum(q) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cdf_q
        |  FROM f)
        |SELECT event_type, CAST(sum(n_cur) AS BIGINT) AS n_cur,
        | CAST(sum(n_base) AS BIGINT) AS n_base,
        | round(sum(psi_term), 6) AS psi,
        | round(max(abs(cdf_p - cdf_q)), 6) AS ks
        |FROM t GROUP BY event_type""".stripMargin,

    "q_drift_auto_events" ->
      """WITH ed AS (
        |  SELECT quantile_cont(CAST(value AS DOUBLE), 0.25) AS e1,
        |         quantile_cont(CAST(value AS DOUBLE), 0.50) AS e2,
        |         quantile_cont(CAST(value AS DOUBLE), 0.75) AS e3
        |  FROM events WHERE value IS NOT NULL AND event_id % 2 = 1),
        |cur AS (
        |  SELECT event_type,
        |   CAST((CASE WHEN CAST(value AS DOUBLE) >= (SELECT e1 FROM ed) THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(value AS DOUBLE) >= (SELECT e2 FROM ed) THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(value AS DOUBLE) >= (SELECT e3 FROM ed) THEN 1 ELSE 0 END) AS BIGINT) AS bin,
        |   count(*) AS n_cur
        |  FROM events WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1, 2),
        |base AS (
        |  SELECT event_type,
        |   CAST((CASE WHEN CAST(value AS DOUBLE) >= (SELECT e1 FROM ed) THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(value AS DOUBLE) >= (SELECT e2 FROM ed) THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(value AS DOUBLE) >= (SELECT e3 FROM ed) THEN 1 ELSE 0 END) AS BIGINT) AS bin,
        |   count(*) AS n_base
        |  FROM events WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(cur.event_type, base.event_type) AS event_type,
        |   coalesce(cur.bin, base.bin) AS bin,
        |   CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur,
        |   CAST(coalesce(n_base, 0) AS BIGINT) AS n_base
        |  FROM cur FULL OUTER JOIN base
        |   ON cur.event_type = base.event_type AND cur.bin = base.bin),
        |f AS (
        |  SELECT event_type, bin, n_cur, n_base,
        |   n_cur / CAST(sum(n_cur) OVER (PARTITION BY event_type) AS DOUBLE) AS p,
        |   n_base / CAST(sum(n_base) OVER (PARTITION BY event_type) AS DOUBLE) AS q
        |  FROM j),
        |t AS (
        |  SELECT event_type, bin, n_cur, n_base, p, q,
        |   (greatest(p, 1e-6) - greatest(q, 1e-6)) * ln(greatest(p, 1e-6) / greatest(q, 1e-6)) AS psi_term,
        |   sum(p) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cdf_p,
        |   sum(q) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cdf_q
        |  FROM f)
        |SELECT event_type, CAST(sum(n_cur) AS BIGINT) AS n_cur,
        | CAST(sum(n_base) AS BIGINT) AS n_base,
        | round(sum(psi_term), 6) AS psi,
        | round(max(abs(cdf_p - cdf_q)), 6) AS ks
        |FROM t GROUP BY event_type""".stripMargin,

    // region_hint is NULL (→ defaulted) when the doc is oversized OR
    // lang itself is null — coalesce over the full derivation, not the
    // sf0.01 data quirk of lang having no nulls.
    "q_normalize_documents" ->
      """SELECT doc_id, trim(text) AS text, lang,
        | coalesce(CASE WHEN n_chars <= 500 THEN lang END, 'unknown') AS region_hint,
        | source AS origin, n_chars,
        | CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS quality_bucket
        |FROM documents""".stripMargin,
    "q_normalize_actions_documents" ->
      """SELECT doc_id, 'region_hint' AS field, 'default' AS action,
        | 'unknown' AS value
        |FROM documents WHERE (CASE WHEN n_chars <= 500 THEN lang END) IS NULL
        |UNION ALL
        |SELECT doc_id, 'quality_bucket' AS field, 'default' AS action,
        | CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS value
        |FROM documents""".stripMargin,

    // Dotted-path normalization replayed per row, incl. the null-meta
    // slice where nothing is injected (null parent propagates).
    "q_normalize_nested_documents" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 31 <> 0
        |  THEN upper(coalesce(CASE WHEN n_chars <= 500 THEN lang END,
        |                      'unknown')) END AS region,
        | CASE WHEN doc_id % 31 <> 0 THEN n_chars END AS size,
        | CASE WHEN doc_id % 31 <> 0 THEN 'none' END AS origin_tag
        |FROM documents""".stripMargin,
    // Element 0 = (source, n_chars), element 1 = (lang, n_chars-200 or
    // defaulted 0) — the whole per-element transform replayed.
    "q_normalize_elements_documents" ->
      """SELECT doc_id, CAST(0 AS INT) AS idx, upper(source) AS name,
        | coalesce(n_chars, CAST(0 AS BIGINT)) AS n
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INT), upper(lang),
        | coalesce(CASE WHEN n_chars <= 500 THEN n_chars - 200 END,
        |          CAST(0 AS BIGINT))
        |FROM documents""".stripMargin,

    "q_validate_items_documents" ->
      s"""SELECT doc_id, 'attrs' AS field, 'items' AS rule, '2' AS value,
        | 'error' AS severity
        |FROM documents WHERE coalesce(doc_id % 29 = 0, FALSE)
        |UNION ALL
        |SELECT doc_id, 'attrs[0]' AS field, 'items' AS rule, source AS value,
        | 'error' AS severity
        |FROM documents WHERE NOT coalesce(doc_id % 29 = 0, FALSE)
        | AND source IS NOT NULL
        | AND NOT regexp_full_match(source, 'src[0-9]{1,2}')
        |UNION ALL
        |SELECT doc_id, 'attrs[1]' AS field, 'items' AS rule, lang AS value,
        | 'error' AS severity
        |FROM documents WHERE NOT coalesce(doc_id % 29 = 0, FALSE)
        | AND lang IS NOT NULL AND lang NOT IN ('de','en','es','fr')
        |UNION ALL
        |SELECT doc_id, 'attrs[2]' AS field, 'items' AS rule,
        | size_tag AS value, 'error' AS severity
        |FROM $docsXSql WHERE NOT coalesce(doc_id % 29 = 0, FALSE)
        | AND size_tag IS NOT NULL
        | AND TRY_CAST(size_tag AS BIGINT) IS NULL""".stripMargin,

    "q_expectations_documents" ->
      """WITH g AS (
        | SELECT lang, CAST(count(*) AS DOUBLE) AS n,
        |  avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END) AS nf,
        |  CAST(count(DISTINCT source) AS DOUBLE) AS nd,
        |  avg(CAST(n_chars AS DOUBLE)) AS mean_nc,
        |  max(CAST(n_chars AS DOUBLE)) AS max_nc,
        |  count(DISTINCT doc_id) / CAST(count(*) AS DOUBLE) AS uf_id,
        |  count(DISTINCT source) / CAST(count(*) AS DOUBLE) AS uf_src,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med_nc
        | FROM documents GROUP BY lang)
        |SELECT lang, 'row_count' AS "check", '' AS "column",
        | CAST(NULL AS DOUBLE) AS q, n AS observed,
        | 50.0 AS lo, CAST('inf' AS DOUBLE) AS hi, n >= 50.0 AS pass FROM g
        |UNION ALL
        |SELECT lang, 'null_frac', 'text', CAST(NULL AS DOUBLE), nf,
        | CAST('-inf' AS DOUBLE), 0.1, nf <= 0.1 FROM g
        |UNION ALL
        |SELECT lang, 'distinct', 'source', CAST(NULL AS DOUBLE), nd, 10.0,
        | 30.0, nd >= 10.0 AND nd <= 30.0 FROM g
        |UNION ALL
        |SELECT lang, 'mean', 'n_chars', CAST(NULL AS DOUBLE), mean_nc, 100.0,
        | 1000.0, mean_nc >= 100.0 AND mean_nc <= 1000.0 FROM g
        |UNION ALL
        |SELECT lang, 'max', 'n_chars', CAST(NULL AS DOUBLE), max_nc,
        | CAST('-inf' AS DOUBLE), 550.0, max_nc <= 550.0 FROM g
        |UNION ALL
        |SELECT lang, 'unique_frac', 'doc_id', CAST(NULL AS DOUBLE), uf_id,
        | 1.0, CAST('inf' AS DOUBLE), uf_id >= 1.0 FROM g
        |UNION ALL
        |SELECT lang, 'unique_frac', 'source', CAST(NULL AS DOUBLE), uf_src,
        | 0.9, CAST('inf' AS DOUBLE), uf_src >= 0.9 FROM g
        |UNION ALL
        |SELECT lang, 'quantile', 'n_chars', 0.5 AS q, med_nc, 100.0, 400.0,
        | med_nc >= 100.0 AND med_nc <= 400.0 FROM g""".stripMargin,

    // Both snapshot aggregations + the full-outer group alignment +
    // every ratio/pass re-derived; NULL ratios (fr = no baseline,
    // de = vanished group) must FAIL their bounded checks.
    "q_expectations_rel_documents" -> {
      def arm(check: String, column: String, c: String, b: String,
          lo: String, hi: String) =
        s"""SELECT grp, '$check' AS "check", '$column' AS "column",
           | $c AS "current", $b AS previous,
           | CASE WHEN $b IS NOT NULL AND $b <> 0 THEN $c / $b END AS observed,
           | $lo AS lo, $hi AS hi,
           | coalesce((CASE WHEN $b IS NOT NULL AND $b <> 0 THEN $c / $b END) >= $lo
           |  AND (CASE WHEN $b IS NOT NULL AND $b <> 0 THEN $c / $b END) <= $hi,
           |  FALSE) AS pass
           |FROM j""".stripMargin
      """WITH d AS (SELECT *, coalesce(lang, '__null__') AS grp,
        |  CASE WHEN n_chars <= 500 THEN lang END AS region_hint
        | FROM documents),
        |b AS (SELECT grp, CAST(count(*) AS DOUBLE) AS rc,
        |  avg(CASE WHEN region_hint IS NULL THEN 1.0 ELSE 0.0 END) AS nf,
        |  CAST(count(DISTINCT source) AS DOUBLE) AS nd,
        |  avg(CAST(n_chars AS DOUBLE)) AS mn
        | FROM d WHERE doc_id % 2 = 0 AND grp <> 'fr' GROUP BY grp),
        |c AS (SELECT grp, CAST(count(*) AS DOUBLE) AS rc,
        |  avg(CASE WHEN region_hint IS NULL THEN 1.0 ELSE 0.0 END) AS nf,
        |  CAST(count(DISTINCT source) AS DOUBLE) AS nd,
        |  avg(CAST(n_chars AS DOUBLE)) AS mn
        | FROM d WHERE doc_id % 2 = 1 AND grp <> 'de' GROUP BY grp),
        |j AS (SELECT coalesce(c.grp, b.grp) AS grp,
        |  c.rc AS c_rc, b.rc AS b_rc, c.nf AS c_nf, b.nf AS b_nf,
        |  c.nd AS c_nd, b.nd AS b_nd, c.mn AS c_mn, b.mn AS b_mn
        | FROM c FULL OUTER JOIN b ON c.grp = b.grp)
        |""".stripMargin +
        Seq(
          arm("row_count_rel", "", "c_rc", "b_rc", "0.5", "2.0"),
          arm("null_frac_rel", "region_hint", "c_nf", "b_nf", "0.25", "4.0"),
          arm("distinct_rel", "source", "c_nd", "b_nd", "0.5", "2.0"),
          arm("mean_rel", "n_chars", "c_mn", "b_mn", "0.9", "1.1")
        ).mkString("\nUNION ALL\n")
    },

    "q_rule_breakdown_documents" ->
      s"""SELECT field, rule, severity, count(*) AS n_violations,
        | count(DISTINCT value) AS n_distinct_values,
        | min(value) AS example_min, max(value) AS example_max,
        | min(TRY_CAST(value AS DOUBLE)) AS example_min_num,
        | max(TRY_CAST(value AS DOUBLE)) AS example_max_num
        |FROM ($docViolationsSql)
        |GROUP BY field, rule, severity""".stripMargin
  )
}

