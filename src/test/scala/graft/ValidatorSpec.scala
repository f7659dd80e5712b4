package graft

import graft.schema.{CustomCheck, FieldSpec, Schema}
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.spark.sql.functions._

/** Rule-semantics suite — the `test_validator`/`test_errors` parity the
  * north rule names. Each case pins one semantic detail from SURVEY.md
  * §2b against expected `(field, rule, value)` rows.
  */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.select("field", "rule", "value")
      .collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)).orNull))
      .toSet

  test("required fires on null; nothing else fires on null") {
    val df = Seq((1, null.asInstanceOf[String])).toDF("id", "name")
    val schema = Schema.of("name" -> FieldSpec(
      required = true, regex = Some("[a-z]+"), minLength = Some(3)))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("name", "required", null)))
  }

  test("nullable=false fires on null for non-required fields") {
    val df = Seq((1, null.asInstanceOf[String])).toDF("id", "name")
    val schema = Schema.of("name" -> FieldSpec(nullable = false))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("name", "nullable", null)))
  }

  test("all failing rules are reported, not just the first") {
    // Reference accumulates every field error in one pass
    // (app/.../HomeScreen.kt:785-789).
    val df = Seq((1, "XY")).toDF("id", "name")
    val schema = Schema.of("name" -> FieldSpec(
      regex = Some("[a-z]+"), minLength = Some(3), allowed = Some(Seq("ok"))))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("name", "regex", "XY"), ("name", "minlength", "XY"),
        ("name", "allowed", "XY")))
  }

  test("regex anchors the whole string (matches, not find)") {
    // Reference uses Regex.matches (app/.../TotpUtil.kt:28).
    val df = Seq((1, "abc!"), (2, "abc")).toDF("id", "name")
    val schema = Schema.of("name" -> FieldSpec(regex = Some("[a-z]+")))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("name", "regex", "abc!")))
  }

  test("normalize runs before every rule and violation values are normalized") {
    // Reference normalizes (uppercase, strip spaces) before the Base32
    // check (app/.../TotpUtil.kt:26, rust/src/lib.rs:185).
    val df = Seq((1, " ab 12 "), (2, "ZZ 999")).toDF("id", "secret")
    val schema = Schema.of("secret" -> FieldSpec(
      regex = Some("[A-Z0-9]+"),
      minLength = Some(5),
      normalize = Some(c => upper(regexp_replace(c, " ", "")))))
    // " ab 12 " → "AB12": passes the regex only because normalization ran
    // first, but fails minlength on the NORMALIZED length (4 < 5) and the
    // violation value is the normalized one. "ZZ 999" → "ZZ999" passes all.
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("secret", "minlength", "AB12")))
  }

  test("empty fires on blank strings but not on null") {
    val df = Seq((1, "   "), (2, null.asInstanceOf[String]), (3, "x"))
      .toDF("id", "name")
    val schema = Schema.of("name" -> FieldSpec(notEmpty = true))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("name", "empty", "   ")))
  }

  test("min/max numeric range (TOTP digits 6..8 analog, rust/src/lib.rs:178-183)") {
    val df = Seq((1, 5), (2, 6), (3, 8), (4, 9)).toDF("id", "digits")
    val schema = Schema.of("digits" -> FieldSpec(min = Some(6d), max = Some(8d)))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("digits", "min", "5"), ("digits", "max", "9")))
  }

  test("allowed set (enum analog, rust/src/lib.rs:48-53)") {
    val df = Seq((1, "SHA1"), (2, "MD5")).toDF("id", "alg")
    val schema = Schema.of("alg" -> FieldSpec(
      allowed = Some(Seq("SHA1", "SHA256", "SHA512"))))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("alg", "allowed", "MD5")))
  }

  test("forbidden: listed values rejected, everything else passes (allowed complement)") {
    val df = Seq((1, "src13"), (2, "src5"), (3, null.asInstanceOf[String]))
      .toDF("id", "source")
    val schema = Schema.of("source" -> FieldSpec(
      forbidden = Some(Seq("src13", "src99"))))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("source", "forbidden", "src13")))
  }

  test("dependencies: field valid only when dependency holds") {
    val df = Seq(
      (1, "s3cret", "yes"), // dep satisfied → ok
      (2, "s3cret", "no"), // dep value outside allowed → violation
      (3, "s3cret", null.asInstanceOf[String]), // dep null → violation
      (4, null.asInstanceOf[String], "no") // field null → dep not checked
    ).toDF("id", "secret", "has_otp")
    val schema = Schema.of("secret" -> FieldSpec(
      dependencies = Map("has_otp" -> Seq("yes"))))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("secret", "dependencies", "s3cret")))
  }

  test("type rule via cast-and-compare") {
    val df = Seq((1, "123"), (2, "12x")).toDF("id", "num")
    val schema = Schema.of("num" -> FieldSpec(
      dtype = Some(org.apache.spark.sql.types.IntegerType)))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("num", "type", "12x")))
  }

  test("rules apply to nested struct fields via dotted paths (Cerberus nested schema analog)") {
    val df = Seq((1, "en", 5), (2, "xx", -1)).toDF("id", "l", "n")
      .select(col("id"),
        struct(col("l").as("lang"), col("n").as("score")).as("meta"))
    val schema = Schema.of(
      "meta.lang" -> FieldSpec(allowed = Some(Seq("en", "de"))),
      "meta.score" -> FieldSpec(min = Some(0d)))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("meta.lang", "allowed", "xx"), ("meta.score", "min", "-1")))
  }

  test("custom check: sha256 invariant (rust/src/lib.rs:161-172 analog)") {
    val good = "hello"
    val goodSha = java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(good.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
    val df = Seq((1, good, goodSha), (2, good, "deadbeef")).toDF("id", "content", "expected_sha")
    val schema = Schema.of("content" -> FieldSpec(checks = Seq(
      CustomCheck("check_sha256", v => sha2(v, 256) === col("expected_sha")))))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("content", "check_sha256", "hello")))
  }

  test("violations are data: clean/annotate split and verdict rollup") {
    val df = Seq(
      (1, "ok", "en"), (2, null.asInstanceOf[String], "en"), (3, "ok", "xx"))
      .toDF("id", "name", "lang")
    val schema = Schema.of(
      "name" -> FieldSpec(required = true),
      "lang" -> FieldSpec(allowed = Some(Seq("en", "de"))))
    assert(Validator.clean(df, schema).count() === 1)
    val v = Verdict.compute(df, schema, "lang").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_bad_rows"), r.getAs[Long]("n_violations"),
        r.getAs[Boolean]("pass")))
      .toSet
    assert(v === Set(("en", 2L, 1L, 1L, false), ("xx", 1L, 1L, 1L, false)))
  }

  test("severity: violation rows carry their channel; per-rule override wins") {
    // Three outcome channels, reference app/.../HomeViewModel.kt:179-185.
    val df = Seq((1, "ab")).toDF("id", "name")
    val schema = Schema.of("name" -> FieldSpec(
      minLength = Some(3), regex = Some("[0-9]+"),
      ruleSeverity = Map("minlength" -> graft.schema.Severity.Warning)))
    val got = Validator.violations(df, schema, Seq("id"))
      .select("rule", "severity").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("minlength", "warning"), ("regex", "error")))
  }

  test("severity: warnings never fail a partition; worst severity rolls up") {
    val df = Seq(
      (1, "ab", "p_warn"), // minlength only → warning channel
      (2, "9!", "p_err"), // minlength (warn) + regex (error)
      (3, "abc123", "p_clean"))
      .toDF("id", "name", "part")
    val schema = Schema.of("name" -> FieldSpec(
      minLength = Some(3), regex = Some("[a-z0-9]+"),
      ruleSeverity = Map("minlength" -> graft.schema.Severity.Warning)))
    val v = Verdict.compute(df, schema, "part").collect()
      .map(r => r.getAs[String]("part") ->
        ((r.getAs[Long]("n_warnings"), r.getAs[Long]("n_errors"),
          r.getAs[String]("worst_severity"), r.getAs[Boolean]("pass"))))
      .toMap
    assert(v("p_warn") === ((1L, 0L, "warning", true)))
    assert(v("p_err") === ((1L, 1L, "error", false)))
    assert(v("p_clean") === ((0L, 0L, null, true)))
  }

  test("severity: fatal outranks error in the rollup; unknown severity rejected") {
    val df = Seq((1, "boom", "p")).toDF("id", "name", "part")
    val schema = Schema.of("name" -> FieldSpec(
      allowed = Some(Seq("ok")), checks = Seq(CustomCheck(
        "check_never", _ => lit(false), severity = graft.schema.Severity.Fatal))))
    val r = Verdict.compute(df, schema, "part").collect().head
    assert(r.getAs[String]("worst_severity") === "fatal")
    assert(r.getAs[Boolean]("pass") === false)
    assertThrows[IllegalArgumentException] {
      FieldSpec(severity = "catastrophic")
    }
    assertThrows[IllegalArgumentException] {
      CustomCheck("x", identity, severity = "mild")
    }
  }

  test("array elements: each element validated, violation paths indexed") {
    // Element-wise strict schema over a list (reference: every element
    // of Vec<Account> is schema-checked, rust/src/lib.rs:81-83).
    val df = Seq(
      (1L, Seq(("alice", 10L), ("", 500L))), // elem 1 name empty-fails regex
      (2L, Seq((null.asInstanceOf[String], 3L))), // required + min
      (3L, Seq.empty[(String, Long)]), // empty array → no element rows
      (4L, Seq(("bob", 99L), ("carol", 100L))) // min fires only on elem 0
    ).toDF("id", "accounts")
      .select($"id", $"accounts".cast("array<struct<name:string,n:bigint>>"))
    val elemSchema = Schema.of(
      "name" -> FieldSpec(required = true, regex = Some("[a-z]+")),
      "n" -> FieldSpec(min = Some(100d)))
    val v = Validator.elementViolations(df, elemSchema, "accounts", Seq("id"))
      .select($"id", $"field", $"rule")
      .as[(Long, String, String)].collect().toSet
    assert(v === Set(
      (1L, "accounts[0].n", "min"),
      (1L, "accounts[1].name", "regex"),
      (2L, "accounts[0].name", "required"),
      (2L, "accounts[0].n", "min"),
      (4L, "accounts[0].n", "min")))
    // re-aggregation: per-row counts
    assert(Validator.elementViolationCounts(df, elemSchema, "accounts", Seq("id"))
      .select($"id", $"n_elem_violations").as[(Long, Long)].collect().toMap ===
      Map(1L -> 2L, 2L -> 2L, 4L -> 1L))
  }

  test("array elements: dependencies reference sibling element fields") {
    val df = Seq(
      (1L, Seq(("x", "active"), ("y", null.asInstanceOf[String])))
    ).toDF("id", "accounts")
      .select($"id", $"accounts".cast("array<struct<name:string,state:string>>"))
    val elemSchema = Schema.of(
      "name" -> FieldSpec(dependencies = Map("state" -> Seq("active"))),
      "state" -> FieldSpec())
    val v = Validator.elementViolations(df, elemSchema, "accounts", Seq("id"))
      .select($"field", $"rule").as[(String, String)].collect().toSet
    // elem 0: state=active → ok; elem 1: state null → dependencies fires
    assert(v === Set(("accounts[1].name", "dependencies")))
  }

  test("severity: a typo'd ruleSeverity key is rejected, not silently ignored") {
    assertThrows[IllegalArgumentException] {
      FieldSpec(minLength = Some(3),
        ruleSeverity = Map("minLen" -> graft.schema.Severity.Warning))
    }
    // custom check names are valid keys
    FieldSpec(
      checks = Seq(CustomCheck("check_sha256", identity)),
      ruleSeverity = Map("check_sha256" -> graft.schema.Severity.Warning))
  }

  test("excludes: a non-null value demands the listed fields be null") {
    val df = Seq(
      (1, "legacy", "new"), // both present -> violation
      (2, "legacy", null),  // exclusion holds
      (3, null, "new")      // field null -> excludes doesn't fire
    ).toDF("id", "old_src", "new_src")
    val schema = Schema.of("old_src" -> FieldSpec(excludes = Seq("new_src")))
    assert(rows(Validator.violations(df, schema, Seq("id"))) ===
      Set(("old_src", "excludes", "legacy")))
  }

  test("contains: array must contain every listed value") {
    val df = Seq(
      (1, Seq("en", "src1", "x")), // has both -> clean
      (2, Seq("en", "src2")),      // missing src1 -> violation
      (3, Seq.empty[String]),      // missing both -> violation
      (4, null.asInstanceOf[Seq[String]]) // null array -> no value rule fires
    ).toDF("id", "tags")
    val schema = Schema.of("tags" -> FieldSpec(contains = Some(Seq("en", "src1"))))
    val v = Validator.violations(df, schema, Seq("id"))
      .select("id", "rule").as[(Int, String)].collect().toSet
    assert(v === Set((2, "contains"), (3, "contains")))
  }

  test("combinators: anyof/allof/oneof/noneof over value-only sub-specs") {
    val df = Seq((1, 50), (2, 150), (3, 350), (4, 490), (5, 600))
      .toDF("id", "n")
    val schema = Schema.of("n" -> FieldSpec(
      // anyof: in the low band OR the high band
      anyOf = Seq(FieldSpec(max = Some(120d)), FieldSpec(min = Some(480d))),
      // allof: both bounds (equivalent to min+max, via the combinator path)
      allOf = Seq(FieldSpec(min = Some(100d)), FieldSpec(max = Some(500d))),
      // oneof: OVERLAPPING bands — exactly-one fails inside the overlap
      oneOf = Seq(
        FieldSpec(min = Some(100d), max = Some(400d)),
        FieldSpec(min = Some(300d), max = Some(500d))),
      // noneof: the forbidden mid band
      noneOf = Seq(FieldSpec(min = Some(340d), max = Some(360d)))))
    val v = Validator.violations(df, schema, Seq("id"))
      .select("id", "rule").as[(Int, String)].collect().toSet
    assert(v === Set(
      (1, "allof"), (1, "oneof"),            // 50: below both oneof bands
      (2, "anyof"),                          // 150: outside both anyof bands
      (3, "anyof"), (3, "oneof"), (3, "noneof"), // 350: oneof overlap (passes
                                             // BOTH bands) + noneof mid band
      (5, "allof"), (5, "oneof")))           // 600: above both bands
    // 490 is clean: anyof high band passes, oneof passes band 2 only.
  }

  test("keysrules/valuesrules: every map key and value checked") {
    val df = Seq(
      (1, Map("lang" -> "en")),         // clean
      (2, Map("lang" -> "EN!")),        // value fails regex
      (3, Map("speech" -> "en")),       // key not allowed
      (4, Map.empty[String, String])    // vacuously clean
    ).toDF("id", "attrs")
    val schema = Schema.of("attrs" -> FieldSpec(
      keysRules = Some(FieldSpec(allowed = Some(Seq("lang", "source")))),
      valuesRules = Some(FieldSpec(regex = Some("[a-z]{2,6}")))))
    val v = Validator.violations(df, schema, Seq("id"))
      .select("id", "rule").as[(Int, String)].collect().toSet
    assert(v === Set((2, "valuesrules"), (3, "keysrules")))
  }

  test("combinator sub-specs must be value-only (misconfig fails at construction)") {
    assertThrows[IllegalArgumentException] {
      FieldSpec(anyOf = Seq(FieldSpec(required = true)))
    }
    assertThrows[IllegalArgumentException] {
      FieldSpec(keysRules = Some(FieldSpec(dependencies = Map("x" -> Nil))))
    }
    assertThrows[IllegalArgumentException] {
      FieldSpec(oneOf = Seq(FieldSpec(oneOf = Seq(FieldSpec()))))
    }
  }

  test("one-pass quarantine: errors route out, warnings stay, readers prune") {
    val dir = java.nio.file.Files.createTempDirectory("graft-quarantine").toString
    val df = Seq(
      (1, "good name"),
      (2, "x"),   // minlength warning only -> stays clean
      (3, null)   // required error -> quarantined
    ).toDF("id", "name")
    val schema = Schema.of("name" -> FieldSpec(
      required = true, minLength = Some(3),
      ruleSeverity = Map("minlength" -> graft.schema.Severity.Warning)))
    val (nClean, nBad) = Validator.writeQuarantined(df, schema, dir)
    assert((nClean, nBad) === (2L, 1L))
    // partition values read back as strings (no boolean inference)
    val back = spark.read.parquet(dir)
    assert(back.where(col("__quarantined") === "false").select("id")
      .as[Int].collect().toSet === Set(1, 2))
    assert(back.where(col("__quarantined") === "true").select("id")
      .as[Int].collect().toSet === Set(3))
    // both sides keep the full payload schema
    assert(back.columns.toSet === Set("id", "name", "__quarantined"))
  }

  test("schema pre-gate: unknown and missing columns (allow_unknown analog)") {
    val df = Seq((1, "a", 2.0)).toDF("id", "name", "extra")
    val schema = Schema.of(
      "name" -> FieldSpec(required = true),
      "meta.tag" -> FieldSpec(),          // nested path, absent -> warning
      "gone" -> FieldSpec(required = true)) // absent + required -> error
    val v = Validator.schemaViolations(df, schema, allowUnknown = Set("id"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(v === Set(
      ("extra", "unknown", "double", "error"),
      ("meta.tag", "missing", null, "warning"),
      ("gone", "missing", null, "error")))
    // a frame matching the schema is structurally clean
    val ok = Seq(("a", 1)).toDF("name", "gone")
      .withColumn("meta", struct(lit("t").as("tag")))
    assert(Validator.schemaViolations(ok, schema).isEmpty)
  }

  test("schema pre-gate resolves dotted paths through nested structs") {
    val df = Seq((1, "x")).toDF("id", "v")
      .withColumn("meta", struct(struct(lit(3L).as("n")).as("inner")))
      .drop("v")
    val schema = Schema.of(
      "id" -> FieldSpec(),
      "meta.inner.n" -> FieldSpec(),
      "meta.inner.absent" -> FieldSpec())
    val v = Validator.schemaViolations(df, schema)
      .select("field", "rule").as[(String, String)].collect().toSet
    assert(v === Set(("meta.inner.absent", "missing")))
  }

  test("combinator severity rides the parent ruleSeverity override") {
    val df = Seq((1, 200)).toDF("id", "n")
    val schema = Schema.of("n" -> FieldSpec(
      anyOf = Seq(FieldSpec(max = Some(100d))),
      ruleSeverity = Map("anyof" -> graft.schema.Severity.Warning)))
    val v = Validator.violations(df, schema, Seq("id"))
      .select("rule", "severity").as[(String, String)].collect().toSet
    assert(v === Set(("anyof", "warning")))
  }

  test("ruleBreakdown: per-(field, rule, severity) triage rollup matches the violation rows") {
    val df = Seq(
      (1L, null.asInstanceOf[String], "xx"),
      (2L, "ok", "yyyy"),
      (3L, null.asInstanceOf[String], "zz")
    ).toDF("id", "name", "code")
    val schema = Schema.of(
      "name" -> FieldSpec(required = true),
      "code" -> FieldSpec(maxLength = Some(3),
        ruleSeverity = Map("maxlength" -> graft.schema.Severity.Warning)))
    val bd = Verdict.ruleBreakdown(df, schema)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getString(6))).toMap
    assert(bd(("name", "required", "error")) === ((2L, 0L, null))) // null values → 0 distinct
    assert(bd(("code", "maxlength", "warning")) === ((1L, 1L, "yyyy")))
    assert(bd.size === 2)
  }

  test("items: length gate on the parent, positional sub-specs on indexed paths") {
    // Tuple-shaped lists (public Cerberus `items`): slot 0 lowercase
    // word, slot 1 integer-parseable.
    val df = Seq(
      (1L, Seq("alice", "42")), // clean
      (2L, Seq("alice")), // wrong length → ONE parent violation only
      (3L, Seq("BOB", "42")), // slot 0 fails regex
      (4L, Seq("carol", "x7")), // slot 1 fails type
      (5L, Seq(null.asInstanceOf[String], "1")) // null element passes
    ).toDF("id", "pair")
    val schema = Schema.of("pair" -> FieldSpec(items = Seq(
      FieldSpec(regex = Some("[a-z]+")),
      FieldSpec(dtype = Some(org.apache.spark.sql.types.LongType)))))
    val v = Validator.violations(df, schema, Seq("id"))
      .select($"id", $"field", $"rule", $"value")
      .as[(Long, String, String, String)].collect().toSet
    assert(v === Set(
      (2L, "pair", "items", "1"), // value = the ACTUAL size
      (3L, "pair[0]", "items", "BOB"),
      (4L, "pair[1]", "items", "x7")))
    // null ARRAY: no items rows (presence is required/nullable's job)
    val withNull = Seq((9L, null.asInstanceOf[Seq[String]])).toDF("id", "pair")
    assert(Validator.violations(withNull, schema, Seq("id")).count() === 0)
    // items sub-specs must be value-only (E1 misconfig at construction)
    assertThrows[IllegalArgumentException] {
      FieldSpec(items = Seq(FieldSpec(required = true)))
    }
    // items severity rides the parent ruleSeverity override
    val warnSchema = Schema.of("pair" -> FieldSpec(
      items = Seq(FieldSpec(regex = Some("[a-z]+")), FieldSpec()),
      ruleSeverity = Map("items" -> graft.schema.Severity.Warning)))
    val sev = Validator.violations(df, warnSchema, Seq("id"))
      .select("severity").as[String].collect().toSet
    assert(sev === Set("warning"))
  }

  test("normalizeDocument: rename → purge_unknown → defaults → coercion, in order") {
    val df = Seq(
      (1L, "  Alice  ", null.asInstanceOf[String], "x"),
      (2L, "bob", "en", "y"),
      (3L, null.asInstanceOf[String], null.asInstanceOf[String], "z")
    ).toDF("id", "raw_name", "lang", "junk")
    val schema = Schema.of(
      "id" -> FieldSpec(required = true),
      "raw_name" -> FieldSpec(rename = Some("name"), normalize = Some(trim(_))),
      "lang" -> FieldSpec(default = Some("und")),
      // absent column computed from the (renamed, defaulted) frame
      "tag" -> FieldSpec(defaultSetter = Some(concat(col("lang"), lit(":t")))))
    val out = Validator.normalizeDocument(df, schema, purgeUnknown = true)
    assert(out.columns.toSet === Set("id", "name", "lang", "tag")) // junk purged
    val got = out.select($"id", $"name", $"lang", $"tag")
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ("Alice", "und", "und:t"))
    assert(got(2L) === ("bob", "en", "en:t"))
    assert(got(3L) === (null, "und", "und:t"))
    // purgeUnknown=false keeps undeclared columns
    assert(Validator.normalizeDocument(df, schema).columns.contains("junk"))
    // rename collision is a misconfiguration, rejected up front
    assertThrows[IllegalArgumentException] {
      Validator.normalizeDocument(df,
        Schema.of("raw_name" -> FieldSpec(rename = Some("lang"))))
    }
  }

  test("normalizeDocument round-trip: normalized frame validates clean") {
    val df = Seq(
      (1L, null.asInstanceOf[String], " padded "),
      (2L, "en", "ok")
    ).toDF("id", "lang", "text")
    val schema = Schema.of(
      "id" -> FieldSpec(required = true),
      "lang" -> FieldSpec(required = true,
        allowed = Some(Seq("en", "und")), default = Some("und")),
      "text" -> FieldSpec(required = true,
        regex = Some("\\S(.*\\S)?"), normalize = Some(trim(_))))
    // raw frame violates (null lang; padded text fails the anchored
    // regex only pre-trim — normalize applies at rule time, so only
    // the null fails)
    assert(Validator.violations(df, schema, Seq("id")).count() === 1)
    // normalize → validate = clean (idempotent normalizers)
    val norm = Validator.normalizeDocument(df, schema)
    assert(Validator.violations(norm, schema, Seq("id")).count() === 0)
  }

  test("normalizationActions: one row per injected default, absent column on every row") {
    val df = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, "en")
    ).toDF("id", "lang")
    val schema = Schema.of(
      "id" -> FieldSpec(required = true),
      "lang" -> FieldSpec(default = Some("und")),
      "tag" -> FieldSpec(default = Some("t0")))
    val acts = Validator.normalizationActions(df, schema, Seq("id"))
      .select($"id", $"field", $"action", $"value")
      .as[(Long, String, String, String)].collect().toSet
    assert(acts === Set(
      (1L, "lang", "default", "und"),
      (1L, "tag", "default", "t0"),
      (2L, "tag", "default", "t0")))
    // no defaults declared → empty frame with the contract schema
    val none = Validator.normalizationActions(df,
      Schema.of("id" -> FieldSpec(required = true)), Seq("id"))
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("id", "field", "action", "value"))
  }

  test("normalizationActions records the value actually injected (progressive defaults)") {
    // A defaultSetter referencing an EARLIER-defaulted field must record
    // the post-default value normalizeDocument injects, not a raw-frame
    // re-evaluation (which would be null here).
    val df = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, "en")
    ).toDF("id", "lang")
    val schema = Schema.of(
      "id" -> FieldSpec(required = true),
      "lang" -> FieldSpec(default = Some("und")),
      "tag" -> FieldSpec(defaultSetter = Some(concat(col("lang"), lit(":t")))))
    val acts = Validator.normalizationActions(df, schema, Seq("id"))
      .select($"id", $"field", $"value")
      .as[(Long, String, String)].collect().toSet
    assert(acts === Set(
      (1L, "lang", "und"),
      (1L, "tag", "und:t"), // sees the defaulted lang, like the transform
      (2L, "tag", "en:t")))
    // and it matches the transform itself, row for row
    val out = Validator.normalizeDocument(df, schema)
      .select($"id", $"tag").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "und:t", 2L -> "en:t"))
  }

  test("normalizeDocument: dotted-path defaults + coercions rebuild the struct in place") {
    val df = Seq(
      (1L, Some(("x", 10L)), "keep"),
      (2L, Some((null.asInstanceOf[String], 20L)), "keep"),
      (3L, None, "keep") // null parent struct: nothing injected
    ).toDF("id", "raw", "other")
      .select($"id",
        when($"raw".isNotNull,
          struct($"raw._1".as("region"), $"raw._2".as("size"))).as("meta"),
        $"other")
    val schema = Schema.of(
      "id" -> FieldSpec(required = true),
      "meta.region" -> FieldSpec(default = Some("unk"), normalize = Some(upper(_))),
      "meta.tag" -> FieldSpec(default = Some("t0"))) // leaf CREATED
    val out = Validator.normalizeDocument(df, schema)
    val got = out
      .select($"id", $"meta.region", $"meta.size", $"meta.tag")
      .as[(Long, String, Option[Long], String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === (("X", Some(10L), "t0")))
    assert(got(2L) === (("UNK", Some(20L), "t0"))) // defaulted THEN coerced
    assert(got(3L) === ((null, None, null))) // null parent propagates
    // sibling columns and untouched struct fields survive
    assert(out.columns.toSeq === Seq("id", "meta", "other"))
    // misconfig: dotted default whose parent is no struct of the frame
    assertThrows[IllegalArgumentException] {
      Validator.normalizeDocument(df,
        Schema.of("nope.x" -> FieldSpec(default = Some("v"))))
    }
    // misconfig: dotted rename stays rejected (struct surgery)
    assertThrows[IllegalArgumentException] {
      Validator.normalizeDocument(df,
        Schema.of("meta.region" -> FieldSpec(rename = Some("r"))))
    }
    // idempotent: re-normalizing changes nothing
    val twice = Validator.normalizeDocument(out, schema)
    assert(twice.exceptAll(out).isEmpty && out.exceptAll(twice).isEmpty)
  }

  test("normalizationActions mirrors dotted injections (parent-null rows record nothing)") {
    val df = Seq(
      (1L, Some(Tuple1(null.asInstanceOf[String]))),
      (2L, Some(Tuple1("x"))),
      (3L, None)
    ).toDF("id", "raw")
      .select($"id",
        when($"raw".isNotNull, struct($"raw._1".as("region"))).as("meta"))
    val schema = Schema.of(
      "meta.region" -> FieldSpec(default = Some("unk")),
      "meta.tag" -> FieldSpec(default = Some("t0")))
    val acts = Validator.normalizationActions(df, schema, Seq("id"))
      .select($"id", $"field", $"value").as[(Long, String, String)]
      .collect().toSet
    assert(acts === Set(
      (1L, "meta.region", "unk"),
      (1L, "meta.tag", "t0"),
      (2L, "meta.tag", "t0"))) // id=3: null parent → no injection, no row
  }

  test("effective-name collision (rename onto another spec's name) rejected up front") {
    // 'old' is ABSENT from the frame, so no frame-column collision
    // fires — the schema-level effective-name check must still reject:
    // two specs would fold defaults onto one output column.
    val df = Seq((1L, "v")).toDF("id", "name")
    assertThrows[IllegalArgumentException] {
      Validator.normalizeDocument(df, Schema.of(
        "old" -> FieldSpec(rename = Some("name"), default = Some("a")),
        "name" -> FieldSpec(default = Some("b"))))
    }
  }

  test("normalizeElements: per-element default + coercion, null element/array untouched") {
    val df = Seq(
      (1L, Seq(("a", Some(1L)), (null.asInstanceOf[String], None))),
      (2L, Seq.empty[(String, Option[Long])])
    ).toDF("id", "raw")
      .select($"id", expr(
        "transform(raw, e -> named_struct('name', e._1, 'n', e._2))")
        .as("accs"))
      .union(Seq((3L, null.asInstanceOf[String])).toDF("id", "x")
        .select($"id", lit(null)
          .cast("array<struct<name:string,n:bigint>>").as("accs")))
    val schema = Schema.of(
      "name" -> FieldSpec(normalize = Some(upper(_))),
      "n" -> FieldSpec(default = Some(0L)),
      "src" -> FieldSpec(default = Some("s0"))) // field CREATED per element
    val out = Validator.normalizeElements(df, schema, "accs")
    val byId = out.select($"id", $"accs").collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    val els = byId(1L)
    assert(els.map(e => (e.getString(0), e.getLong(1), e.getString(2))) ===
      Seq(("A", 1L, "s0"), (null, 0L, "s0")))
    assert(byId(2L).isEmpty) // empty array untouched
    assert(byId(3L) == null) // null array untouched
    // misconfigs rejected up front (E1)
    assertThrows[IllegalArgumentException] { // defaultSetter is document-level
      Validator.normalizeElements(df,
        Schema.of("n" -> FieldSpec(defaultSetter = Some(lit(1L)))), "accs")
    }
    assertThrows[IllegalArgumentException] { // coercion on absent field, no default
      Validator.normalizeElements(df,
        Schema.of("ghost" -> FieldSpec(normalize = Some(upper(_)))), "accs")
    }
    assertThrows[IllegalArgumentException] { // not an array<struct>
      Validator.normalizeElements(df.select($"id"), schema, "id")
    }
  }

  test("normalizeDocument is idempotent: re-normalizing a normalized frame is a no-op") {
    val df = Seq((1L, " x ", null.asInstanceOf[String])).toDF("id", "raw_name", "lang")
    val schema = Schema.of(
      "id" -> FieldSpec(required = true),
      "raw_name" -> FieldSpec(rename = Some("name"), normalize = Some(trim(_))),
      "lang" -> FieldSpec(default = Some("und")))
    val once = Validator.normalizeDocument(df, schema, purgeUnknown = true)
    // second pass: rename source is absent → no-op, not a collision error
    val twice = Validator.normalizeDocument(once, schema, purgeUnknown = true)
    assert(twice.columns.toSeq === once.columns.toSeq)
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("a schema with no rules: zero violations, and every partition passes") {
    // Cerberus accepts a field with an empty rule set (`{'repo': {}}`).
    val df = Seq((1L, "r1", "py"), (2L, null.asInstanceOf[String], "py"), (3L, "r3", "go"))
      .toDF("id", "repo", "lang")
    val empty = Schema.of("repo" -> FieldSpec())
    assert(Validator.violations(df, empty, Seq("id")).count() === 0L)

    val arr = Seq((1L, Seq(("a", 1L)))).toDF("id", "accounts")
      .select($"id", $"accounts".cast("array<struct<name:string,n:bigint>>"))
    assert(Validator.elementViolations(arr, Schema.of("name" -> FieldSpec()),
      "accounts", Seq("id")).count() === 0L)

    val out = java.nio.file.Files.createTempDirectory("graft-empty-schema").toString
    val r = graft.resume.ValidationRun.run(df, empty, "lang", Seq("id"), out)
    assert(r.pending.toSet === Set("py", "go"))
    assert(r.verdicts.select($"lang", $"n_rows", $"n_violations", $"pass")
      .as[(String, Long, Long, Boolean)].collect().toSet ===
      Set(("py", 2L, 0L, true), ("go", 1L, 0L, true)))
    assert(graft.resume.Checkpoint.processed(spark, out)
      .select($"partition", $"n_violations", $"pass")
      .as[(String, Long, Boolean)].collect().toSet ===
      Set(("py", 0L, true), ("go", 0L, true)))
  }
}
