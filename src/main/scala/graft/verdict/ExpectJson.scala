package graft.verdict

import graft.verdict.Expectations.Expect
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Expectation suites as DATA — the [[graft.schema.SchemaJson]]
  * counterpart for the table-level half. A suite is a JSON array of
  * check objects, so a declared suite ships as pure data: serialize it
  * → version/ship it → parse → gate every snapshot.
  *
  * Format: `[{"check": "row_count", "lo": 100, "hi": 200}, {"check":
  * "null_frac", "column": "text", "hi": 0.1}, …]`. Canonical form
  * omits defaults — empty `column`, non-finite bounds (absent side =
  * unbounded; JSON has no Infinity literal), unset `q` — and is a
  * fixpoint under parse.
  *
  * Strictness (E1, same contract as SchemaJson): unknown keys and
  * wrong JSON types fail at parse naming the entry; check names,
  * bound ordering, and q placement are validated by [[Expect]]'s own
  * constructor — the closed vocabulary lives in ONE place.
  */
object ExpectJson {

  def fromJson(json: String): Seq[Expect] = {
    val arr = JsonMethods.parse(json) match {
      case JArray(vs) => vs
      case other => fail("<root>",
        s"suite must be a JSON array of check objects, got ${kind(other)}")
    }
    require(arr.nonEmpty, "ExpectJson: suite must declare at least one check")
    arr.zipWithIndex.map {
      case (JObject(fields), i) =>
        val where = s"entry $i"
        fields.foreach { case (k, _) =>
          require(Set("check", "column", "lo", "hi", "q").contains(k),
            s"ExpectJson: $where: unknown key '$k' " +
              "(known: check, column, lo, hi, q)")
        }
        graft.util.JsonLeaf.requireDistinctKeys(s"ExpectJson: $where", fields)
        val m = fields.toMap
        Expect(
          check = m.get("check").map(str(where, "check", _)).getOrElse(
            fail(where, "missing required key 'check'")),
          column = m.get("column").map(str(where, "column", _)).getOrElse(""),
          lo = m.get("lo").map(num(where, "lo", _))
            .getOrElse(Double.NegativeInfinity),
          hi = m.get("hi").map(num(where, "hi", _))
            .getOrElse(Double.PositiveInfinity),
          q = m.get("q").map(num(where, "q", _)).getOrElse(Double.NaN))
      case (other, i) =>
        fail(s"entry $i", s"must be a check object, got ${kind(other)}")
    }
  }

  def toJson(expects: Seq[Expect], pretty: Boolean = false): String = {
    require(expects.nonEmpty, "ExpectJson: suite must declare at least one check")
    val doc = JArray(expects.toList.map { e =>
      JObject(List(
        Some("check" -> (JString(e.check): JValue)),
        if (e.column.nonEmpty) Some("column" -> (JString(e.column): JValue)) else None,
        if (e.lo.isNegInfinity) None else Some("lo" -> jnum(e.lo)),
        if (e.hi.isPosInfinity) None else Some("hi" -> jnum(e.hi)),
        if (e.q.isNaN) None else Some("q" -> jnum(e.q))
      ).flatten)
    })
    if (pretty) JsonMethods.pretty(JsonMethods.render(doc))
    else JsonMethods.compact(JsonMethods.render(doc))
  }

  // Leaf parsing/rendering shared with SchemaJson (graft.util.JsonLeaf)
  // so the two codecs' canonical forms cannot drift apart. Non-finite
  // values never reach jnum (omitted above); NaN bounds are impossible
  // (Expect rejects them via lo <= hi).
  private def fail(where: String, msg: String): Nothing =
    graft.util.JsonLeaf.fail(s"ExpectJson: $where", msg)
  private def kind(jv: JValue): String = graft.util.JsonLeaf.kind(jv)
  private def str(where: String, key: String, jv: JValue): String =
    graft.util.JsonLeaf.str(s"ExpectJson: $where", key, jv)
  private def num(where: String, key: String, jv: JValue): Double =
    graft.util.JsonLeaf.num(s"ExpectJson: $where", key, jv)
  private def jnum(d: Double): JValue = graft.util.JsonLeaf.jnum(d)
}
