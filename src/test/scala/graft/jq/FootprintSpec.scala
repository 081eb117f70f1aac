package graft.jq

import org.scalatest.funsuite.AnyFunSuite

/** Soundness tests for the parse-projection footprint analysis: the
  * pruned-parse lane must be OBSERVABLY IDENTICAL to the full parse on
  * every certified program — outputs, errors, $error binding, trailing-
  * garbage rejection — and must refuse certification for any program
  * that can observe the whole input. */
class FootprintSpec extends AnyFunSuite {

  private def fpOf(prog: String): Option[Footprint.Fields] = Jq.compile(prog).footprint

  /** whole-subtree need for each name (the level-1 shape) */
  private def w(names: String*): Option[Footprint.Fields] =
    Some(names.map(_ -> (None: Option[Set[String]])).toMap)

  test("footprint identifies top-level field sets") {
    assert(fpOf(".k") == w("k"))
    assert(fpOf("{k}") == w("k"))
    assert(fpOf("{k, d: (.k*2), s: (.k|tostring)}") == w("k"))
    assert(fpOf(".a[0].b") == w("a")) // array index: whole subtree
    assert(fpOf(".a[] | .x") == w("a"))
    assert(fpOf(""".["weird key"]""") == w("weird key"))
    assert(fpOf(".a, .b") == w("a", "b"))
    assert(fpOf("[.xs[] | . + 1]") == w("xs"))
    assert(fpOf("if .a > 1 then .b else .c end") == w("a", "b", "c"))
    assert(fpOf(""""\(.name): \(.age)"""") == w("name", "age"))
    assert(fpOf(".a as $x | .b + $x") == w("a", "b"))
    assert(fpOf("reduce .xs[] as $i (.init; . + $i)") == w("xs", "init"))
    assert(fpOf(".k | select(. > 2)") == w("k"))
    assert(fpOf("42") == Some(Map.empty))
    assert(fpOf(".a // .b") == w("a", "b"))
    assert(fpOf("try .a catch .b") == w("a", "b"))
    assert(fpOf(".missing?") == w("missing"))
    // `empty` reads nothing: the corrupt-row skip idiom prunes to .k
    assert(fpOf("if $error then empty else .k end") == w("k"))
  }

  test("footprint tracks one more path level for static access chains") {
    assert(fpOf(".a.b") == Some(Map("a" -> Some(Set("b")))))
    assert(fpOf(".a.b.c") == Some(Map("a" -> Some(Set("b"))))) // deeper stays inside a.b
    assert(fpOf(""".a["k2"]""") == Some(Map("a" -> Some(Set("k2")))))
    assert(fpOf(".a?.b") == Some(Map("a" -> Some(Set("b")))))
    assert(fpOf("{x: .a.b, y: .a.c}") == Some(Map("a" -> Some(Set("b", "c")))))
    assert(fpOf(".a.b, .c.d") ==
      Some(Map("a" -> Some(Set("b")), "c" -> Some(Set("d")))))
    // merging with a whole-subtree use widens to the whole subtree
    assert(fpOf(".a.b, .a") == w("a"))
    assert(fpOf(".a.b, (.a | length)") == w("a"))
    // constructed values never qualify for the sharpening: {x: .a} | .x
    // outputs ALL of .a even though a field access follows
    assert(fpOf("{x: .a} | .x") == w("a"))
    // dynamic subfield index on .a needs all of a (and the index reads .k)
    assert(fpOf(".a[.k]") == w("a", "k"))
  }

  test("footprint refuses whole-input programs") {
    assert(fpOf(".") == None)
    assert(fpOf("..") == None)
    assert(fpOf(".[]") == None)
    assert(fpOf("keys") == None)
    assert(fpOf("length") == None)
    assert(fpOf("to_entries") == None)
    assert(fpOf("select(.k > 2)") == None) // outputs the WHOLE input
    assert(fpOf("if .a then .b end") == None) // missing else = `.` passthrough
    assert(fpOf(".a = 1") == None) // returns the modified whole input
    assert(fpOf(".a |= . + 1") == None)
    assert(fpOf("{(.k): 1, a: 2}") == w("k")) // computed key reads only .k
    assert(fpOf("tojson") == None)
    assert(fpOf("@json") == None)
    assert(fpOf("def f: .x; f") == None) // user defs not tracked
    assert(fpOf(".[.k]") == None) // dynamic index on the input
    assert(fpOf(". as $x | .a | $x") == None)
  }

  test("pruned lane agrees with the full parse on outputs, errors, and $error") {
    val programs = Seq(
      ".k", "{k}", "{k, d: (.k*2), s: (.k|tostring)}", ".a.b", ".a[0]",
      ".a[] | . + 1", ".a, .k", "if .k > 5 then \"big\" else \"small\" end",
      ".k | select(. > 2)", "[.a[] | {v: .}]", ".miss", ".miss?",
      "\"k=\\(.k)\"", ".a as $x | ($x | length) + .k",
      "reduce .a[] as $i (0; . + $i)", "try (.k + \"x\") catch \"caught\"",
      "if $error == null then .k else -1 end", "if $error then empty else .k end",
      // level-2 chains: subfield pruning inside .z / .a
      ".z.deep", ".z.deep.more", "{d: .z.deep, k}", ".a.b, .a.b",
      ".z.deep // .k", ".a.b?", "try .a.b catch \"no\"")
    val inputs = Seq(
      """{"k": 7, "a": [1,2,3], "z": {"deep": [true, null]}, "s": "txt"}""",
      """{"k": 1}""",
      """{"a": [], "k": 99, "extra1": 1, "extra2": [1,2], "extra3": {"x": 1}}""",
      """{"k": "str", "a": 3}""", // wrong types: errors must match
      """{"z": {"deep": {"more": 1, "hidden": [1,2,3]}, "other": "skip"}}""",
      """{"a": {"b": 5, "c": {"nested": true}}, "z": 4}""", // object a: sub-pruned
      """{"a": {"b": {"x": 1}, "b": 7}, "k": 0}""", // duplicate nested key: last wins
      """{"z": [1, 2]}""", // non-object z under a sub-tracked field
      """{}""",
      """[1, 2, 3]""", // non-object input
      """42""",
      """"plain string"""",
      """null""",
      """{"k": 1} trailing""", // trailing garbage → $error
      """{"k": """, // truncated → $error
      """not json at all""",
      """{"k": 1, "k": 2}""", // duplicate key: last wins in both lanes
      null)
    for (p <- programs; in <- inputs) {
      val c = Jq.compile(p)
      assert(c.footprint.isDefined, s"program '$p' should be footprint-eligible")
      def run(parse: String => (com.fasterxml.jackson.databind.JsonNode,
                                com.fasterxml.jackson.databind.JsonNode)): Either[String, List[String]] =
        try {
          val (v, err) = parse(in)
          Right(c(v, Map("error" -> err)).map(Json.serialize).toList)
        } catch { case e: JqError => Left(e.getMessage) }
      val full = run(Jq.parseWithError)
      val pruned = run(Jq.parsePrunedWithError(_, c.footprint.get))
      assert(full == pruned, s"lane mismatch for program '$p' on input '$in': $full vs $pruned")
    }
  }

  test("pruned parse builds nodes only for the needed fields") {
    val node = Jq.parsePruned("""{"keep": {"a": [1,2]}, "drop": {"big": [1,2,3,4]}, "x": 9}""",
      Map("keep" -> None))
    assert(node.isObject && node.size() == 1 && node.has("keep"))
    assert(Json.serialize(node.get("keep")) == """{"a":[1,2]}""")
  }

  test("pruned parse builds only the needed SUBfields of a sub-tracked field") {
    val node = Jq.parsePruned(
      """{"a": {"b": 1, "huge": {"x": [1,2,3]}, "c": 2}, "drop": [9,9,9]}""",
      Map("a" -> Some(Set("b"))))
    assert(node.isObject && node.size() == 1 && node.has("a"))
    assert(Json.serialize(node.get("a")) == """{"b":1}""",
      "only subfield b of a may be materialized")
    // non-object value of a sub-tracked field is materialized in full
    val scalar = Jq.parsePruned("""{"a": [1,2], "z": 0}""", Map("a" -> Some(Set("b"))))
    assert(Json.serialize(scalar.get("a")) == "[1,2]")
  }

  test("pruned parse still rejects malformed content inside skipped fields") {
    val (v, err) = Jq.parsePrunedWithError("""{"keep": 1, "drop": {"bad": }}""",
      Map("keep" -> None))
    assert(v.isNull && err.isObject, "malformed skipped field must still fail the row")
    val (_, err2) = Jq.parsePrunedWithError("""{"keep": 1} extra""", Map("keep" -> None))
    assert(err2.isObject, "trailing garbage must still fail the row")
    // malformed content inside a skipped SUBfield must also fail the row
    val (v3, err3) = Jq.parsePrunedWithError("""{"a": {"b": 1, "bad": }}""",
      Map("a" -> Some(Set("b"))))
    assert(v3.isNull && err3.isObject)
  }
}
