package graft.jq

import org.scalatest.funsuite.AnyFunSuite

/** Engine-level tests: program → serialized outputs.
  * Covers the reference's documented usages (README + JsonQueryUDTFTest.java)
  * and the wider jq surface in SURVEY §2.2. */
class JqEngineSpec extends AnyFunSuite {

  private def run(prog: String, input: String): List[String] =
    Jq.compileCached(prog).applyToText(input).map(Json.serialize).toList

  private def run1(prog: String, input: String = "null"): String = {
    val r = run(prog, input)
    assert(r.length == 1, s"expected 1 output, got $r")
    r.head
  }

  private val TZ =
    """{"region": "Asia", "timezones": [{"name": "Tokyo", "offset": 540}, {"name": "Taipei", "offset": 480}, {"name": "Kamchatka", "offset": 720}]}"""

  // ---- reference README / test cases ----
  test("reference: select offset by name") {
    assert(run(""".timezones[]|select(.name == "Tokyo").offset""", TZ) == List("540"))
  }
  test("reference: object construction with variable binding") {
    assert(run(""".region as $region | .timezones[] | {name: ($region + "/" + .name), offset}""", TZ) ==
      List("""{"name":"Asia/Tokyo","offset":540}""",
           """{"name":"Asia/Taipei","offset":480}""",
           """{"name":"Asia/Kamchatka","offset":720}"""))
  }
  test("reference: corrupt JSON substitute") {
    assert(run("""if $error then "INVALID" else . end""", "\"corrupt \"string") == List("\"INVALID\""))
  }
  test("reference: corrupt JSON skip") {
    assert(run("""if $error then empty else . end""", "\"corrupt \"string") == Nil)
  }
  test("reference: corrupt JSON abort") {
    val e = intercept[JqError](run("""if $error then error($error.message) else . end""", "\"corrupt \"string"))
    assert(e.getMessage.contains("Unrecognized token"))
  }
  test("reference: $error is null on valid input") {
    assert(run("$error", "{}") == List("null"))
  }
  test("reference: null input text → null input value") {
    assert(Jq.compileCached(".").applyToText(null).map(Json.serialize).toList == List("null"))
  }
  test("reference: types literal") {
    assert(run1("""{int:2147483647, bigint:9223372036854775807, float:0.1, boolean:true, string:"string"}""") ==
      """{"int":2147483647,"bigint":9223372036854775807,"float":0.1,"boolean":true,"string":"string"}""")
  }

  // ---- paths ----
  test("identity") { assert(run1(".", "42") == "42") }
  test("field chain") { assert(run1(".a.b.c", """{"a":{"b":{"c":7}}}""") == "7") }
  test("field on null") { assert(run1(".a.b", "null") == "null") }
  test("field missing") { assert(run1(".nope", "{}") == "null") }
  test("field on array errors") {
    intercept[JqError](run(".foo", "[1]"))
  }
  test("optional field on array") { assert(run(".foo?", "[1]") == Nil) }
  test("quoted field") { assert(run1(""".["a b"]""", """{"a b":1}""") == "1") }
  test("dot-string field") { assert(run1("""."a b"""", """{"a b":1}""") == "1") }
  test("array index") { assert(run1(".[1]", "[10,20,30]") == "20") }
  test("negative index") { assert(run1(".[-1]", "[10,20,30]") == "30") }
  test("index out of bounds") { assert(run1(".[9]", "[1]") == "null") }
  test("slice") { assert(run1(".[1:3]", "[0,1,2,3,4]") == "[1,2]") }
  test("slice open ends") {
    assert(run1(".[:2]", "[0,1,2]") == "[0,1]")
    assert(run1(".[1:]", "[0,1,2]") == "[1,2]")
  }
  test("negative slice") { assert(run1(".[-2:]", "[0,1,2,3]") == "[2,3]") }
  test("string slice") { assert(run1(".[1:3]", "\"abcd\"") == "\"bc\"") }
  test("iterate array") { assert(run(".[]", "[1,2]") == List("1", "2")) }
  test("iterate object values") { assert(run(".[]", """{"a":1,"b":2}""") == List("1", "2")) }
  test("iterate scalar errors") { intercept[JqError](run(".[]", "3")) }
  test("iterate optional") { assert(run(".[]?", "3") == Nil) }
  test("recursive descent") {
    assert(run("..", """{"a":[1]}""") == List("""{"a":[1]}""", "[1]", "1"))
  }

  // ---- operators ----
  test("pipe and comma") { assert(run("(1,2) | .+1", "null") == List("2", "3")) }
  test("binop cartesian order") { assert(run("(1,2)+(10,20)", "null") == List("11", "12", "21", "22")) }
  test("arith precedence") { assert(run1("1+2*3") == "7") }
  test("division keeps fractions") { assert(run1("1/2") == "0.5") }
  test("integral division canonicalizes") { assert(run1("4/2") == "2") }
  test("modulo") { assert(run1("7 % 3") == "1"); assert(run1("-7 % 3") == "-1") }
  test("divide by zero errors") { intercept[JqError](run("1/0", "null")) }
  test("string concat") { assert(run1(""""a"+"b"""") == "\"ab\"") }
  test("array concat") { assert(run1("[1]+[2]") == "[1,2]") }
  test("object merge right wins") { assert(run1("""{a:1,b:1}+{b:2}""") == """{"a":1,"b":2}""") }
  test("object deep merge via *") {
    assert(run1("""{a:{x:1,y:1}} * {a:{y:2}}""") == """{"a":{"x":1,"y":2}}""")
  }
  test("null + x") { assert(run1("null + 4") == "4"); assert(run1("4 + null") == "4") }
  test("array subtraction") { assert(run1("[1,2,3,2] - [2]") == "[1,3]") }
  test("string multiply") { assert(run1(""""ab" * 2""") == "\"abab\"") }
  test("string multiply non-positive → null") { assert(run1(""""ab" * 0""") == "null") }
  test("string division splits") { assert(run1(""""a,b,c" / ","""") == """["a","b","c"]""") }
  test("comparisons and total order") {
    assert(run1("1 < 2") == "true")
    assert(run1("null < false") == "true")
    assert(run1("\"a\" < [1]") == "true")
    assert(run1("1 == 1.0") == "true")
    assert(run1("[1,2] < [1,3]") == "true")
    assert(run1("{a:1} == {a:1}") == "true")
  }
  test("and/or/not") {
    assert(run1("true and false") == "false")
    assert(run1("false or true") == "true")
    assert(run1("true | not") == "false")
    assert(run1("null and true") == "false")
  }
  test("alternative //") {
    assert(run1(".a // 42", "{}") == "42")
    assert(run1(".a // 42", """{"a":7}""") == "7")
    assert(run1("(.a | error) // 42", "{}") == "42")
    assert(run("(1,null,2) // 42", "null") == List("1", "2"))
  }
  test("negation") { assert(run1("-(1+2)") == "-3"); assert(run1(". | -.", "5") == "-5") }

  // ---- constructors ----
  test("array construction collects stream") { assert(run1("[.[] | .+1]", "[1,2]") == "[2,3]") }
  test("empty array") { assert(run1("[]") == "[]") }
  test("array of range") { assert(run1("[range(3)]") == "[0,1,2]") }
  test("object shorthand") { assert(run1("{a}", """{"a":5,"b":6}""") == """{"a":5}""") }
  test("object var shorthand") { assert(run1("5 as $x | {$x}") == """{"x":5}""") }
  test("object computed key") { assert(run1("""{("k"+"1"): 2}""") == """{"k1":2}""") }
  test("object multiple values cartesian") {
    assert(run("{a: (1,2)}", "null") == List("""{"a":1}""", """{"a":2}"""))
  }
  test("string interpolation") {
    assert(run1(""" "x=\(1+2)!" """.trim) == "\"x=3!\"")
    assert(run1(""" "\(.a)-\(.b)" """.trim, """{"a":"u","b":2}""") == "\"u-2\"")
  }
  test("nested interpolation") {
    assert(run1(""""outer \("inner \(1+1)")"""") == "\"outer inner 2\"")
  }

  // ---- control flow ----
  test("if elif else") {
    assert(run1("""if . == 1 then "one" elif . == 2 then "two" else "many" end""", "2") == "\"two\"")
  }
  test("if without else passes input") { assert(run1("if false then 1 end", "9") == "9") }
  test("if with stream condition") { assert(run("if (true,false) then 1 else 2 end", "null") == List("1", "2")) }
  test("try catch") { assert(run1("""try error("boom") catch .""") == "\"boom\"") }
  test("try without catch suppresses") { assert(run("""try error("x")""", "null") == Nil) }
  test("try truncates at error") { assert(run("""try (1, error("x"), 3) catch "c"""", "null") == List("1", "\"c\"")) }
  test("postfix ? suppresses") { assert(run("(.a.b)?", "[1]") == Nil) }
  test("error payload non-string") {
    assert(run1("""try error({code: 3}) catch .code""") == "3")
  }

  // ---- variables and destructuring ----
  test("as binding body gets original input") { assert(run1(".a as $x | .b + $x", """{"a":1,"b":2}""") == "3") }
  test("as with stream") { assert(run("(1,2) as $x | $x * 10", "null") == List("10", "20")) }
  test("array destructuring") { assert(run1("[1,2,3] as [$a,$b] | $a+$b") == "3") }
  test("array destructuring missing → null") { assert(run1("[1] as [$a,$b] | $b") == "null") }
  test("object destructuring") { assert(run1("""{a:7,b:8} as {a:$x, b:$y} | $x*$y""") == "56") }
  test("object destructuring shorthand") { assert(run1("""{a:7} as {$a} | $a""") == "7") }
  test("nested destructuring") { assert(run1("""{a:[1,2]} as {a:[$x,$y]} | $x+$y""") == "3") }
  test("$ENV is empty") { assert(run1("$ENV") == "{}") }
  test("undefined var errors") { intercept[JqError](run("$nope", "null")) }

  // ---- reduce / foreach ----
  test("reduce sum") { assert(run1("reduce .[] as $x (0; . + $x)", "[1,2,3,4]") == "10") }
  test("reduce with destructuring") {
    assert(run1("reduce .[] as [$a,$b] (0; . + $a*$b)", "[[1,2],[3,4]]") == "14")
  }
  test("foreach running sum") {
    assert(run("foreach .[] as $x (0; . + $x)", "[1,2,3]") == List("1", "3", "6"))
  }
  test("foreach with extract") {
    assert(run("foreach .[] as $x (0; . + $x; [$x, .])", "[1,2]") == List("[1,1]", "[2,3]"))
  }

  // ---- functions ----
  test("def simple") { assert(run1("def double: . * 2; 5 | double") == "10") }
  test("def with filter arg") { assert(run1("def twice(f): f | f; 3 | twice(. + 1)") == "5") }
  test("def with $ param") { assert(run1("def add($x): . + $x; 10 | add(5)") == "15") }
  test("def recursion") {
    assert(run1("def fact: if . <= 1 then 1 else . * (. - 1 | fact) end; 5 | fact") == "120")
  }
  test("def closure captures") {
    assert(run1("5 as $x | def f: $x + 1; f") == "6")
  }
  test("nested defs shadow") {
    assert(run1("def f: 1; def g: f + 1; def f: 10; g") == "2")
  }

  // ---- generators / laziness ----
  test("range forms") {
    assert(run("range(2;5)", "null") == List("2", "3", "4"))
    assert(run("range(0;10;3)", "null") == List("0", "3", "6", "9"))
    assert(run("range(5;0;-2)", "null") == List("5", "3", "1"))
  }
  test("limit") { assert(run("limit(2; .[])", "[1,2,3,4]") == List("1", "2")) }
  test("limit over infinite repeat") {
    assert(run("[limit(3; repeat(. * 2))]", "1") == List("[2,4,8]"))
  }
  test("first and last") {
    assert(run1("first(.[])", "[7,8]") == "7")
    assert(run1("last(.[])", "[7,8]") == "8")
    assert(run1("first", "[7,8]") == "7")
    assert(run1("last", "[7,8]") == "8")
  }
  test("nth") { assert(run1("nth(1; .[])", "[5,6,7]") == "6") }
  test("until") { assert(run1("until(. > 100; . * 2)", "1") == "128") }
  test("while") { assert(run("[while(. < 10; . * 3)]", "1") == List("[1,3,9]")) }
  test("recurse with filter") {
    assert(run1("[recurse(if . < 4 then . + 1 else empty end)]", "0") == "[0,1,2,3,4]")
  }
  test("recurse default") {
    assert(run1("[recurse] | length", """{"a":[1,2]}""") == "4")
  }

  // ---- core builtins ----
  test("length") {
    assert(run1("length", "[1,2,3]") == "3")
    assert(run1("length", "\"héllo\"") == "5")
    assert(run1("length", """{"a":1}""") == "1")
    assert(run1("length", "null") == "0")
    assert(run1("length", "-7") == "7")
  }
  test("utf8bytelength") { assert(run1("utf8bytelength", "\"héllo\"") == "6") }
  test("keys sorted vs unsorted") {
    assert(run1("keys", """{"b":1,"a":2}""") == """["a","b"]""")
    assert(run1("keys_unsorted", """{"b":1,"a":2}""") == """["b","a"]""")
    assert(run1("keys", "[5,6]") == "[0,1]")
  }
  test("has/in") {
    assert(run1("""has("a")""", """{"a":null}""") == "true")
    assert(run1("has(1)", "[1,2]") == "true")
    assert(run1(""" "a" | in({"a":1}) """.trim) == "true")
  }
  test("contains/inside") {
    assert(run1("""contains("bar")""", "\"foobar\"") == "true")
    assert(run1("""contains(["baz"])""", """["foobar","baz"]""") == "true")
    assert(run1("""contains({a:{b:1}})""", """{"a":{"b":1,"c":2}}""") == "true")
    assert(run1("""inside([1,2,3])""", "[1,3]") == "true")
  }
  test("add") {
    assert(run1("add", "[1,2,3]") == "6")
    assert(run1("add", """["a","b"]""") == "\"ab\"")
    assert(run1("add", "[]") == "null")
  }
  test("any/all") {
    assert(run1("any", "[false,true]") == "true")
    assert(run1("all", "[true,true]") == "true")
    assert(run1("any(. > 2)", "[1,2,3]") == "true")
    assert(run1("all(.[]; . > 0)", "[1,2]") == "true")
  }
  test("math") {
    assert(run1("floor", "3.7") == "3")
    assert(run1("ceil", "3.2") == "4")
    assert(run1("sqrt", "9") == "3")
    assert(run1("fabs", "-2.5") == "2.5")
    assert(run1("pow(2; 10)") == "1024")
    assert(run1("10 | log10") == "1")
    assert(run1("round", "2.5") == "3")
  }
  test("min/max and by-variants") {
    assert(run1("min", "[3,1,2]") == "1")
    assert(run1("max", "[3,1,2]") == "3")
    assert(run1("min", "[]") == "null")
    assert(run1("min_by(.a)", """[{"a":3},{"a":1}]""") == """{"a":1}""")
    assert(run1("max_by(.a)", """[{"a":3},{"a":1}]""") == """{"a":3}""")
  }
  test("sort family") {
    assert(run1("sort", "[3,1,2]") == "[1,2,3]")
    assert(run1("sort", """[null,true,false,"a",[],{},1]""") == """[null,false,true,1,"a",[],{}]""")
    assert(run1("sort_by(.a)", """[{"a":2},{"a":1}]""") == """[{"a":1},{"a":2}]""")
    assert(run1("group_by(.a) | map(length)", """[{"a":1},{"a":2},{"a":1}]""") == "[2,1]")
    assert(run1("unique", "[1,2,1,3,3]") == "[1,2,3]")
    assert(run1("unique_by(length)", """["a","bb","cc","d"]""") == """["a","bb"]""")
  }
  test("reverse") {
    assert(run1("reverse", "[1,2,3]") == "[3,2,1]")
    assert(run1("reverse", "\"abc\"") == "\"cba\"")
  }
  test("flatten") {
    assert(run1("flatten", "[[1,[2]],3]") == "[1,2,3]")
    assert(run1("flatten(1)", "[[1,[2]],3]") == "[1,[2],3]")
  }
  test("join") {
    assert(run1("""join(",")""", """["a","b"]""") == "\"a,b\"")
    assert(run1("""join("-")""", """[1,null,"x"]""") == "\"1--x\"")
  }
  test("split literal and regex") {
    assert(run1("""split(",")""", "\"a,b,c\"") == """["a","b","c"]""")
    assert(run1("""split("\\s+"; null)""", "\"a  b c\"") == """["a","b","c"]""")
    assert(run("""splits(",")""", "\"a,b\"") == List("\"a\"", "\"b\""))
  }
  test("trim and case") {
    assert(run1("""ltrimstr("ab")""", "\"abcd\"") == "\"cd\"")
    assert(run1("""rtrimstr("cd")""", "\"abcd\"") == "\"ab\"")
    assert(run1("""ltrimstr("x")""", "\"abcd\"") == "\"abcd\"")
    assert(run1("ascii_downcase", "\"AbC\"") == "\"abc\"")
    assert(run1("ascii_upcase", "\"AbC\"") == "\"ABC\"")
  }
  test("startswith/endswith") {
    assert(run1("""startswith("ab")""", "\"abcd\"") == "true")
    assert(run1("""endswith("cd")""", "\"abcd\"") == "true")
  }
  test("explode/implode") {
    assert(run1("explode", "\"ab\"") == "[97,98]")
    assert(run1("implode", "[97,98]") == "\"ab\"")
  }
  test("tostring/tonumber/type") {
    assert(run1("tostring", "3") == "\"3\"")
    assert(run1("tostring", "\"s\"") == "\"s\"")
    assert(run1("tostring", "[1]") == "\"[1]\"")
    assert(run1("tonumber", "\"1.5\"") == "1.5")
    assert(run1("type", "[]") == "\"array\"")
  }
  test("tojson/fromjson") {
    assert(run1("tojson", """{"a":1}""") == "\"{\\\"a\\\":1}\"")
    assert(run1("fromjson", "\"[1,2]\"") == "[1,2]")
  }
  test("type filters") {
    assert(run(".[] | numbers", """[1,"a",2,null]""") == List("1", "2"))
    assert(run(".[] | strings", """[1,"a"]""") == List("\"a\""))
    assert(run(".[] | values", """[1,null,2]""") == List("1", "2"))
  }
  test("map/map_values/select") {
    assert(run1("map(. + 1)", "[1,2]") == "[2,3]")
    assert(run1("map_values(. * 10)", """{"a":1,"b":2}""") == """{"a":10,"b":20}""")
    assert(run1("map(select(. > 1))", "[1,2,3]") == "[2,3]")
  }
  test("entries") {
    assert(run1("to_entries", """{"a":1}""") == """[{"key":"a","value":1}]""")
    assert(run1("from_entries", """[{"key":"a","value":1}]""") == """{"a":1}""")
    assert(run1("from_entries", """[{"name":"b","v":2}]""") == """{"b":2}""")
    assert(run1("with_entries(.value += 1)", """{"a":1}""") == """{"a":2}""")
  }
  // jq 1.6: to_entries reads keys_unsorted, so an array has index keys
  test("to_entries and with_entries on non-objects, as jq 1.6") {
    assert(run1("to_entries", "[1,2]") == """[{"key":0,"value":1},{"key":1,"value":2}]""")
    assert(run1("to_entries", "[]") == "[]")
    assert(intercept[JqError](run("to_entries", "null")).getMessage == "null (null) has no keys")
    assert(intercept[JqError](run("to_entries", "\"ab\"")).getMessage == "string (\"ab\") has no keys")
    assert(intercept[JqError](run("with_entries(.)", "[5,6]")).getMessage ==
      "Cannot use number (0) as object key")
    assert(intercept[JqError](run("with_entries(.)", "null")).getMessage == "null (null) has no keys")
    assert(run1("with_entries({key: \"a\", value})", "[5]") == """{"a":5}""")
    assert(run1("with_entries(.)", "[]") == "{}")
  }
  test("transpose") { assert(run1("transpose", "[[1,2],[3,4],[5]]") == "[[1,3,5],[2,4,null]]") }
  test("walk") {
    assert(run1("walk(if type == \"number\" then . + 1 else . end)", "[1,[2]]") == "[2,[3]]")
  }
  test("indices/index/rindex") {
    assert(run1("""indices("a")""", "\"banana\"") == "[1,3,5]")
    assert(run1("indices(2)", "[1,2,3,2]") == "[1,3]")
    assert(run1("indices([1,2])", "[0,1,2,3,1,2]") == "[1,4]")
    assert(run1("""index("n")""", "\"banana\"") == "2")
    assert(run1("""rindex("n")""", "\"banana\"") == "4")
  }

  // ---- path machinery ----
  test("path()") {
    assert(run1("path(.a[0].b)", "null") == """["a",0,"b"]""")
    assert(run("[path(..)]", """{"a":[1]}""").head == """[[],["a"],["a",0]]""")
  }
  test("paths/leaf_paths") {
    assert(run1("[paths]", """{"a":[1]}""") == """[["a"],["a",0]]""")
    assert(run1("[leaf_paths]", """{"a":[1,{"b":2}]}""") == """[["a",0],["a",1,"b"]]""")
    // jq 1.6: leaf_paths is paths(scalars), which drops null and false leaves
    assert(run1("[leaf_paths]", """[1,false,null,"a",{"b":null}]""") == "[[0],[3]]")
  }
  test("getpath/setpath/delpaths") {
    assert(run1("""getpath(["a","b"])""", """{"a":{"b":4}}""") == "4")
    assert(run1("""getpath(["a","x"])""", """{"a":{}}""") == "null")
    assert(run1("""setpath(["a"]; 9)""", """{"a":1,"b":2}""") == """{"a":9,"b":2}""")
    assert(run1("""setpath(["a",1]; 9)""", """{"a":[0,0]}""") == """{"a":[0,9]}""")
    assert(run1("""setpath(["a"]; 9)""", "null") == """{"a":9}""")
    assert(run1("""setpath([2]; 9)""", "null") == "[null,null,9]")
    assert(run1("""delpaths([["a"],["b"]])""", """{"a":1,"b":2,"c":3}""") == """{"c":3}""")
    assert(run1("""delpaths([[0],[2]])""", "[1,2,3]") == "[2]")
  }
  test("del") {
    assert(run1("""del(.a)""", """{"a":1,"b":2}""") == """{"b":2}""")
    assert(run1("""del(.[1])""", "[1,2,3]") == "[1,3]")
    assert(run1("""del(.[] | select(. > 1))""", "[1,2,3]") == "[1]")
  }

  // ---- assignment ----
  test("plain assignment") {
    assert(run1(".a = 5", """{"a":1,"b":2}""") == """{"a":5,"b":2}""")
    assert(run1(".a.b = 1", "{}") == """{"a":{"b":1}}""")
    assert(run1(".[0] = 9", "[1,2]") == "[9,2]")
    assert(run1(".a = .b", """{"b":3}""") == """{"b":3,"a":3}""")
  }
  test("assignment to multiple paths") {
    assert(run1("(.a, .b) = 1", "{}") == """{"a":1,"b":1}""")
    assert(run1(".[] = 0", "[1,2]") == "[0,0]")
  }
  test("update assignment") {
    assert(run1(".a |= . + 1", """{"a":1}""") == """{"a":2}""")
    assert(run1(".[] |= . * 2", "[1,2]") == "[2,4]")
    assert(run1(".a.b |= length", """{"a":{"b":[1,2]}}""") == """{"a":{"b":2}}""")
  }
  test("arithmetic update") {
    assert(run1(".a += 10", """{"a":1}""") == """{"a":11}""")
    assert(run1(".a -= 1", """{"a":1}""") == """{"a":0}""")
    assert(run1(".a *= 3", """{"a":2}""") == """{"a":6}""")
    assert(run1(".a //= 5", """{"a":null}""") == """{"a":5}""")
    assert(run1(".a //= 5", """{"a":7}""") == """{"a":7}""")
  }
  test("assignment rhs sees original input") {
    assert(run1(".a += .b", """{"a":1,"b":10}""") == """{"a":11,"b":10}""")
  }
  test("slice assignment") {
    assert(run1(".[1:3] = [9]", "[0,1,2,3]") == "[0,9,3]")
  }

  // ---- regex ----
  test("test/match") {
    assert(run1("""test("ab+")""", "\"xabbby\"") == "true")
    assert(run1("""test("AB"; "i")""", "\"xaby\"") == "true")
    val m = run1("""match("a(b+)")""", "\"xabbby\"")
    assert(m.contains("\"offset\":1") && m.contains("\"string\":\"abbb\""))
  }
  test("match global") {
    assert(run("""[match("a"; "g")] | length""", "\"banana\"") == List("3"))
  }
  test("capture named groups") {
    assert(run1("""capture("(?<x>[a-z]+)(?<n>[0-9]+)")""", "\"abc123\"") ==
      """{"x":"abc","n":"123"}""")
  }
  test("scan") {
    assert(run("""scan("[0-9]+")""", "\"a1b22c333\"") == List("\"1\"", "\"22\"", "\"333\""))
  }
  test("sub/gsub") {
    assert(run1("""sub("a"; "X")""", "\"banana\"") == "\"bXnana\"")
    assert(run1("""gsub("a"; "X")""", "\"banana\"") == "\"bXnXnX\"")
    assert(run1("""gsub("(?<c>[aeiou])"; "<\(.c)>")""", "\"hi\"") == "\"h<i>\"")
    assert(run1("""gsub("\\s+"; "")""", "\"a b  c\"") == "\"abc\"")
  }

  // ---- formats ----
  test("formats") {
    assert(run1("@text", "[1]") == "\"[1]\"")
    assert(run1("@json", "\"x\"") == "\"\\\"x\\\"\"")
    assert(run1("@csv", """[1,"a,b",null]""") == "\"1,\\\"a,b\\\",\"")
    assert(run1("@tsv", """["a\tb",2]""") == "\"a\\\\tb\\t2\"")
    assert(run1("@html", "\"<a>\"") == "\"&lt;a&gt;\"")
    assert(run1("@uri", "\"a b/c\"") == "\"a%20b%2Fc\"")
    assert(run1("@base64", "\"hi\"") == "\"aGk=\"")
    assert(run1("@base64d", "\"aGk=\"") == "\"hi\"")
    // format strings apply the format to interpolated values only (jq manual)
    assert(run1("""@base64 "v=\(.)"""", "\"hi\"") == "\"v=aGk=\"")
  }

  // ---- dates ----
  test("dates") {
    assert(run1("todate", "0") == "\"1970-01-01T00:00:00Z\"")
    assert(run1("fromdate", "\"1970-01-01T00:01:00Z\"") == "60")
  }

  // ---- misc ----
  test("$__loc__") { assert(run1("$__loc__") == """{"file":"<stdin>","line":1}""") }
  test("tostream") {
    assert(run("tostream", """{"a":[1]}""") ==
      List("""[["a",0],1]""", """[["a",0]]""", """[["a"]]"""))
  }
  test("trailing garbage is corrupt") {
    assert(run("if $error then \"bad\" else \"ok\" end", "1 2") == List("\"bad\""))
  }
  test("comments ignored") { assert(run1("1 # a comment\n + 2") == "3") }
  test("error with no message at top level") {
    val e = intercept[JqError](run("error", "\"oops\""))
    assert(e.getMessage == "oops")
  }
  // ---- label/break ----
  test("label/break truncates stream") {
    assert(run("label $out | 1, 2, break $out, 3", "null") == List("1", "2"))
    assert(run("[label $out | .[] | if . > 2 then break $out else . end]", "[1,2,3,4]") == List("[1,2]"))
  }
  test("break unwinds past try") {
    // try must NOT catch break (it's control flow, not an error)
    assert(run("label $out | try (1, break $out, 2) catch \"caught\"", "null") == List("1"))
  }
  test("limit via label equivalence") {
    assert(run1("[label $l | foreach repeat(. * 2) as $x (0; . + 1; if . > 3 then break $l else $x end)]", "1")
      == "[2,4,8]")
  }

  // ---- streams ----
  test("fromstream inverts tostream") {
    for (j <- Seq("""{"a":[1,{"b":2}],"c":"x"}""", "[1,2,3]", "42", "{}", "[]"))
      assert(run1("fromstream(tostream)", j) == j)
  }
  test("truncate_stream drops path prefix") {
    assert(run("1 | truncate_stream([[0,\"a\"],1], [[0,\"a\"]], [[1]])", "null") ==
      List("""[["a"],1]""", """[["a"]]"""))
  }

  // ---- dates ----
  test("gmtime broken-down time") {
    assert(run1("gmtime", "0") == "[1970,0,1,0,0,0,4,0]")
    assert(run1("gmtime", "86400") == "[1970,0,2,0,0,0,5,1]")
  }
  test("mktime inverts gmtime") {
    assert(run1("gmtime | mktime", "1425599898") == "1425599898")
  }
  test("gmtime keeps fractional seconds; mktime truncates them (jq 1.6)") {
    assert(run1("gmtime", "86400.25") == "[1970,0,2,0,0,0.25,5,1]")
    assert(run1("gmtime | mktime", "86400.25") == "86400")
    assert(run1("gmtime | .[5]", "1425599898.5") == "18.5")
  }
  test("strftime") {
    assert(run1("""strftime("%Y-%m-%dT%H:%M:%SZ")""", "0") == "\"1970-01-01T00:00:00Z\"")
    assert(run1("""gmtime | strftime("%A, %B %d, %Y")""", "1425599898") == "\"Thursday, March 05, 2015\"")
  }
  test("strptime") {
    assert(run1("""strptime("%Y-%m-%dT%H:%M:%SZ") | mktime""", "\"2015-03-05T23:51:47Z\"") == "1425599507")
  }

  // ---- combinations & math ----
  test("combinations") {
    assert(run("combinations", "[[1,2],[3,4]]") == List("[1,3]", "[1,4]", "[2,3]", "[2,4]"))
    assert(run("[combinations(2)] | length", "[0,1]") == List("4"))
  }
  test("extra math builtins") {
    assert(run1("trunc", "-3.7") == "-3")
    assert(run1("cbrt", "27") == "3")
    assert(run1("sin", "0") == "0")
    assert(run1("atan2(1; 1) * 4 == (1 | asin) * 2", "null") == "true")
    assert(run1("isnormal", "1.5") == "true")
    assert(run1("isnormal", "0") == "false")
  }

  test("?// destructuring alternatives") {
    assert(run(""".[] as {a:$a} ?// [$a] | $a""", """[{"a":1},[2]]""") == List("1", "2"))
    assert(run(""".[] as [$a,$b] ?// [$a] | [$a,$b]""", "[[1,2]]") == List("[1,2]"))
    // vars of ALL alternatives are bound; unmatched ones become null
    assert(run(""".[] as {a:$a} ?// [$b] | [$a,$b]""", """[[7]]""") == List("[null,7]"))
  }

  test("uppercase IN / INDEX") {
    assert(run1("""IN("a", "b")""", "\"a\"") == "true")
    assert(run1("""IN("a", "b")""", "\"c\"") == "false")
    assert(run1(""".[] | select(IN(2, 3))""", "[1,2]") == "2")
    assert(run1("""INDEX(.id)""", """[{"id":"x","v":1},{"id":"y","v":2}]""") ==
      """{"x":{"id":"x","v":1},"y":{"id":"y","v":2}}""")
    assert(run1("""INDEX(.[]; .id)""", """[{"id":1}]""") == """{"1":{"id":1}}""")
  }

  test("streams never evaluate one element beyond what is consumed") {
    // jq's laziness contract: limit/first/break must not run the
    // computation of the element after the last one delivered. Each case
    // was a regression when JqStream combinators force-looked ahead.
    assert(run1("""first(1, error("boom"))""") == "1")
    assert(run1("""[limit(1; 1, error("boom"))]""") == "[1]")
    assert(run1("""limit(1; 1, repeat(empty))""") == "1") // must terminate
    assert(run1("""[limit(1; 1, (2 + "a"))]""") == "[1]") // strict-path cell deferred
    assert(run("""label $out | ((1, error("e")) | (., break $out))""", "null") == List("1"))
    assert(run("""try ((1, error("x")) | (., .)) catch "c"""", "null") ==
      List("1", "1", "\"c\""))
    assert(run("""try (. as $x | (1, error("x"))) catch "c"""", "null") ==
      List("1", "\"c\""))
  }

  test("Oniguruma POSIX bracket classes translate inside character classes") {
    assert(run1("""test("^[[:alnum:]]+$")""", "\"ab12\"") == "true")
    assert(run1("""gsub("[[:digit:]]"; "#")""", "\"a1b2\"") == "\"a#b#\"")
    assert(run1("""gsub("[[:^digit:]]"; "_")""", "\"a1b2\"") == "\"_1_2\"")
    assert(run1("""[scan("[[:upper:]]")]""", "\"hello World\"") == """["W"]""")
    assert(run1("""gsub("[[:digit:]-]"; "#")""", "\"a-1\"") == "\"a##\"")
    assert(run1("""gsub("[[:word:]]"; "w")""", "\"a_1!\"") == "\"www!\"")
    // outside a class, [:alpha:] is an ordinary bracket expression
    assert(run1("""test("[:a]")""", "\"a\"") == "true")
    assert(run1("""test("[:a]")""", "\"b\"") == "false")
    // literal ']' in first position must not desync the class tracker
    // (java.util.regex accepts []…] / [^]…] like Oniguruma)
    assert(run1("""gsub("[][:digit:]]"; "#")""", "\"a]1b\"") == "\"a##b\"")
    assert(run1("""gsub("[^][:digit:]]"; "_")""", "\"a]1b\"") == "\"_]1_\"")
    // only the FIRST '^' after '[' is the negation marker: in [^^] the
    // second '^' is a literal and the following ']' CLOSES the class —
    // the tracker must resync so a later [:alpha:] (outside any class)
    // keeps its literal bracket-expression meaning
    assert(run1("""gsub("[^^]"; "#")""", "\"a^b\"") == "\"#^#\"")
    assert(run1("""test("[^^][:alpha:]")""", "\"ba\"") == "true")
    assert(run1("""test("[^^][:alpha:]")""", "\"bz\"") == "false")
    assert(run1("""test("[^^][[:alpha:]]")""", "\"bz\"") == "true")
  }

  test("jq 1.7 additions: abs / toarray / pick / trim trio / capability probes") {
    assert(run1("abs", "-5") == "5")
    assert(run1("abs", "5") == "5")
    assert(run1("abs", "-1.5") == "1.5")
    assert(run1("abs", "0") == "0")
    intercept[Exception](run1("abs", "\"x\"")) // numbers only
    assert(run1("toarray", "1") == "[1]")
    assert(run1("toarray", "[1,2]") == "[1,2]")
    assert(run1("toarray", "null") == "[null]")
    assert(run1("pick(.a, .c.d)", """{"a":1,"b":2,"c":{"d":3,"e":4}}""") ==
      """{"a":1,"c":{"d":3}}""")
    assert(run1("pick(.[1])", "[10,20,30]") == "[null,20]")
    assert(run1("pick(.missing)", """{"a":1}""") == """{"missing":null}""")
    assert(run1("trim", "\"  a b \\t\"") == "\"a b\"")
    assert(run1("ltrim", "\" x \"") == "\"x \"")
    assert(run1("rtrim", "\" x \"") == "\" x\"")
    assert(run1("trim", "\"ab\"") == "\"ab\"")
    intercept[Exception](run1("trim", "5")) // strings only
    assert(run1("have_literal_numbers") == "false") // Json.num canonicalizes
    assert(run1("have_decimal_numbers") == "false")
  }

  test("builtins lists name/arity strings including itself") {
    assert(run1("""builtins | type""", "null") == "\"array\"")
    assert(run1("""[builtins[] | select(. == "length/0" or . == "map/1" or . == "builtins/0")] | length""",
      "null") == "3")
    assert(run1("""builtins | (. == sort)""", "null") == "true") // deterministic order
  }

  test("uriparse decomposes a URI; absent parts null; invalid is a catchable error") {
    assert(run1("""uriparse""",
      "\"https://u:p@example.com:8443/a/b?x=1&y=2#frag\"") ==
      """{"scheme":"https","authority":"u:p@example.com:8443","userinfo":"u:p",""" +
        """"host":"example.com","port":8443,"path":"/a/b","query":"x=1&y=2","fragment":"frag"}""")
    // no port / no query / no fragment read null; path-only URIs too
    assert(run1("""uriparse | [.scheme, .host, .port, .query]""",
      "\"http://example.org/just/path\"") ==
      """["http","example.org",null,null]""")
    assert(run1("""uriparse | [.scheme, .host, .path]""", "\"/relative/only\"") ==
      """[null,null,"/relative/only"]""")
    // invalid URI errors like any jq error — ? catches it
    assert(run1("""try uriparse catch "bad"""", "\"ht tp://x y\"") == "\"bad\"")
    assert(run1("""[.[] | (uriparse | .host)?]""",
      """["https://a.io/x", "ht tp://broken"]""") == """["a.io"]""")
    // non-string input is the standard type error
    assert(run1("""try uriparse catch "type"""", "42") == "\"type\"")
    // it self-reports in builtins
    assert(run1("""[builtins[] | select(. == "uriparse/0")] | length""", "null") == "1")
  }

  test("uppercase GROUP_BY / UNIQUE_BY / ANY / ALL") {
    // builtin.jq: GROUP_BY(f) == group_by(f), UNIQUE_BY(f) == unique_by(f)
    assert(run1("""GROUP_BY(.a)""", """[{"a":1,"b":2},{"a":2,"b":4},{"a":1,"b":3}]""") ==
      """[[{"a":1,"b":2},{"a":1,"b":3}],[{"a":2,"b":4}]]""")
    assert(run1("""UNIQUE_BY(.a)""", """[{"a":1,"b":2},{"a":2,"b":4},{"a":1,"b":3}]""") ==
      """[{"a":1,"b":2},{"a":2,"b":4}]""")
    assert(run1("ANY", "[false,true]") == "true")
    assert(run1("ANY", "[false,false]") == "false")
    assert(run1("ALL", "[true,true]") == "true")
    assert(run1("ALL", "[true,false]") == "false")
  }

  test("complex: group and aggregate") {
    val prog = """group_by(.k) | map({k: .[0].k, n: length, sum: (map(.v) | add)})"""
    val in = """[{"k":"a","v":1},{"k":"b","v":2},{"k":"a","v":3}]"""
    assert(run1(prog, in) == """[{"k":"a","n":2,"sum":4},{"k":"b","n":1,"sum":2}]""")
  }
  // ---- round-2 additions: base32, @sh coverage, C-math stragglers ----
  test("@base32 / @base32d round-trip (RFC 4648)") {
    assert(run1("@base32", "\"hi\"") == "\"NBUQ====\"")
    assert(run1("@base32d", "\"NBUQ====\"") == "\"hi\"")
    assert(run1("@base32", "\"\"") == "\"\"")
    assert(run1("""@base32 | @base32d""", "\"jq rocks base32\"") == "\"jq rocks base32\"")
  }
  test("@sh shell quoting") {
    assert(run1("@sh", "\"a b\"") == """"'a b'"""")
    assert(run1("@sh", """["a b","c'd"]""") == """"'a b' 'c'\\''d'"""")
    assert(run1("@sh", "[1,true]") == "\"1 true\"")
    // jq 1.6 prints null bare
    assert(run1("@sh", "[null,false,\"x\"]") == "\"null false 'x'\"")
    assert(run1("@sh", "null") == "\"null\"")
    // jq 1.6: nested arrays/objects cannot be shell-quoted
    intercept[JqError](run("@sh", """["a",["b"]]"""))
  }

  private def runD(prog: String, input: String = "null"): Double = run1(prog, input).toDouble
  test("significand") {
    assert(run1("significand", "8") == "1")
    assert(run1("significand", "6") == "1.5")
    assert(run1("significand", "-6") == "-1.5")
    assert(run1("significand", "0") == "0")
  }
  test("gamma / lgamma / tgamma (Lanczos)") {
    assert(math.abs(runD("5 | gamma") - math.log(24)) < 1e-12)
    assert(math.abs(runD("5 | lgamma") - math.log(24)) < 1e-12)
    assert(math.abs(runD("5 | tgamma") - 24.0) < 1e-10)
    assert(math.abs(runD("0.5 | tgamma") - math.sqrt(math.Pi)) < 1e-12)
    // pole at 0 → +Infinity (serialized per the documented non-finite rule)
    assert(run1("0 | lgamma") == "\"Infinity\"")
  }
  test("lgamma_r returns [lgamma, sign]") {
    val r = run1("5 | lgamma_r")
    assert(r.endsWith(",1]"))
    assert(math.abs(r.stripPrefix("[").split(",")(0).toDouble - math.log(24)) < 1e-12)
    // gamma(x) < 0 for x in (-1, 0)
    assert(run1("-0.5 | lgamma_r").endsWith(",-1]"))
  }
  test("drem / ldexp / scalb / scalbln") {
    assert(run1("drem(10; 3)") == "1")
    assert(run1("drem(10.5; 3)") == "-1.5")
    assert(run1("ldexp(3; 2)") == "12")
    assert(run1("scalb(3; 2)") == "12")
    assert(run1("scalbln(1.5; 3)") == "12")
  }
  test("frexp / modf") {
    assert(run1("8 | frexp") == "[0.5,4]")
    assert(run1("-3 | frexp") == "[-0.75,2]")
    assert(run1("0 | frexp") == "[0,0]")
    assert(run1("3.25 | modf") == "[0.25,3]")
    assert(run1("-3.25 | modf") == "[-0.25,-3]")
  }
  test("asinh / acosh / atanh / pow10") {
    assert(math.abs(runD("1 | asinh") - 0.881373587019543) < 1e-12)
    assert(math.abs(runD("2 | acosh") - 1.3169578969248166) < 1e-12)
    assert(math.abs(runD("0.5 | atanh") - 0.5493061443340549) < 1e-12)
    assert(run1("2 | pow10") == "100")
  }

  // ---- round-2: lazy // (alternative) semantics ----
  test("// is lazy: first(repeat(1) // 2) terminates") {
    assert(run1("first(repeat(1) // 2)") == "1")
  }
  test("// truncates left stream on error but keeps produced values") {
    assert(run("""[(1, error("x"), 3) // 4]""", "null") == List("[1]"))
    assert(run("""[(false, error("x")) // 4]""", "null") == List("[4]"))
  }

  // ---- jq 1.6 answers that the stream evaluator got wrong ----
  test("round rounds half away from zero") {
    assert(run1("[1.5,-1.5,-0.5,-2.5]|map(round)") == "[2,-2,-1,-3]")
    assert(run1("[2.4,-2.4,0.49999999999999994]|map(round)") == "[2,-2,0]")
  }
  test("string repetition keeps floor(n) copies, at least one") {
    assert(run(""""x" * 1.5, "x" * 2.7, "x" * 0.5, 3 * "ab"""", "null") ==
      List("\"x\"", "\"xx\"", "\"x\"", "\"ababab\""))
    assert(run1(""""x" * 0""") == "null")
  }
  test("an index that is no integer gives null; a slice floors its start and ceils its end") {
    assert(run1("[1,2,3]|.[1.5]") == "null")
    assert(run1("[1,2,3]|[.[1.0], .[-1.0], .[-1.5], .[nan]]") == "[2,3,null,null]")
    assert(run1("[1,2,3]|.[1.7:2.2]") == "[2,3]")
    assert(run1("[1,2,3]|[.[1.7:1.2], .[-1.5:], .[0.9999:2.0001], .[:1.1]]") == "[[2],[2,3],[1,2,3],[1,2]]")
    assert(run1("\"abcde\"|[.[1.7:2.2], .[-1.5:]]") == "[\"bc\",\"de\"]")
    // assignment and deletion take the same slice bounds, and truncate an index
    assert(run("del(.[-1.5]), (.[-1.5] = 9), del(.[1.5]), (.[1.5] = 9)", "[1,2,3]") ==
      List("[1,2]", "[1,2,9]", "[1,3]", "[1,9,3]"))
    assert(run("""(.[1.5:3.5] = ["x"]), del(.[1.5:3.2]), (.[1.2:2.5] |= map(. * 10))""", "[1,2,3,4,5]") ==
      List("""[1,"x",5]""", "[1,5]", "[1,20,30,4,5]"))
  }
  test("a string repeat past the reader's string limit is a catchable error") {
    assert(run1("""try ("x" * 300000000) catch .""") == "\"Repeat string result too long\"")
    assert(run1(s"""try ("ab" * ${Jq.readConstraints.getMaxStringLength / 2 + 1}) catch .""") ==
      "\"Repeat string result too long\"")
    assert(run1(s"""("ab" * ${Jq.readConstraints.getMaxStringLength / 2}) | length""") ==
      Jq.readConstraints.getMaxStringLength.toString)
    assert(run1(""""" * 1e300""") == "\"\"")
  }
  test("contains and inside raise jq 1.6's error on a top-level kind mismatch") {
    assert(run1("""try (1|contains("a")) catch .""") ==
      "\"number (1) and string (\\\"a\\\") cannot have their containment checked\"")
    assert(run1("""try (1|inside("a")) catch .""") ==
      "\"string (\\\"a\\\") and number (1) cannot have their containment checked\"")
    assert(run1("""try (true|contains(false)) catch .""") ==
      "\"boolean (true) and boolean (false) cannot have their containment checked\"")
    assert(run1("""[true|contains(true), (null|contains(null)), (1|contains(1))]""") == "[true,true,true]")
    // below the top level a kind mismatch compares by equality
    assert(run1("""contains({"a":["x"]})""", """{"a":[1,"x"]}""") == "true")
    assert(run1("""contains({"a":1})""", """{"a":"x"}""") == "false")
  }
  test("map and flatten iterate an object's values") {
    assert(run1("map(.+1)", """{"a":1,"b":2}""") == "[2,3]")
    assert(run1("flatten", """{"a":[1],"b":[[2]]}""") == "[1,2]")
    assert(run1("flatten(1)", """{"a":[1],"b":[[2]]}""") == "[1,[2]]")
    assert(run1("[map(.), flatten]", "{}") == "[[],[]]")
    assert(run1("try map(.) catch .") == "\"Cannot iterate over null (null)\"")
    assert(run1("try flatten catch .", "\"abc\"") == "\"Cannot iterate over string (\\\"abc\\\")\"")
  }
  test("interpolation: the last part is the outer loop and runs first") {
    assert(run(""""\(1,2) \(3,4)"""", "null") == List("\"1 3\"", "\"2 3\"", "\"1 4\"", "\"2 4\""))
    assert(run1("""try "\(error("a"))\(error("b"))" catch .""") == "\"b\"")
  }

  // ---- the push evaluator stops generators and keeps the stack flat ----
  test("limit(n) runs its generator for exactly n outputs") {
    assert(run1("""[limit(2; 1, 2, error("x"))]""") == "[1,2]")
    assert(run1("""[limit(3; 0, 1, 2, error("x"))]""") == "[0,1,2]")
    assert(run1("""[limit(2; first(1, 2), 3, error("x"))]""") == "[1,3]")
  }
  test("first does not look ahead into a pipe's source") {
    assert(run1("""first(1, error("x"))""") == "1")
    assert(run1("""first((1, error("x")) | (., .))""") == "1")
  }
  test("first stops a select at its first match") {
    assert(run1("""first((0, 1, 2, 3, 4, error("x")) | select(. % 5 == 4))""") == "4")
  }
  test("jq_string's first output ends the row") {
    val first = Jq.compile("""1, error("x")""").firstUtf8(org.apache.spark.unsafe.types.UTF8String.fromString("null"))
    assert(Json.serialize(first) == "1")
  }
  test("an error downstream of try or // is not caught by them") {
    assert(run1("""try ((try (1, 2) catch "c") | error) catch "outer: \(.)"""") == "\"outer: 1\"")
    assert(run1("""try (((1, 2) // 3) | error) catch "outer: \(.)"""") == "\"outer: 1\"")
    assert(run1("""try ([.[]?] | (.[0]? // 1) | error) catch "outer: \(.)"""") == "\"outer: 1\"")
  }
  test("a binding is its own in a body re-entered through a filter argument") {
    assert(run1("""[def g(f): f | f; 1 | g((. + 1) as $x | ($x, $x * 10))]""") == "[3,30,21,210]")
  }
  test("long runs of empty outputs do not grow the stack") {
    assert(run1("[range(200000) | select(. == 199999)]") == "[199999]")
  }

  /** Runs `body` on a new thread with the JVM's default stack, as Spark
    * task threads have. */
  private def onDefaultStack[A](body: => A): A = {
    var result: Either[Throwable, A] = null
    val t = new Thread(() => result = try Right(body) catch { case e: Throwable => Left(e) })
    t.start()
    t.join()
    result.fold(throw _, identity)
  }
  test("loops and tail recursion run on a default-size stack") {
    onDefaultStack {
      assert(run1("def f: if . > 0 then . - 1 | f else . end; 300 | f") == "0")
      assert(run1("0 | until(. >= 1000; . + 1)") == "1000")
      assert(run1("[limit(1000000; repeat(1))] | length") == "1000000")
      assert(run1("[limit(1000000; 0 | recurse(. + 1))] | length") == "1000000")
      assert(run1("[range(1000000)] | length") == "1000000")
      assert(run1("[0 | while(. < 100000; . + 1)] | length") == "100000")
      assert(run1("reduce range(1000000) as $i (0; . + $i)") == "499999500000")
      assert(run1("[foreach range(100000) as $i (0; . + 1)] | length") == "100000")
    }
  }
  test(s"recursion past ${Compiler.MaxDepth} calls, or past the stack, raises a catchable error") {
    onDefaultStack {
      val deep = Compiler.MaxDepth - 10
      assert(run1(s"def f: if . > 0 then . - 1 | f else . end; $deep | f") == "0")
      assert(run1("def f: if . > 0 then [(. - 1 | f), .] | .[0] + 1 else 0 end; 200 | f") == "200")
      assert(run1("def f(g): if . > 0 then {a: (. - 1 | f(g))} | .a else g end; 200 | f(.)") == "0")
      // a body heavy enough to exhaust the stack before the cap
      assert(run1("""try (def f(g): if . > 0 then {a: (. - 1 | f(g))} | .a else g end; 100000 | f(.)) catch .""") ==
        "\"recursion depth exceeded\"")
      val e = intercept[JqError](run1("def f: . + 1 | f; 0 | f"))
      assert(e.getMessage == "recursion depth exceeded")
      assert(run1("""try (def f: . + 1 | f; 0 | f) catch .""") == "\"recursion depth exceeded\"")
      assert(run1("""try ([limit(5000; 1 | repeat(., .))] | length) catch .""") == "\"recursion depth exceeded\"")
      // the depth is the current call depth: a caught overflow leaves none behind
      assert(run1("def f: if . > 0 then . - 1 | f else . end; 900 | f") == "0")
    }
  }

  test("a Java failure inside a builtin is a JqError that try catches") {
    for (p <- Seq("\"{\" | fromjson", "\"a\" | test(\"(\")", "\"a\" | match(\"[\")",
                  "\"a\" | [splits(\"(\")]", "\"a\" | sub(\"(\"; \"x\")",
                  "\"a\" | gsub(\"(\"; \"x\")", "\"@@@\" | @base64d"))
      assert(run1(s"try ($p) catch \"caught\"") == "\"caught\"", p)
    // jq 1.6's wordings
    assert(intercept[JqError](run1("\"nope\" | fromjson")).getMessage.endsWith(" (while parsing 'nope')"))
    assert(intercept[JqError](run1("\"a\" | test(\"(\")")).getMessage.startsWith("Regex failure: "))
    assert(intercept[JqError](run1("\"@@@\" | @base64d")).getMessage ==
      "string (\"@@@\") is not valid base64 data")
    assert(intercept[JqError](run1("\"a\" | @base64d")).getMessage ==
      "string (\"a\") trailing base64 byte found")
  }
  test("implode writes U+FFFD for a number that is no Unicode scalar value") {
    assert(run1("[1114112] | implode") == "\"\uFFFD\"")
    assert(run1("[-1, 55296, 97] | implode") == "\"\uFFFD\uFFFDa\"")
  }
  test("paths(f) emits a path once per truthy output of f") {
    assert(run1("[1,[2]] | [paths(..)] | length") == "4")
    assert(run1("[[1]] | [paths(..)]") == "[[0],[0],[0,0]]")
    assert(run1("[[1]] | [paths(false, 1)]") == "[[0],[0,0]]")
  }
  test("@uri keeps !*'() and @html writes &apos;") {
    assert(run1("\"a!*()'b\" | @uri") == "\"a!*()'b\"")
    assert(run1("\"<'>\" | @html") == "\"&lt;&apos;&gt;\"")
  }
}
