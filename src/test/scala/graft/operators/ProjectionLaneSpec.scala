package graft.operators

import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.jq.{Jq, Projection}
import graft.jq.Utf8Corpus._

/** The path-projection lane of `jq()` ([[Projection]]): which programs take
  * it, and a differential against the node path (`CompiledJq.runUtf8` and
  * the marshaller) that must find no difference in rows, values or errors
  * and their wording, on every eligible shape and marshal type, over the
  * row reader's corpus and its seeded generator and mutator, in all three
  * placements of a row's bytes. */
class ProjectionLaneSpec extends AnyFunSuite {

  // ---- eligibility ----

  private val inLane = Seq(
    "jq_single_int" -> ".k",
    "jq_lateral_view" -> "{k}",
    "jq_error_skip" -> "if $error then empty else {k: .k} end",
    "jq_error_substitute" -> "if $error then {k: -1} else {k: .k} end",
    "jq_events_pipeline (jq)" -> "{k}",
    "tiny_rows" -> "if $error then empty else .k end",
    "a two-level path" -> ".a.b",
    "an object of paths" -> """{x: .a, y: .b.c, z, "é": ."é"}""",
    "a constant guard" -> """if $error then "bad", null, [1, {a: -2.5}] else .a.b end""")

  private val notInLane = Seq(
    "jq_multi_col" -> "{k, d: (.k*2), s: (.k|tostring)}",
    "jq_array_iterate" -> ".k, .k+1, .k+2",
    "jq_single_struct" -> "{k, d: (.k * 3)}",
    "jq_types_all" -> ("{i: .k, b: (.k * 1000000000), f: (.k / 4), bo: (.k > 50), " +
      "s: (.k | tostring), arr: [.k, .k + 1], m: {v: .k}, st: {q: (.k + 7)}}"),
    "jq_builtins_text" -> """{up20: (.text | ascii_upcase | .[0:20]),
      n_words: (.text | split(" ") | map(select(length > 0)) | length)}""",
    "jq_extract_all" -> ".k, (.k*2)",
    "jq_dates" -> "{iso: (.t | todate), hour: (.t | gmtime | .[3])}",
    "jq_outer_lateral" -> "if .k > 90 then {k} else empty end",
    "jq_events_pipeline (jq_string)" -> "\"n=\\(.n),sum=\\(.sum_k)\"",
    "jq_wide_extract, wide_docs" -> "{lang2: (.lang + .lang), half: (.n / 2 | floor)}",
    "jq_regex_text" -> ("""{vowelless: (.t | gsub("[aeiou]"; "_") | .[0:40]), """ +
      """n_numbers: (.t | [match("[0-9]+"; "g")] | length)}"""),
    "nested_explode" -> ("(keys|length) as $nk | .id as $id | " +
      "(.attrs|to_entries|map(\"\\(.key)=\\(.value)\")|join(\",\")) as $a | " +
      ".items[] | select(.qty > 0) | {order: $id, nk: $nk, sku, line: (.qty*.price), " +
      "tags: (.tags|map(ascii_upcase)), meta: {attrs: $a, n: (.tags|length)}}"),
    "the input" -> ".",
    "an optional path" -> ".a?",
    "a three-level path" -> ".a.b.c",
    "an index" -> ".[0]",
    "a bracketed key" -> """.["a"]""",
    "a computed key" -> "{(.x): .a}",
    "a variable key" -> "{$__loc__}",
    "a repeated key" -> "{a: .x, a: .y}",
    "a guard that reads the input" -> "if $error then .k else .k end",
    "a guard that raises" -> """if $error then error("x") else .k end""",
    "a guard that fails to evaluate" -> """if $error then -"x" else .k end""",
    "a guard with no else" -> "if $error then empty end",
    "a test of the input" -> "if .k then empty else .k end")

  test("the registry's path projections and tiny_rows' program take the lane; the rest do not") {
    for ((name, p) <- inLane) assert(Jq.compile(p).projection != null, s"$name: $p")
    for ((name, p) <- notInLane) assert(Jq.compile(p).projection == null, s"$name: $p")
  }

  // ---- the differential ----

  private val types = Seq("int", "bigint", "float", "double", "boolean", "string",
    "array<int>", "map<string,int>", "struct<b:int,k:string>")

  /** Every eligible shape in every marshal type: (program, type arguments). */
  private val cases: Seq[(String, Seq[String])] = types.flatMap { t =>
    Seq(
      ".k" -> Seq(t), ".a.b" -> Seq(t), """."é"""" -> Seq(t),
      ".a" -> Seq(s"b:$t", s"k:$t"), // the NAME:TYPE form reads fields of the one value
      "{k, b: .a.b, z: .z.k}" -> Seq(s"k:$t", s"b:$t", s"x:$t"),
      "{k, b: .a.b}" -> Seq(t), // one column of the whole object
      "if $error then empty else .k end" -> Seq(t),
      "if $error then empty else {k: .k} end" -> Seq(s"k:$t"),
      "if $error then {k: -1} else {k: .k, b: .a.b} end" -> Seq(s"k:$t", s"b:$t"),
      """if $error then "bad", 7, null, {b: [1]} else .a.b end""" -> Seq(t))
  }

  private val generators = cases.map { case (p, ts) =>
    JsonQueryGenerator(BoundReference(0, StringType, nullable = true), p, ts)
  }
  private val toScala = generators.map(g => CatalystTypeConverters.createToScalaConverter(g.elementSchema))

  // what the lane made of each row, over all cases
  private val made = new Array[Long](3)

  private def outcome(g: Int, rows: => IterableOnce[InternalRow]): Either[String, List[Any]] =
    try Right(rows.iterator.map(toScala(g)).toList)
    catch { case e: RuntimeException => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  /** Every case on `json`: `jq()`'s rows are the node path's. */
  private def agree(json: UTF8String, what: => String): Unit =
    for (g <- generators.indices) {
      val gen = generators(g)
      val c = Jq.compileCached(gen.program)
      made(c.project(json, new Array(c.projection.slots))) += 1
      val lane = outcome(g, gen.eval(InternalRow(json)))
      val nodes = outcome(g, gen.evalNodes(json))
      if (lane != nodes) fail(s"'${gen.program}' ${gen.typeArgs.mkString(",")} on $what:\n  $lane\n  $nodes")
    }

  test("every case gives the node path's rows and errors on the corpus, in three placements") {
    java.util.Arrays.fill(made, 0L)
    for (raw <- corpus) placements(raw)((where, json) => agree(json, s"$where: ${hex(raw)}"))
    agree(null, "a null value")
    info(s"${made(Projection.Read)} rows read, ${made(Projection.Corrupt)} taken by the guard, " +
      s"${made(Projection.Fallback)} left to the node path")
    assert(made.forall(_ > 1000))
  }

  test("every case gives the node path's rows and errors on 20k generated and mutated rows") {
    java.util.Arrays.fill(made, 0L)
    val r = new SplittableRandom(20261020L)
    for (n <- 0 until 20000) {
      val raw = fuzzInput(r)
      placed(raw, n % Placements.size)(json => agree(json, s"${Placements(n % Placements.size)}: ${hex(raw)}"))
    }
    info(s"${made(Projection.Read)} rows read, ${made(Projection.Corrupt)} taken by the guard, " +
      s"${made(Projection.Fallback)} left to the node path")
    assert(made.forall(_ > 10000))
  }

  test("rows the lane leaves to the node path") {
    def code(program: String, raw: Array[Byte]): Int = {
      val c = Jq.compile(program)
      c.project(UTF8String.fromBytes(raw), new Array(c.projection.slots))
    }
    val guarded = "if $error then empty else .k end"
    for (p <- Seq(".k", guarded)) {
      // not an object
      for (root <- Seq("[1]", "5", "\"s\"", "null", "true", "", " ", "[1] x"))
        assert(code(p, b(root)) == Projection.Fallback, s"$p on '$root'")
      // a repeated kept key; a repeated skipped one is read
      assert(code(p, b("""{"k": 1, "k": 2}""")) == Projection.Fallback)
      assert(code(p, b("""{"k": 1, "x": 2, "x": 3}""")) == Projection.Read)
      // refused unworded: handed to Jackson
      assert(code(p, b("""{"k": 01}""")) == Projection.Fallback)
      assert(code(p, b("""{"k": 1, "d": 1.} x""")) == Projection.Fallback)
    }
    // a worded refusal: the guard takes it on valid UTF-8 only; an unguarded program never
    val invalid = b("""{"drop": """") ++ bytes(0xC3) ++ b("""", "k": 1} x""")
    val valid = b("""{"drop": "é", "k": 1} x""")
    assert(code(guarded, valid) == Projection.Corrupt)
    assert(code(guarded, invalid) == Projection.Fallback)
    assert(code(".k", valid) == Projection.Fallback)
    assert(code(guarded, b("""{"k": 1}x""")) == Projection.Corrupt)
    assert(code(".k", b("""{"k": 1}x""")) == Projection.Fallback)
    // .a.b on a non-object .a is read, but the path raises, so the row runs on the node path
    val c = Jq.compile(".a.b")
    val slots = new Array[com.fasterxml.jackson.databind.JsonNode](c.projection.slots)
    assert(c.project(UTF8String.fromString("""{"a": 5}"""), slots) == Projection.Read)
    assert(c.projection.value(slots) == null)
    val gen = JsonQueryGenerator(BoundReference(0, StringType, nullable = true), ".a.b", Seq("int"))
    val e = intercept[RuntimeException](gen.eval(InternalRow(UTF8String.fromString("""{"a": 5}"""))))
    assert(e.getMessage == """jq returned an error "Cannot index number with "b"" from input: {"a": 5}""")
    for (raw <- Seq(invalid, valid, b("""{"a": 5}"""), b("""{"k": 1, "k": 2}""")))
      placements(raw)((where, json) => agree(json, s"$where: ${hex(raw)}"))
  }
}
