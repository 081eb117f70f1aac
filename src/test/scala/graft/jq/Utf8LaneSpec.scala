package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import Utf8Corpus._

/** Differential spec for the UTF-8 lane: [[Utf8Json]] either reads a value
  * to exactly the node the `String` lane builds from its `toString` — same
  * node classes, field order and chars — with `$error` null, or words its
  * refusal as exactly the `$error` the `String` lane binds (message, class
  * and input), or refuses it unworded for the `String` lane to parse; on
  * the full and on pruned footprints, wherever the bytes sit (a whole
  * array, a slice at a non-zero offset, off-heap memory). And
  * `CompiledJq.applyToUtf8` gives what `applyToText` gives on every value. */
class Utf8LaneSpec extends AnyFunSuite {

  private def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private val needs: Seq[Option[Footprint.Fields]] = Seq(
    None, Some(Map.empty), Some(Map("k" -> None)),
    Some(Map("a" -> Some(Set("b")), "k" -> None)))

  /** The node spelled out: node classes, field order, every char. */
  private def shape(n: JsonNode): String = {
    val sb = new java.lang.StringBuilder
    def chars(s: String): Unit = {
      sb.append('"')
      for (c <- s)
        if (c >= ' ' && c <= '~' && c != '"' && c != '\\') sb.append(c)
        else sb.append(f"\\u${c.toInt}%04x")
      sb.append('"')
    }
    // one frame per level: the spec nests to the parser's depth limit
    def spell(n: JsonNode): Unit =
      if (n.isObject) {
        sb.append('{')
        val it = n.properties().iterator()
        while (it.hasNext) {
          val e = it.next(); chars(e.getKey); sb.append(':'); spell(e.getValue)
          if (it.hasNext) sb.append(',')
        }
        sb.append('}')
      } else if (n.isArray) {
        sb.append('[')
        var k = 0
        while (k < n.size) { if (k > 0) sb.append(','); spell(n.get(k)); k += 1 }
        sb.append(']')
      } else if (n.isTextual) chars(n.textValue)
      else if (n.isNumber) sb.append(n.getClass.getSimpleName).append('(').append(n.numberValue).append(')')
      else sb.append(n.getClass.getSimpleName).append('(').append(n).append(')')
    spell(n)
    sb.toString
  }

  private val readers = (needs ++ fuzzNeeds).distinct.map(n => n -> new Utf8Json(n, Jq.readConstraints)).toMap

  // refusals the reader worded, and those it left to the String lane's Jackson
  private var worded, jacksonWorded = 0L

  /** What the reader makes of `json` under `need`: Right(the node, spelled
    * out), Left(true) when it words a refusal, Left(false) when it leaves
    * the refusal to the String lane. An accepted value must be the String
    * lane's, no `$error`; a worded `$error` must be the String lane's,
    * field for field. */
  private def outcome(json: UTF8String, need: Option[Footprint.Fields], what: => String): Either[Boolean, String] = {
    val r = readers.getOrElse(need, new Utf8Json(need, Jq.readConstraints))
    val text = json.toString
    try Option(r.read(json)) match {
      case Some(got) =>
        val (v, err) = Jq.parseTextWithError(text, need)
        check(err.isNull, s"accepted what the String lane rejects ($what, footprint $need): $err")
        check(shape(got) == shape(v), s"node mismatch ($what, footprint $need)")
        Right(shape(got))
      case None =>
        if (!Jq.parseTextWithError(text, need)._2.isNull) jacksonWorded += 1
        Left(false)
    } catch {
      case m: Utf8Json.Malformed if json.isValid =>
        val (message, className) = m.wording(text, json.numBytes)
        val mine = Json.serialize(Jq.errorObject(message, className, text))
        val jackson = Json.serialize(Jq.parseTextWithError(text, need)._2)
        check(mine == jackson, s"worded $$error differs ($what, footprint $need):\n  $mine\n  $jackson")
        worded += 1
        Left(true)
      case _: Utf8Json.Malformed =>
        if (!Jq.parseTextWithError(text, need)._2.isNull) jacksonWorded += 1
        Left(false)
    }
  }

  /** The node `json` reads to under `need`, spelled out; None when the
    * reader refuses it, worded or not (see [[outcome]]). */
  private def read(json: UTF8String, need: Option[Footprint.Fields], what: => String = ""): Option[String] =
    outcome(json, need, what).toOption

  private def read(raw: Array[Byte], need: Option[Footprint.Fields]): Option[String] =
    read(UTF8String.fromBytes(raw), need, hex(raw))

  private def read(text: String, need: Option[Footprint.Fields]): Option[String] = read(b(text), need)

  test("the byte lane parses to the String lane's input and $error on every input and footprint") {
    var accepted = 0
    for (raw <- corpus; need <- needs) placements(raw) { (where, json) =>
      if (read(json, need, s"$where: ${hex(raw)}").isDefined) accepted += 1
    }
    assert(accepted > corpus.size) // most well-formed inputs are read, on all placements
  }

  test("the reader words corrupt rows as the String lane does, tiny_rows' garbage among them") {
    val before = worded
    for (raw <- corrupt; need <- needs) placements(raw) { (where, json) => outcome(json, need, s"$where: ${hex(raw)}") }
    info(s"${worded - before} refusals worded by the reader")
    assert(worded - before > corrupt.size * needs.size * 2)
    // tiny_rows' five forms never reach Jackson, on any footprint or placement
    for (g <- tinyGarbage; k <- Seq("7", "-12", "999"); need <- needs)
      placements(b(s"""{"k": $k}$g""")) { (where, json) =>
        assert(outcome(json, need, s"$where $k$g") == Left(true), s"'$g' after {\"k\": $k} ($where, $need)")
      }
  }

  test("numbers: IntNode in int range, LongNode to 18 digits, longer integers refused, doubles") {
    def node(text: String) = read(text, None)
    assert(node("2147483647").contains("IntNode(2147483647)"))
    assert(node("-2147483648").contains("IntNode(-2147483648)"))
    assert(node("2147483648").contains("LongNode(2147483648)"))
    assert(node("-2147483649").contains("LongNode(-2147483649)"))
    assert(node("999999999999999999").contains("LongNode(999999999999999999)"))
    assert(node("-0").isDefined)
    assert(node("[-0, 0]").isDefined)
    assert(node("1234567890123456789").isEmpty)
    assert(node("-1000000000000000000").isEmpty)
    assert(node("""{"k": 1, "big": 12345678901234567890}""").isEmpty)
    assert(node("1e400").contains("DoubleNode(Infinity)"))
    for (d <- Seq("-0.0", "1E+2", "0.1e-5", "2.5", "-1e-400", "123456789.123456789e3"))
      assert(node(d).isDefined, d)
    for (bad <- Seq("01", "-", "1.", ".5", "1e", "1e+", "+1", "-01", "1.e5", "0x10", "NaN", "Infinity", "[1,]"))
      assert(node(bad).isEmpty, bad)
    // a number too long for the parser is refused even where it is skipped
    val long = "1" + "0" * Jq.readConstraints.getMaxNumberLength + ".5"
    assert(read(s"""{"k": 1, "drop": $long}""", Some(Map("k" -> None))).isEmpty)
  }

  test("strings: escapes, a lone surrogate, raw control chars, invalid UTF-8 kept and skipped") {
    assert(read("\"\\ud800\"", None).contains("\"\\ud800\""))
    assert(read("\"\\ud83d\\ude00 \\u00E9\\n\\t\\\"\\\\\\/\\b\\f\\r\"", None).isDefined)
    assert(read("[\"\\x\"]", None).isEmpty)
    assert(read("[\"\\u12g4\"]", None).isEmpty)
    assert(read("{\"k\": 1, \"drop\": \"\\q\"}", Some(Map("k" -> None))).isEmpty) // skipped, still checked
    assert(read("\"a\u0000\u0001\u001f\tb\"", None).contains("\"a\\u0000\\u0001\\u001f\\u0009b\""))
    for (bad <- Seq(bytes(0x80), bytes(0xC3), bytes(0xC0, 0x80), bytes(0xED, 0xA0, 0x80), bytes(0xFF))) {
      // kept: refused, so the String lane decodes it
      assert(read(b("""{"k": "a""") ++ bad ++ b(""""}"""), None).isEmpty, hex(bad))
      assert(read(b("""{"k": "a""") ++ bad ++ b(""""}"""), Some(Map("k" -> None))).isEmpty, hex(bad))
      // skipped: opaque — toString makes it U+FFFD, which the String lane accepts
      assert(read(b("""{"drop": "a""") ++ bad ++ b("""", "k": 1}"""), Some(Map("k" -> None)))
        .contains("""{"k":IntNode(1)}"""), hex(bad))
      assert(read(b("""{"k": 1, "drop": {"x": ["a""") ++ bad ++ b(""""]}}"""), Some(Map("k" -> None)))
        .isDefined, hex(bad))
    }
    // a byte ≥ 0x80 outside a string
    assert(read(b("[1,") ++ bytes(0xC3, 0xA9) ++ b("]"), None).isEmpty)
  }

  test("keys: non-ASCII, escaped, duplicate, and a footprint name with no UTF-8 form") {
    assert(read("""{"é": 1, "k": 2}""", None).contains("{\"\\u00e9\":IntNode(1),\"k\":IntNode(2)}"))
    assert(read("""{"é": 1, "k": 2}""", Some(Map("é" -> None))).contains("{\"\\u00e9\":IntNode(1)}"))
    assert(read("{\"\\u006b\": 5, \"x\": 1}", Some(Map("k" -> None))).contains("""{"k":IntNode(5)}"""))
    assert(read("{\"\\u006B\": 5}", None).contains("""{"k":IntNode(5)}"""))
    assert(read(b("""{"k": 1, """") ++ bytes(0xC3) ++ b("""": 2}"""), Some(Map("k" -> None))).isEmpty)
    // the last value, at the first key's position
    for (need <- Seq(None, Some(Map("k" -> None, "a" -> None))))
      assert(read("""{"k": 1, "a": 2, "k": 3}""", need).contains("""{"k":IntNode(3),"a":IntNode(2)}"""))
    assert(read("""{"a": {"b": 1, "c": 2, "b": 3}}""", Some(Map("a" -> Some(Set("b")))))
      .contains("""{"a":{"b":IntNode(3)}}"""))
    // "\ud800".getBytes(UTF_8) is "?": a plain "?" key must not match it
    val surrogate: Option[Footprint.Fields] = Some(Map("\ud800" -> None))
    assert(read("""{"?": 1}""", surrogate).contains("{}"))
    assert(read("{\"\\ud800\": 1}", surrogate).contains("{\"\\ud800\":IntNode(1)}"))
  }

  test("nesting to the parser's depth limit is read, past it refused; BOM, empty and blank input") {
    val max = Jq.readConstraints.getMaxNestingDepth
    for (need <- needs) {
      assert(read("[" * max + "]" * max, need).isDefined)
      assert(read("[" * (max + 1) + "]" * (max + 1), need).isEmpty)
      assert(read("""{"a":""" * max + "1" + "}" * max, need).isDefined)
      assert(read("""{"z":""" * (max + 1) + "1" + "}" * (max + 1), need).isEmpty) // skipped, still counted
      assert(read(bytes(0xEF, 0xBB, 0xBF) ++ b("""{"k": 1}"""), need).isEmpty)
      assert(read("", need).contains("NullNode(null)"))
      assert(read(" \r\n\t", need).contains("NullNode(null)"))
      assert(read("\u000b1", need).isEmpty)
    }
  }

  test("a refusal creates no stack trace") {
    assert(Utf8Json.Refused.getStackTrace.isEmpty)
    assert(new Utf8Json(None, Jq.readConstraints).read(UTF8String.fromString("{\"k\": 1e")) == null)
    val m = intercept[Utf8Json.Malformed](new Utf8Json(None, Jq.readConstraints).read(UTF8String.fromString("{")))
    assert(m.getStackTrace.isEmpty)
  }

  // every byte pair, and 3- and 4-byte sequences with edge continuation
  // bytes, inside a kept and a skipped string at every 8-byte alignment
  test("kept strings are read iff well-formed UTF-8; skipped always") {
    val edges = Seq(0x00, 0x41, 0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0, 0xFF)
    val tails: Seq[Seq[Int]] =
      ((0 until 256).flatMap(x => (0 until 256).map(y => Seq(x, y))) ++
        (0xC0 to 0xFF).flatMap(x => for (y <- edges; z <- edges) yield Seq(x, y, z)) ++
        (0xF0 to 0xF7).flatMap(x => for (y <- edges; z <- edges; w <- edges) yield Seq(x, y, z, w)))
        .filterNot(t => t.contains('"'.toInt) || t.contains('\\'.toInt))
    val keepK: Option[Footprint.Fields] = Some(Map("k" -> None))
    val before = worded
    for (pre <- Seq(0, 1, 3, 7, 8, 9); post <- Seq(0, 1, 8); tail <- tails) {
      val text = b("a" * pre) ++ tail.map(_.toByte) ++ b("b" * post)
      val valid = UTF8String.fromBytes(tail.map(_.toByte).toArray).isValid
      val kept = b("[\"") ++ text ++ b("\"]")
      check(read(kept, None).isDefined == valid, hex(kept))
      check(read(b("""{"drop": """") ++ text ++ b("""", "k": 1}"""), keepK).isDefined, hex(text))
      // an error after the string is worded, its column counted in chars, iff the row is valid UTF-8
      if (pre % 7 == 0 && post == 0) {
        val late = UTF8String.fromBytes(kept.dropRight(1) ++ b(" x]"))
        check(outcome(late, None, hex(kept)) == Left(valid), hex(kept))
        val skipped = b("""{"drop": """") ++ text ++ b("""",""" + "\n" + """"k": 1 x}""")
        check(outcome(UTF8String.fromBytes(skipped), keepK, hex(text)) == Left(valid), hex(text))
      }
    }
    info(s"${worded - before} refusals worded by the reader")
  }

  // a misread offset that still parses cannot hide behind a refusal
  test("a slice parses its own bytes, not its neighbours'") {
    val first = b("""{"k": "é"}""")
    val second = b("""{"k": "ü"}""")
    val json = UTF8String.fromBytes(first ++ second, first.length, second.length)
    assert(Json.serialize(new Utf8Json(None, Jq.readConstraints).read(json)) == """{"k":"ü"}""")
    assert(Jq.compile(".k").applyToUtf8(json).map(Json.serialize).toList == List("\"ü\""))
  }

  test("a null value is a null input with no $error on both lanes") {
    assert(Jq.compile("[., $error]").applyToUtf8(null).map(Json.serialize).toList == List("[null,null]"))
    assert(Jq.compile("[., $error]").applyToText(null).map(Json.serialize).toList == List("[null,null]"))
  }

  test("jq programs give the same outputs on applyToUtf8 and applyToText") {
    val programs = Seq("[., $error]", "{k, e: $error}", "if $error then empty else .k end",
      ".a.b", "if $error then $error.message else (.k | tostring) end", ".k + 1")
    for (p <- programs; raw <- corpus) {
      val c = Jq.compile(p)
      val json = UTF8String.fromBytes(raw)
      def run(it: => Iterator[JsonNode]): Either[String, List[String]] =
        try Right(it.map(Json.serialize).toList) catch { case e: JqError => Left(e.getMessage) }
      assert(run(c.applyToUtf8(json)) == run(c.applyToText(json.toString)), s"program '$p'")
    }
  }

  // Jackson's own byte parser answers differently from the String lane on
  // these inputs; the UTF-8 lane answers as the String lane does.
  test("each fallback to the String lane covers a case where a plain byte parse disagrees") {
    val mapper = new ObjectMapper()
    mapper.getFactory.enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_UNQUOTED_CONTROL_CHARS)
    def plainBytes(raw: Array[Byte]): String =
      try Json.serialize(mapper.readTree(raw)) catch { case e: Exception => e.getMessage }
    def stringLane(raw: Array[Byte]): String = {
      val (v, err) = Jq.parseWithError(new String(raw, UTF_8))
      if (err.isNull) Json.serialize(v) else err.get("message").textValue()
    }
    val cases = Seq(
      "column counted in bytes" -> b("""{"k": "café" x}"""),
      "ASCII error wording" -> b("""{"keep": 1, "drop": {"bad": }}"""),
      "ASCII end-of-input wording" -> b("""{"k": "open"""),
      "overlong form" -> (b("""{"k": """") ++ bytes(0xC0, 0x80) ++ b(""""}""")),
      "surrogate" -> (b("""{"k": """") ++ bytes(0xED, 0xA0, 0x80) ++ b(""""}""")),
      "UTF-8 BOM" -> (bytes(0xEF, 0xBB, 0xBF) ++ b("""{"k": 1}""")),
      "NUL-led" -> (bytes(0) ++ b("""{"k": "é"}""")),
      "UTF-16-looking" -> (b("\"") ++ bytes(0) ++ b("é\"")))
    val c = Jq.compile("[., $error]")
    for ((what, raw) <- cases) {
      assert(plainBytes(raw) != stringLane(raw), s"$what: the plain byte parse already agrees")
      assert(c.applyToUtf8(UTF8String.fromBytes(raw)).map(Json.serialize).toList ==
        c.applyToText(new String(raw, UTF_8)).map(Json.serialize).toList, what)
    }
  }

  // ---- seeded generator and mutator ----

  private lazy val fuzzNeeds: Seq[Option[Footprint.Fields]] = Seq(
    None, Some(Map.empty), Some(Map("k" -> None)),
    Some(Map("a" -> Some(Set("b")), "k" -> None)),
    Some(Map("é" -> None, "z" -> Some(Set("k", "é")))))

  test("seeded fuzz: 120k generated and mutated inputs on five footprints read as on the String lane") {
    val r = new SplittableRandom(20261019L)
    var accepted, refused = 0
    val (worded0, jackson0) = (worded, jacksonWorded)
    for (n <- 0 until 120000) {
      val raw = fuzzInput(r)
      // each input in one placement, the three in turn
      placed(raw, n % Placements.size) { json =>
        for (need <- fuzzNeeds)
          if (read(json, need, s"${Placements(n % Placements.size)}: ${hex(raw)}").isDefined) accepted += 1
          else refused += 1
      }
    }
    info(s"$accepted reads accepted, $refused refused: ${worded - worded0} worded by the reader, " +
      s"${jacksonWorded - jackson0} left to Jackson to word")
    assert(accepted > 200000 && refused > 50000)
    assert(worded - worded0 > refused / 3)
  }
}
