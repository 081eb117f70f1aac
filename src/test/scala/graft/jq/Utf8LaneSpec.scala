package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the UTF-8 lane: [[Utf8Json]] either reads a value
  * to exactly the node the `String` lane builds from its `toString` — same
  * node classes, field order and chars — with `$error` null, or words its
  * refusal as exactly the `$error` the `String` lane binds (message, class
  * and input), or refuses it unworded for the `String` lane to parse; on
  * the full and on pruned footprints, wherever the bytes sit (a whole
  * array, a slice at a non-zero offset, off-heap memory). And
  * `CompiledJq.applyToUtf8` gives what `applyToText` gives on every value. */
class Utf8LaneSpec extends AnyFunSuite {

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def hex(raw: Array[Byte]): String = raw.map(x => Integer.toHexString(x & 0xFF)).mkString(" ")
  private def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  /** the lane-agreement corpus of FootprintSpec and JqPropertySpec */
  private val laneCorpus: Seq[Array[Byte]] = Seq(
    """{"k": 7, "a": [1,2,3], "z": {"deep": [true, null]}, "s": "txt"}""",
    """{"k": 1}""",
    """{"a": [], "k": 99, "extra1": 1, "extra2": [1,2], "extra3": {"x": 1}}""",
    """{"k": "str", "a": 3}""",
    """{"z": {"deep": {"more": 1, "hidden": [1,2,3]}, "other": "skip"}}""",
    """{"a": {"b": 5, "c": {"nested": true}}, "z": 4}""",
    """{"a": {"b": {"x": 1}, "b": 7}, "k": 0}""",
    """{"z": [1, 2]}""", """{}""", """[1, 2, 3]""", """42""", """"plain string"""", """null""",
    """{"k": 1} trailing""", """{"k": """, """not json at all""", """{"k": 1, "k": 2}""",
    """{"a": 1, "b": {"c": [1,2]}, "k": "x", "n": 5, "xs": [1,2,3], "zz": {"big": [1,2,3]}}""",
    """{"a": [7], "xs": []}""", """{"k": {"deep": true}, "other": "skipped"}""",
    """[1, 2]""", """7""", """{"bad""", """{"keep": 1, "drop": {"bad": }}""",
    """{"k": 1}""" + "\u0000", // a NUL past the value
    """{"k": "a""" + "\u0000\u0001" + """b"}""", // unquoted control chars
    "[" * 1200 + "]" * 1200, // past Jackson's nesting limit
    """{"k": 123456789012345678901234567890, "a": 1.5e300}""",
    "", " \n\t ").map(b)

  private val nonAscii: Seq[Array[Byte]] = Seq(
    """{"k": "café", "über": {"b": "naïve"}, "a": {"b": "日本語", "c": "😀"}}""",
    """{"é": 1, "k": "Ωmega", "a": {"ß": 2, "b": "ça"}}""",
    """"😀 alone"""", """["über", "é"]""",
    "{\"k\": \"\\u00e9 escaped\", \"a\": {\"b\": \"\\ud83d\\ude00\"}}",
    """{"k": "café"} trailing""", """{"k": "über" x""", """{"a": {"b": "日本"}, }""",
    """{"k": "é", "drop": {"bad": }}""").map(b)

  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    b("""{"k": """") ++ bytes(0x80) ++ b(""""}"""), // lone continuation byte
    b("""{"k": """") ++ bytes(0xC3) ++ b(""""}"""), // truncated sequence
    b("""{"k": 1, "a": """") ++ bytes(0xE2, 0x82), // truncated at the end
    b("""{"k": """") ++ bytes(0xC0, 0x80) ++ b(""""}"""), // overlong NUL
    b("""{"k": """") ++ bytes(0xED, 0xA0, 0x80) ++ b(""""}"""), // surrogate
    b("""{"k": """") ++ bytes(0xF4, 0x90, 0x80, 0x80) ++ b(""""}"""), // past U+10FFFF
    b("""{"drop": """") ++ bytes(0xC0, 0x80, 0xFF) ++ b("""", "k": 2}"""), // in a skipped string
    bytes(0xFF, 0xFE) ++ b("""{"k": 1}""")) // a UTF-16LE BOM

  // what Jackson's byte parser would read as another encoding
  private val sniffed: Seq[Array[Byte]] = Seq(
    bytes(0xEF, 0xBB, 0xBF) ++ b("""{"k": 1}"""), // UTF-8 BOM
    bytes(0) ++ b("""{"k": 1}"""), bytes(0) ++ b("""{"k": "é"}"""), // leading NUL
    b("""{"k": 1}""").flatMap(c => Seq(c, 0.toByte)), // UTF-16LE-looking 7B 00 22 00 …
    b("\"") ++ bytes(0) ++ b("é\""), // a NUL inside a string
    bytes(0, 0, 0, 0x7B, 0, 0, 0, 0x7D), bytes(0, 0, 0) ++ b("\"é\""), // UTF-32BE-looking
    b("[0") ++ bytes(0) ++ b("]"), b("[0,") ++ bytes(0) ++ b("\"é\"]")) // NUL at a later byte

  // what a corrupt row looks like: tiny_rows' trailing garbage, and a
  // refusal in each grammar state, after a line break or non-ASCII text
  private val tinyGarbage = Seq("x", "}", " 1", ",", "]")
  private val corrupt: Seq[Array[Byte]] = (tinyGarbage.map("""{"k": 7}""" + _) ++ Seq(
    "7x", "7}", "\"s\"]", "{} 1", "[] \"a\"", "{}\t,", "-0x", "1.5e3,", "7 x", "7\rx", "7\n]", "7\t\n,",
    "{} 7\n", "{} 7\r", "{} 7\r\n", "{} 7\t", "{} -1.5e-3 ", "{} 00", "{} 1x", "{} true", "{} true}", "{} truex",
    "{} tru", "{} \"a", "{} [", "{}{}", "true x", "truex", "true1", "nullx y", "true{", "true\"", "[true_]",
    "[true$]", "[truefalse]", "{\"a\": fals}", "[1, tr]", "[nul", "[1 2]", "[1,]", "[1,}", "[}", "{]", "[1}",
    "{\"a\":1]", "{\"a\":[1}", "{\"a\":}", "{\"a\":]", "{\"a\" 1}", "{\"a\";1}", "{k: 1}", "{,", "[,",
    "{\"a\":1 ,}", "{\"a\":1 ,]", "[@]", "[#]", "[']", "[\\]", "[.5]", "[/]", "[N]", "[Infinity]", "[+1]",
    "[_a$b9]", "{\"k\": ", "{\"k\"", "{\"k", "{\"k\": \"v", "[1,", "[1", "{", "[", "\"abc", "{\"a\":1,",
    "[[[", "{\"a\":{\"b\":[1}", "{\"a\":1,\"b\":2", "[1,2,\n", "\"ab\\", "\"ab\\u12",
    "\n{\"k\": 7}\nx", "{\"k\": 7}\r\nx", "[1,\r2 x]", "[1,\n\r2 x]", "{\"a\":\n{\"b\":\n[1}", "[\"a\nb\" x]",
    "{\"a\nb", "{\"é\": 7}x", "[\"日本\" x]", "{\"k\": \"😀\"}]", "{\"é\": \"ü\",\n \"k\": 1 ,}", "[\"ü\",\n{\"a\":1]",
    "{\"k\": 1} " + "z" * 255, "{\"k\": 1} " + "z" * 256, "[" + "y" * 300 + "]", "[trueé]", "{\"k\": 1}é",
    "{\"k\": 1}\u007f", "[1,\u0001]", "null+2", "1\r+2", "{} NaN", "{} Nx", "{} +1", "[01]", "[-0 1]", "{\"a\":01}")).map(b)

  private val corpus = laneCorpus ++ nonAscii ++ invalidUtf8 ++ sniffed ++ corrupt

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

  /** The same bytes three ways: a whole array, a slice at a non-zero offset
    * of a larger array (as an UnsafeRow holds it), and off-heap. */
  private def placements(raw: Array[Byte])(body: (String, UTF8String) => Unit): Unit =
    for (where <- Placements.indices) placed(raw, where)(body(Placements(where), _))

  private val Placements = Seq("array", "slice", "off-heap")

  /** The bytes in placement `where` (see [[placements]]). */
  private def placed(raw: Array[Byte], where: Int)(body: UTF8String => Unit): Unit = where match {
    case 0 => body(UTF8String.fromBytes(raw))
    case 1 =>
      // the bytes around the slice would break the parse if it read past them
      val buf = b("""}x"""") ++ raw ++ b(""""]""")
      body(UTF8String.fromBytes(buf, 3, raw.length))
    case _ =>
      val addr = Platform.allocateMemory(math.max(raw.length, 1).toLong)
      try {
        Platform.copyMemory(raw, Platform.BYTE_ARRAY_OFFSET, null, addr, raw.length.toLong)
        body(UTF8String.fromAddress(null, addr, raw.length))
      } finally Platform.freeMemory(addr)
  }

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

  private val keyPool = Array("k", "a", "b", "z", "drop", "é", "\\u006b", "\\u0061", "ß", "", "k")
  private val wordPool: Array[Array[Byte]] = Array("word", " ", "\\n", "\\\"", "\\\\", "\\u00e9", "\\u00E9",
    "\\ud83d\\ude00", "\\ud800", "\\udc00x", "é", "日本", "😀", "\t", "\u0001", "\u001f", "\\/").map(b)
  private val invalidPool: Array[Array[Byte]] = Array(bytes(0x80), bytes(0xC3), bytes(0xED, 0xA0, 0x80),
    bytes(0xF4, 0x90, 0x80, 0x80), bytes(0xC0, 0x80), bytes(0xFF), bytes(0xE2, 0x82))
  private val numberPool = Array("0", "-0", "2147483647", "2147483648", "-2147483648", "-2147483649",
    "999999999999999999", "1000000000000000000", "12345678901234567890", "1e400", "-0.0", "1.5",
    "2.5E-3", "1E+2", "0.1", "-1e-400", "9007199254740993", "4.9e-324", "1.7976931348623157e308")
  private val junk: Array[Array[Byte]] = Array(",", "]", "}", "\"", "\\", " x", "0", "-", ":", "{", "[",
    "e", ".", "tru", "null", "\n", "\r\n", "é", "日本", "😀").map(b) ++
    Array(bytes(0), bytes(0x80), bytes(0xC3), bytes(0xEF, 0xBB, 0xBF))
  // content after a root value of each kind: tiny_rows' garbage, a second
  // value, a glued literal or number, after blanks and line breaks
  private val tails: Array[Array[Byte]] = Array("x", "}", " 1", ",", "]", "\t,", " \"a\"", "\"s\"", "1", " -2.5",
    "{}", " [", "x1", "true", "e", " nul", "_$", "\n}", "\r\n,", "\n\n x", "\r]", " 7\n", " 7\r", " é", ":",
    " @", "+2", " NaN", " I", "0").map(b)

  private val blanks = Array(" ", "\n", "\t", "\r", "  ")
  private val literals = Array("true", "false", "null")

  private def ws(r: SplittableRandom, out: ByteArrayOutputStream): Unit =
    if (r.nextInt(4) == 0) out.write(b(blanks(r.nextInt(blanks.length))))

  private def gen(r: SplittableRandom, out: ByteArrayOutputStream, depth: Int): Unit = {
    ws(r, out)
    r.nextInt(if (depth >= 4) 6 else 10) match {
      case 0 | 1 =>
        out.write(b("\""))
        for (_ <- 0 until r.nextInt(4))
          out.write(if (r.nextInt(12) == 0) invalidPool(r.nextInt(invalidPool.length))
            else wordPool(r.nextInt(wordPool.length)))
        out.write(b("\""))
      case 2 | 3 =>
        out.write(b(if (r.nextInt(3) == 0) numberPool(r.nextInt(numberPool.length))
          else (r.nextInt() >> r.nextInt(32)).toString))
      case 4 => out.write(b(literals(r.nextInt(literals.length))))
      case 5 => out.write(b(r.nextLong().toString))
      case 6 | 7 | 8 =>
        out.write(b("{"))
        for (i <- 0 until r.nextInt(5)) {
          if (i > 0) out.write(b(","))
          ws(r, out)
          out.write(b("\"" + keyPool(r.nextInt(keyPool.length)) + "\""))
          ws(r, out)
          out.write(b(":"))
          gen(r, out, depth + 1)
        }
        ws(r, out)
        out.write(b("}"))
      case _ =>
        out.write(b("["))
        for (i <- 0 until r.nextInt(4)) { if (i > 0) out.write(b(",")); gen(r, out, depth + 1) }
        out.write(b("]"))
    }
    ws(r, out)
  }

  private def mutate(r: SplittableRandom, raw: Array[Byte]): Array[Byte] = {
    var x = raw
    for (_ <- 0 until 1 + r.nextInt(3)) {
      val at = if (x.isEmpty) 0 else r.nextInt(x.length)
      val piece = junk(r.nextInt(junk.length))
      x = r.nextInt(5) match {
        case 0 if x.nonEmpty => x.patch(at, Nil, 1) // delete a byte
        case 1 => x.patch(at, piece, 0) // insert
        case 2 if x.nonEmpty => x.patch(at, piece, 1) // replace
        case 3 => x ++ tails(r.nextInt(tails.length)) // append after the root value
        case _ => x.take(at) // truncate
      }
    }
    x
  }

  test("seeded fuzz: 120k generated and mutated inputs on five footprints read as on the String lane") {
    val r = new SplittableRandom(20261019L)
    var accepted, refused = 0
    val (worded0, jackson0) = (worded, jacksonWorded)
    for (n <- 0 until 120000) {
      val out = new ByteArrayOutputStream()
      gen(r, out, if (r.nextInt(3) == 0) 4 else 0)
      val doc = out.toByteArray
      val raw = if (r.nextInt(3) == 0) mutate(r, doc) else doc
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
