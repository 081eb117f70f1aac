package graft.jq

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the UTF-8 byte lane: for every input,
  * `Jq.parseUtf8WithError` / `CompiledJq.applyToUtf8` must give exactly
  * what the `String` lane gives on `toString` of the same value — the
  * same input node and the same full `$error` object (message, class,
  * input) — on the full and on pruned footprints, wherever the bytes sit
  * (a whole array, a slice at a non-zero offset, off-heap memory). */
class Utf8LaneSpec extends AnyFunSuite {

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

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
    """{"k": 1}""" + "\u0000", // a NUL past the sniffed bytes
    """{"k": "a""" + "\u0000\u0001" + """b"}""", // unquoted control chars
    "[" * 1200 + "]" * 1200, // past Jackson's nesting limit
    """{"k": 123456789012345678901234567890, "a": 1.5e300}""",
    "", " \n\t ").map(b)

  private val nonAscii: Seq[Array[Byte]] = Seq(
    """{"k": "café", "über": {"b": "naïve"}, "a": {"b": "日本語", "c": "😀"}}""",
    """{"é": 1, "k": "Ωmega", "a": {"ß": 2, "b": "ça"}}""",
    """"😀 alone"""", """["über", "é"]""",
    "{\"k\": \"\\u00e9 escaped\", \"a\": {\"b\": \"\\ud83d\\ude00\"}}",
    // trailing garbage after a non-ASCII character: the byte column differs
    """{"k": "café"} trailing""", """{"k": "über" x""", """{"a": {"b": "日本"}, }""",
    """{"k": "é", "drop": {"bad": }}""").map(b)

  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    b("""{"k": """") ++ bytes(0x80) ++ b(""""}"""), // lone continuation byte
    b("""{"k": """") ++ bytes(0xC3) ++ b(""""}"""), // truncated sequence
    b("""{"k": 1, "a": """") ++ bytes(0xE2, 0x82), // truncated at the end
    b("""{"k": """") ++ bytes(0xC0, 0x80) ++ b(""""}"""), // overlong NUL
    b("""{"k": """") ++ bytes(0xED, 0xA0, 0x80) ++ b(""""}"""), // surrogate
    b("""{"k": """") ++ bytes(0xF4, 0x90, 0x80, 0x80) ++ b(""""}"""), // past U+10FFFF
    bytes(0xFF, 0xFE) ++ b("""{"k": 1}""")) // a UTF-16LE BOM

  // what Jackson's encoding sniffer reads as another encoding, on ASCII
  // and on valid non-ASCII values
  private val sniffed: Seq[Array[Byte]] = Seq(
    bytes(0xEF, 0xBB, 0xBF) ++ b("""{"k": 1}"""), // UTF-8 BOM
    bytes(0) ++ b("""{"k": 1}"""), bytes(0) ++ b("""{"k": "é"}"""), // leading NUL
    b("""{"k": 1}""").flatMap(c => Seq(c, 0.toByte)), // UTF-16LE-looking 7B 00 22 00 …
    b("\"") ++ bytes(0) ++ b("é\""), // UTF-16LE-looking 22 00, then non-ASCII
    bytes(0, 0, 0, 0x7B, 0, 0, 0, 0x7D), bytes(0, 0, 0) ++ b("\"é\""), // UTF-32BE-looking
    b("[0") ++ bytes(0) ++ b("]"), b("[0,") ++ bytes(0) ++ b("\"é\"]")) // NUL at a later byte

  private val corpus = laneCorpus ++ nonAscii ++ invalidUtf8 ++ sniffed

  private val needs: Seq[Option[Footprint.Fields]] = Seq(
    None, Some(Map.empty), Some(Map("k" -> None)),
    Some(Map("a" -> Some(Set("b")), "k" -> None)))

  private def show(r: (JsonNode, JsonNode)): (String, String) =
    (Json.serialize(r._1), Json.serialize(r._2))

  /** The same bytes three ways: a whole array, a slice at a non-zero offset
    * of a larger array (as an UnsafeRow holds it), and off-heap. */
  private def placements(raw: Array[Byte])(body: (String, UTF8String) => Unit): Unit = {
    body("array", UTF8String.fromBytes(raw))
    // the bytes around the slice would break the parse if it read past them
    val buf = b("""}x"""") ++ raw ++ b(""""]""")
    body("slice", UTF8String.fromBytes(buf, 3, raw.length))
    val addr = Platform.allocateMemory(math.max(raw.length, 1).toLong)
    try {
      Platform.copyMemory(raw, Platform.BYTE_ARRAY_OFFSET, null, addr, raw.length.toLong)
      body("off-heap", UTF8String.fromAddress(null, addr, raw.length))
    } finally Platform.freeMemory(addr)
  }

  test("the byte lane parses to the String lane's input and $error on every input and footprint") {
    for (raw <- corpus; need <- needs) placements(raw) { (where, json) =>
      val text = json.toString
      assert(show(Jq.parseUtf8WithError(json, need)) == show(Jq.parseTextWithError(text, need)),
        s"lane mismatch ($where, footprint $need) on ${raw.map(x => f"${x & 0xFF}%02x").mkString(" ")}")
    }
  }

  // Spark's own answer, with the sniff: the lane check must be
  // `!isFullAscii && isValid` on values Jackson reads as UTF-8
  private def byteLaneReference(json: UTF8String): Boolean = {
    val head = (0 until math.min(4, json.numBytes)).map(json.getByte)
    !json.isFullAscii && json.isValid && !head.contains(0.toByte) && head.headOption.forall(_ >= 0)
  }

  test("the lane check agrees with UTF8String.isFullAscii/isValid and the sniff") {
    val edges = Seq(0x00, 0x41, 0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0, 0xFF)
    val tails: Seq[Seq[Int]] =
      (0 until 256).flatMap(x => (0 until 256).map(y => Seq(x, y))) ++ // every byte pair
        (0xC0 to 0xFF).flatMap(x => for (y <- edges; z <- edges) yield Seq(x, y, z)) ++
        (0xF0 to 0xF7).flatMap(x => for (y <- edges; z <- edges; w <- edges) yield Seq(x, y, z, w))
    // ASCII around the tail: the eight-byte ASCII steps land on every alignment
    for (pre <- Seq(0, 1, 3, 7, 8, 9); post <- Seq(0, 1, 8); tail <- tails) {
      val raw = b("[" + "a" * pre) ++ tail.map(_.toByte) ++ b("b" * post)
      val json = UTF8String.fromBytes(raw)
      assert(Jq.takesByteLane(json) == byteLaneReference(json), tail.map(x => f"$x%02x").mkString(" "))
    }
    for (raw <- corpus) placements(raw) { (where, json) =>
      assert(Jq.takesByteLane(json) == byteLaneReference(json), s"$where: ${new String(raw, UTF_8)}")
    }
  }

  // a misread offset that still parses cannot hide behind the fallback
  test("a slice parses its own bytes, not its neighbours'") {
    val first = b("""{"k": "é"}""")
    val second = b("""{"k": "ü"}""")
    val json = UTF8String.fromBytes(first ++ second, first.length, second.length)
    assert(Json.serialize(Jq.parseUtf8WithError(json, None)._1) == """{"k":"ü"}""")
  }

  test("a null value is a null input with no $error on both lanes") {
    for (need <- needs) {
      val (v, err) = Jq.parseUtf8WithError(null, need)
      assert(v.isNull && err.isNull)
    }
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
    assert(Jq.compile("[., $error]").applyToUtf8(null).map(Json.serialize).toList == List("[null,null]"))
  }

  // Each fallback guards a real disagreement: Jackson's byte parser, used
  // directly, answers differently from the String lane on these inputs.
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
    for ((what, raw) <- cases) {
      assert(plainBytes(raw) != stringLane(raw), s"$what: the plain byte parse already agrees")
      assert(show(Jq.parseUtf8WithError(UTF8String.fromBytes(raw), None)) ==
        show(Jq.parseWithError(new String(raw, UTF_8))), what)
    }
  }
}
