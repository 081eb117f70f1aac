package graft.jq

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The inputs of the row reader's differential specs ([[Utf8LaneSpec]] and
  * `graft.operators.ProjectionLaneSpec`): a fixed corpus of well-formed,
  * non-ASCII, invalid UTF-8 and corrupt rows, the three placements of a
  * row's bytes, and a seeded generator and mutator of JSON rows. */
object Utf8Corpus {

  def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  def hex(raw: Array[Byte]): String = raw.map(x => Integer.toHexString(x & 0xFF)).mkString(" ")
  /** the lane-agreement corpus of FootprintSpec and JqPropertySpec */
  val laneCorpus: Seq[Array[Byte]] = Seq(
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

  val nonAscii: Seq[Array[Byte]] = Seq(
    """{"k": "café", "über": {"b": "naïve"}, "a": {"b": "日本語", "c": "😀"}}""",
    """{"é": 1, "k": "Ωmega", "a": {"ß": 2, "b": "ça"}}""",
    """"😀 alone"""", """["über", "é"]""",
    "{\"k\": \"\\u00e9 escaped\", \"a\": {\"b\": \"\\ud83d\\ude00\"}}",
    """{"k": "café"} trailing""", """{"k": "über" x""", """{"a": {"b": "日本"}, }""",
    """{"k": "é", "drop": {"bad": }}""").map(b)

  val invalidUtf8: Seq[Array[Byte]] = Seq(
    b("""{"k": """") ++ bytes(0x80) ++ b(""""}"""), // lone continuation byte
    b("""{"k": """") ++ bytes(0xC3) ++ b(""""}"""), // truncated sequence
    b("""{"k": 1, "a": """") ++ bytes(0xE2, 0x82), // truncated at the end
    b("""{"k": """") ++ bytes(0xC0, 0x80) ++ b(""""}"""), // overlong NUL
    b("""{"k": """") ++ bytes(0xED, 0xA0, 0x80) ++ b(""""}"""), // surrogate
    b("""{"k": """") ++ bytes(0xF4, 0x90, 0x80, 0x80) ++ b(""""}"""), // past U+10FFFF
    b("""{"drop": """") ++ bytes(0xC0, 0x80, 0xFF) ++ b("""", "k": 2}"""), // in a skipped string
    bytes(0xFF, 0xFE) ++ b("""{"k": 1}""")) // a UTF-16LE BOM

  // what Jackson's byte parser would read as another encoding
  val sniffed: Seq[Array[Byte]] = Seq(
    bytes(0xEF, 0xBB, 0xBF) ++ b("""{"k": 1}"""), // UTF-8 BOM
    bytes(0) ++ b("""{"k": 1}"""), bytes(0) ++ b("""{"k": "é"}"""), // leading NUL
    b("""{"k": 1}""").flatMap(c => Seq(c, 0.toByte)), // UTF-16LE-looking 7B 00 22 00 …
    b("\"") ++ bytes(0) ++ b("é\""), // a NUL inside a string
    bytes(0, 0, 0, 0x7B, 0, 0, 0, 0x7D), bytes(0, 0, 0) ++ b("\"é\""), // UTF-32BE-looking
    b("[0") ++ bytes(0) ++ b("]"), b("[0,") ++ bytes(0) ++ b("\"é\"]")) // NUL at a later byte

  // what a corrupt row looks like: tiny_rows' trailing garbage, and a
  // refusal in each grammar state, after a line break or non-ASCII text
  val tinyGarbage = Seq("x", "}", " 1", ",", "]")
  val corrupt: Seq[Array[Byte]] = (tinyGarbage.map("""{"k": 7}""" + _) ++ Seq(
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

  val corpus = laneCorpus ++ nonAscii ++ invalidUtf8 ++ sniffed ++ corrupt

  /** The same bytes three ways: a whole array, a slice at a non-zero offset
    * of a larger array (as an UnsafeRow holds it), and off-heap. */
  def placements(raw: Array[Byte])(body: (String, UTF8String) => Unit): Unit =
    for (where <- Placements.indices) placed(raw, where)(body(Placements(where), _))

  val Placements = Seq("array", "slice", "off-heap")

  /** The bytes in placement `where` (see [[placements]]). */
  def placed(raw: Array[Byte], where: Int)(body: UTF8String => Unit): Unit = where match {
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

  val keyPool = Array("k", "a", "b", "z", "drop", "é", "\\u006b", "\\u0061", "ß", "", "k")
  val wordPool: Array[Array[Byte]] = Array("word", " ", "\\n", "\\\"", "\\\\", "\\u00e9", "\\u00E9",
    "\\ud83d\\ude00", "\\ud800", "\\udc00x", "é", "日本", "😀", "\t", "\u0001", "\u001f", "\\/").map(b)
  val invalidPool: Array[Array[Byte]] = Array(bytes(0x80), bytes(0xC3), bytes(0xED, 0xA0, 0x80),
    bytes(0xF4, 0x90, 0x80, 0x80), bytes(0xC0, 0x80), bytes(0xFF), bytes(0xE2, 0x82))
  val numberPool = Array("0", "-0", "2147483647", "2147483648", "-2147483648", "-2147483649",
    "999999999999999999", "1000000000000000000", "12345678901234567890", "1e400", "-0.0", "1.5",
    "2.5E-3", "1E+2", "0.1", "-1e-400", "9007199254740993", "4.9e-324", "1.7976931348623157e308")
  val junk: Array[Array[Byte]] = Array(",", "]", "}", "\"", "\\", " x", "0", "-", ":", "{", "[",
    "e", ".", "tru", "null", "\n", "\r\n", "é", "日本", "😀").map(b) ++
    Array(bytes(0), bytes(0x80), bytes(0xC3), bytes(0xEF, 0xBB, 0xBF))
  // content after a root value of each kind: tiny_rows' garbage, a second
  // value, a glued literal or number, after blanks and line breaks
  val tails: Array[Array[Byte]] = Array("x", "}", " 1", ",", "]", "\t,", " \"a\"", "\"s\"", "1", " -2.5",
    "{}", " [", "x1", "true", "e", " nul", "_$", "\n}", "\r\n,", "\n\n x", "\r]", " 7\n", " 7\r", " é", ":",
    " @", "+2", " NaN", " I", "0").map(b)

  val blanks = Array(" ", "\n", "\t", "\r", "  ")
  val literals = Array("true", "false", "null")

  def ws(r: SplittableRandom, out: ByteArrayOutputStream): Unit =
    if (r.nextInt(4) == 0) out.write(b(blanks(r.nextInt(blanks.length))))

  def gen(r: SplittableRandom, out: ByteArrayOutputStream, depth: Int): Unit = {
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

  def mutate(r: SplittableRandom, raw: Array[Byte]): Array[Byte] = {
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

  /** One seeded input: a generated document, mutated one time in three. */
  def fuzzInput(r: SplittableRandom): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    gen(r, out, if (r.nextInt(3) == 0) 4 else 0)
    val doc = out.toByteArray
    if (r.nextInt(3) == 0) mutate(r, doc) else doc
  }
}
