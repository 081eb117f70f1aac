package graft.jq

import com.fasterxml.jackson.core.{JsonParseException, StreamReadConstraints}
import com.fasterxml.jackson.core.io.JsonEOFException
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.Arrays
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A strict RFC 8259 reader that builds the Jackson nodes of a Spark
  * string value straight from its UTF-8 bytes, pruned by a footprint the
  * way [[Jq]]'s parse prunes (see `Jq.parse`): no parser set-up, no
  * `ObjectMapper`, no `String` decode of the row.
  *
  * Where Jackson words a grammar error regularly (an unexpected character,
  * content after the root value, end of input in a string, object or
  * array), [[read]] throws a [[Malformed]] that words the `String` lane's
  * `$error` itself; for any other refusal it gives `null`, and the caller
  * parses that row on the `String` lane. What it accepts, it reads to the
  * node the `String` lane builds from `toString` of the value:
  *  - the grammar is RFC 8259's, with raw control characters allowed in
  *    strings (`ALLOW_UNQUOTED_CONTROL_CHARS`); a byte ≥ 0x80 outside a
  *    string, a BOM included, is refused;
  *  - a kept string is refused unless its bytes are well-formed UTF-8
  *    (Unicode Table 3-7), then decodes as `toString` does; a skipped
  *    string's bytes are opaque, as `toString` + U+FFFD makes them;
  *  - integers of up to 18 digits become IntNode in int range, else
  *    LongNode; longer ones are refused; fractions and exponents are
  *    `Double.parseDouble` of the token text;
  *  - a duplicate key keeps the last value at the first key's position;
  *  - the parser's `StreamReadConstraints` bound depth and lengths, with
  *    lengths counted in bytes (never fewer than the chars Jackson counts).
  * Instances are thread-safe; one serves a compiled program. */
private[jq] final class Utf8Json(need: Option[Footprint.Fields], limits: StreamReadConstraints) {
  import Utf8Json._

  private val top: Keep = need.map(Keep.of).orNull
  private val maxDepth = limits.getMaxNestingDepth
  private val maxNumber = limits.getMaxNumberLength
  private val maxString = limits.getMaxStringLength
  private val maxName = limits.getMaxNameLength
  // no document has more tokens than bytes
  private val maxBytes = Seq(limits.getMaxDocumentLength, limits.getMaxTokenCount)
    .filter(_ > 0).foldLeft(Long.MaxValue)(math.min)
  private val names = new Array[Name](NameSlots)

  /** The node of `json` (non-null), or null when it is refused unworded;
    * throws [[Malformed]] when it words the refusal. */
  def read(json: UTF8String): JsonNode = {
    val n = json.numBytes
    if (n > maxBytes) return null
    val base = json.getBaseObject
    val r = base match {
      case a: Array[Byte] =>
        val from = (json.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
        new Reader(a, from, from + n)
      case _ => new Reader(json.getBytes, 0, n)
    }
    // a Malformed passes through to the caller
    try r.document()
    catch { case _: Refusal => null }
  }

  /** A full-tree object key: one `String` per distinct short key, shared
    * by every row (entries are immutable, so racing writers are benign). */
  private def name(b: Array[Byte], from: Int, len: Int): String = {
    if (len > 32) return new String(b, from, len, ISO_8859_1)
    var h = len
    var k = from
    while (k < from + len) { h = h * 31 + b(k); k += 1 }
    val slot = (h ^ (h >>> 7)) & (NameSlots - 1)
    val e = names(slot)
    if (e != null && Arrays.equals(e.utf8, 0, e.utf8.length, b, from, from + len)) e.text
    else {
      val text = new String(b, from, len, ISO_8859_1)
      names(slot) = new Name(Arrays.copyOfRange(b, from, from + len), text)
      text
    }
  }

  /** One row: bytes [i, end) of b. */
  private final class Reader(b: Array[Byte], private var i: Int, end: Int) {
    private var depth = 0
    // the decode buffer, taken from the thread on the first escaped or
    // non-ASCII kept string, and its length
    private var chars: Array[Char] = null
    private var n = 0

    def document(): JsonNode = {
      ws()
      if (i == end) return Json.NullN
      val s = i
      val v = value(top)
      if (i < end && (b(s) == '-' || b(s) >= '0' && b(s) <= '9')) spaced()
      ws()
      if (i != end) trailing()
      v
    }

    /** Jackson wants white space straight after a root-level number. */
    private def spaced(): Unit = if (" \t\n\r".indexOf(b(i)) < 0) unexpected(RootSpace, -1)

    /** What follows the root value, as Jackson's check for a second one words it. */
    private def trailing(): Nothing = at.toChar match {
      // an identifier char glued to a root true/false/null: Jackson reads one token
      case c if b(i - 1) >= 'a' && b(i - 1) <= 'z' && c >= '0' && Character.isJavaIdentifierPart(at) =>
        unexpected(Value, -1)
      case 'N' | 'I' | '+' => refuse() // a non-standard value, worded by Jackson
      case '{' | '[' | '"' => fail(Trailing, i + 1, -1)
      case 't' | 'f' | 'n' => skip(); fail(Trailing, i, -1)
      case c if c == '-' || c >= '0' && c <= '9' =>
        scanNumber()
        if (i < end) spaced() // past a blank, which Jackson reads with the number, unless \r
        fail(Trailing, if (i < end && b(i) != '\r') i + 1 else i, -1)
      case _ => unexpected(Value, -1)
    }

    /** Refuses at i, worded unless Jackson describes the byte there otherwise. */
    private def unexpected(state: Int, open: Int): Nothing = {
      if (i < end) { val c = b(i); if (c <= ' ' || c == 0x7F || c == '/') refuse() }
      fail(state, i, open)
    }

    /** A worded refusal, its offsets counted back from the row's end. */
    private def fail(state: Int, at: Int, open: Int): Nothing =
      throw new Malformed(state, end - at, if (open < 0) -1 else end - open)

    private def at: Int = if (i < end) b(i) else -1

    private def ws(): Unit =
      while (i < end && { val c = b(i); c == ' ' || c == '\n' || c == '\r' || c == '\t' }) i += 1

    private def expect(c: Char, state: Int, open: Int): Unit = { if (at != c) unexpected(state, open); i += 1; ws() }

    private def enter(): Unit = { depth += 1; if (depth > maxDepth) refuse(); i += 1; ws() }

    /** The value at i; an object value keeps only what `keep` names
      * (null keeps everything). */
    private def value(keep: Keep): JsonNode = at.toChar match {
      case '{' => obj(keep)
      case '[' =>
        val s = i
        enter()
        val a = Json.F.arrayNode()
        if (at == ']') i += 1
        else {
          a.add(value(null)); ws()
          while (at == ',') { i += 1; ws(); a.add(value(null)); ws() }
          expect(']', AfterArray, s)
        }
        depth -= 1
        a
      case '"' => Json.text(string())
      case 't' => literal("true"); Json.TrueN
      case 'f' => literal("false"); Json.FalseN
      case 'n' => literal("null"); Json.NullN
      case _ => number()
    }

    private def obj(keep: Keep): ObjectNode = {
      val s = i
      enter()
      val o = Json.F.objectNode()
      if (at == '}') i += 1
      else {
        var more = true
        while (more) {
          if (at != '"') unexpected(Name, -1)
          if (keep == null) {
            val k = key()
            ws(); expect(':', Colon, -1)
            o.set[JsonNode](k, value(null))
          } else {
            val idx = keyIndex(keep)
            ws(); expect(':', Colon, -1)
            if (idx < 0) skip() else o.set[JsonNode](keep.names(idx), value(keep.subs(idx)))
          }
          ws()
          if (at == ',') { i += 1; ws() } else { expect('}', AfterObject, s); more = false }
        }
      }
      depth -= 1
      o
    }

    /** Validates the value at i without building it. */
    private def skip(): Unit = at.toChar match {
      case '{' =>
        val s = i
        enter()
        if (at == '}') i += 1
        else {
          var more = true
          while (more) {
            if (at != '"') unexpected(Name, -1)
            skipString(true); ws(); expect(':', Colon, -1); skip(); ws()
            if (at == ',') { i += 1; ws() } else { expect('}', AfterObject, s); more = false }
          }
        }
        depth -= 1
      case '[' =>
        val s = i
        enter()
        if (at == ']') i += 1
        else {
          skip(); ws()
          while (at == ',') { i += 1; ws(); skip(); ws() }
          expect(']', AfterArray, s)
        }
        depth -= 1
      case '"' => skipString(false)
      case 't' => literal("true")
      case 'f' => literal("false")
      case 'n' => literal("null")
      case _ => scanNumber()
    }

    private def literal(word: String): Unit = {
      val s = i
      var k = 0
      while (k < word.length) { if (at != word.charAt(k)) fail(Token, s, -1); i += 1; k += 1 }
    }

    private def digits(): Int = {
      val s = i
      while (i < end && b(i) >= '0' && b(i) <= '9') i += 1
      i - s
    }

    /** Moves past a number token; true when it is an integer. */
    private def scanNumber(): Boolean = {
      val s = i
      if (at == '-') i += 1
      if (at == '0') { i += 1; if (at >= '0' && at <= '9') refuse() } // a leading zero
      else if (at < '1' || at > '9' || digits() == 0) {
        // no value at s; Jackson words a non-standard one, and '}' in a container as it reads it
        if (i > s || at == 'N' || at == 'I' || at == '+' || at == '}' && depth > 0) refuse()
        unexpected(Value, -1)
      }
      var integral = true
      if (at == '.') { i += 1; if (digits() == 0) refuse(); integral = false }
      if (at == 'e' || at == 'E') {
        i += 1
        if (at == '+' || at == '-') i += 1
        if (digits() == 0) refuse()
        integral = false
      }
      if (i - s > maxNumber) refuse()
      integral
    }

    private def number(): JsonNode = {
      val s = i
      if (!scanNumber()) Json.F.numberNode(java.lang.Double.parseDouble(new String(b, s, i - s, ISO_8859_1)))
      else {
        val neg = b(s) == '-'
        var k = if (neg) s + 1 else s
        if (i - k > 18) refuse()
        var v = 0L
        while (k < i) { v = v * 10 + (b(k) - '0'); k += 1 }
        if (neg) v = -v
        if (v == v.toInt) Json.F.numberNode(v.toInt) else Json.F.numberNode(v)
      }
    }

    /** From after an opening quote, moves i to the closing quote, a
      * backslash, a byte ≥ 0x80 or the end, eight bytes at a time; true at the
      * closing quote. */
    private def scanPlain(): Boolean = {
      while (true) {
        if (i + 8 <= end && special(Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i), true) == 0) i += 8
        else {
          if (i >= end) return false
          val c = b(i)
          if (c == '"') return true
          if (c == '\\' || c < 0) return false
          i += 1
        }
      }
      false
    }

    /** The string at i. */
    private def string(): String = {
      i += 1
      val s = i
      val text =
        if (scanPlain()) new String(b, s, i - s, ISO_8859_1)
        else decode(s, false)
      if (i - s > maxString) refuse()
      i += 1
      text
    }

    /** A full-tree object key. */
    private def key(): String = {
      i += 1
      val s = i
      val text = if (scanPlain()) name(b, s, i - s) else decode(s, true)
      if (i - s > maxName) refuse()
      i += 1
      text
    }

    /** The index in `keep` of the object key at i, or -1. Plain ASCII keys
      * are compared as bytes; escaped or non-ASCII ones are decoded. */
    private def keyIndex(keep: Keep): Int = {
      i += 1
      val s = i
      val idx = if (scanPlain()) keep.indexOf(b, s, i - s) else keep.names.indexOf(decode(s, true))
      if (i - s > maxName) refuse()
      i += 1
      idx
    }

    /** Decodes a string (a `name` or not) whose content starts at s, from i
      * (past its plain prefix) to its closing quote, where it leaves i. */
    private def decode(s: Int, name: Boolean): String = {
      if (chars == null) chars = buffers.get()
      n = 0
      var k = s
      while (k < i) { put(b(k)); k += 1 }
      while ({ if (i >= end) unclosed(s, name); b(i) != '"' }) {
        val c = b(i)
        if (c == '\\') { i += 1; put(escape()) }
        else if (c >= 0) { put(c); i += 1 }
        else {
          val cp = codePoint()
          if (cp < 0x10000) put(cp)
          else { put(Character.highSurrogate(cp)); put(Character.lowSurrogate(cp)) }
        }
      }
      new String(chars, 0, n)
    }

    private def put(c: Int): Unit = {
      if (n == chars.length) {
        chars = Arrays.copyOf(chars, n * 2)
        if (chars.length <= MaxKeptBuffer) buffers.set(chars)
      }
      chars(n) = c.toChar
      n += 1
    }

    /** The char of the escape whose letter is at i, moving past it. */
    private def escape(): Int = {
      val c = at
      i += 1
      c.toChar match {
        case '"' | '\\' | '/' => c
        case 'b' => '\b'
        case 'f' => '\f'
        case 'n' => '\n'
        case 'r' => '\r'
        case 't' => '\t'
        case 'u' =>
          var v = 0
          var k = 0
          while (k < 4) {
            val d = Character.digit(at, 16)
            if (d < 0) refuse()
            v = v * 16 + d; i += 1; k += 1
          }
          v
        case _ => refuse()
      }
    }

    /** The code point of the multi-byte sequence at i, moving past it;
      * refused unless well-formed (Unicode Table 3-7). */
    private def codePoint(): Int = {
      val c = b(i) & 0xff
      val len = if (c >= 0xC2 && c <= 0xDF) 2 else if (c >= 0xE0 && c <= 0xEF) 3
        else if (c >= 0xF0 && c <= 0xF4) 4 else refuse()
      if (i + len > end) refuse()
      val c1 = b(i + 1) & 0xff
      val secondOk = c match {
        case 0xE0 => c1 >= 0xA0 && c1 <= 0xBF // no overlong 3-byte forms
        case 0xED => c1 >= 0x80 && c1 <= 0x9F // no surrogates
        case 0xF0 => c1 >= 0x90 && c1 <= 0xBF // no overlong 4-byte forms
        case 0xF4 => c1 >= 0x80 && c1 <= 0x8F // nothing past U+10FFFF
        case _ => (c1 & 0xC0) == 0x80
      }
      if (!secondOk) refuse()
      var cp = c & (0xFF >> (len + 1))
      var k = 1
      while (k < len) {
        val ck = b(i + k) & 0xff
        if ((ck & 0xC0) != 0x80) refuse()
        cp = (cp << 6) | (ck & 0x3F)
        k += 1
      }
      i += len
      cp
    }

    /** Moves past the string (a `name` or not) at i, checking its escapes
      * only: its other bytes are opaque. At most `max` bytes between quotes. */
    private def skipString(name: Boolean): Unit = {
      val max = if (name) maxName else maxString
      i += 1
      val s = i
      var open = true
      while (open) {
        if (i + 8 <= end && special(Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i), false) == 0) i += 8
        else {
          val c = at
          if (c == '"') open = false
          else if (c == '\\') { i += 1; escape() }
          else if (i >= end) unclosed(s, name)
          else i += 1
        }
      }
      if (i - s > max) refuse()
      i += 1
    }

    /** End of input inside a string whose content starts at s. */
    private def unclosed(s: Int, name: Boolean): Nothing =
      if (i - s > (if (name) maxName else maxString)) refuse()
      else fail(if (name) InName else InString, end, -1)
  }
}

private[jq] object Utf8Json {

  /** What refuses a row unworded: thrown without a stack trace, caught in `read`. */
  private[jq] final class Refusal private[Utf8Json] extends RuntimeException(null, null, false, false)
  private[jq] val Refused = new Refusal

  private def refuse(): Nothing = throw Refused

  // where in the grammar a worded refusal stands
  private final val Value = 0 // a value is due: at or after the root, after '[', ',' in an array, or ':'
  private final val Name = 1 // after '{' or ',' in an object
  private final val Colon = 2
  private final val AfterArray = 3 // ',' or ']' is due
  private final val AfterObject = 4 // ',' or '}' is due
  private final val RootSpace = 5 // something follows a root-level number straight
  private final val Trailing = 6 // a second root value starts before `at`
  private final val Token = 7 // an unrecognized token starts at `at`
  private final val InString = 8 // the input ends in a string value
  private final val InName = 9 // the input ends in a name

  private val Expected = "(JSON String, Number, Array, Object or token 'null', 'true' or 'false')"
  // how the String lane's parser names its input in a location
  private val Source = "[Source: REDACTED (`StreamReadFeature.INCLUDE_SOURCE_IN_LOCATION` disabled); "

  /** A refusal worded as the `String` lane words it: where in the grammar, how
    * many bytes before the row's end Jackson reports it and the innermost
    * container starts (-1: not needed). Made on the error path only. */
  private[jq] final class Malformed(state: Int, fromEnd: Int, openFromEnd: Int)
      extends RuntimeException(null, null, false, false) {

    /** Jackson's message and exception class name for `text`, the
      * `toString` of a row of `bytes` bytes of valid UTF-8. */
    def wording(text: String, bytes: Int): (String, String) = {
      def char(b: Int): Int = { // the index in text of the char at byte offset b
        var k, n = 0
        while (n < b) { val c = text.charAt(k); n += (if (c < 0x80) 1 else if (c < 0x800 || c.isSurrogate) 2 else 3); k += 1 }
        k
      }
      val at = char(bytes - fromEnd)
      val end = at == text.length
      val c = if (end) ' ' else text.charAt(at)
      var p = at - 1 // the last char before `at` that is not white space
      while (p >= 0 && text.charAt(p) <= ' ') p -= 1
      val prev = if (p < 0) ' ' else text.charAt(p)
      val o = if (openFromEnd >= 0) char(bytes - openFromEnd) else p
      def kind = if (text.charAt(o) == '{') "Object" else "Array"
      def unexpected(why: String) = s"Unexpected character ('$c' (code ${c.toInt})): $why"
      def between(what: String) = s"Unexpected end-of-input within/between $what entries"
      // a token runs over identifier chars; one glued to true/false/null starts with it
      var from = at
      if (c >= '0' && c != ']' && c != '}' && Character.isJavaIdentifierPart(c) &&
          at > 0 && text.charAt(at - 1) >= 'a' && text.charAt(at - 1) <= 'z')
        while (from > 0 && Character.isJavaIdentifierPart(text.charAt(from - 1))) from -= 1
      val (head, eof) =
        if (state == Token || from < at || state == Value && Character.isJavaIdentifierStart(c)) {
          var k = from
          while (k < text.length && k - from < 256 && Character.isJavaIdentifierPart(text.charAt(k))) k += 1
          (s"Unrecognized token '${text.substring(from, k)}${if (k - from >= 256) "..." else ""}': was expecting $Expected", false)
        } else if (state == Trailing) ("trailing characters", false)
        else if (end) state match {
          case InString => ("Unexpected end-of-input: was expecting closing quote for a string value", true)
          case InName => ("Unexpected end-of-input in field name", true)
          case _ if state == Colon || state == Value && prev == ':' => (between("Object"), true)
          case Value if prev == ',' => (between("Array"), false)
          case Name if prev == ',' => (between("Object"), false)
          case _ => (s"Unexpected end-of-input: expected close marker for $kind (start marker at ${loc(text, o)})", true)
        } else (state match {
          case RootSpace => unexpected("Expected space separating root-level values")
          case Colon => unexpected("was expecting a colon to separate field name and value")
          case Value if c == '}' || c == ']' && prev != ',' && prev != ':' =>
            s"Unexpected close marker '$c': no open ${if (c == '}') "Object" else "Array"} to close"
          case Value => unexpected(s"expected a valid value $Expected")
          case _ if (c == '}' || c == ']') && (openFromEnd >= 0 || prev == '{') =>
            s"Unexpected close marker '$c': expected '${if (c == '}') ']' else '}'}' (for $kind starting at ${loc(text, o)})"
          case Name => unexpected("was expecting double-quote to start field name")
          case _ => unexpected(s"was expecting comma to separate $kind entries")
        }, false)
      (head + "\n at " + loc(text, from), (if (eof) classOf[JsonEOFException] else classOf[JsonParseException]).getName)
    }
  }

  /** Jackson's location of char p of `text`: lines break at \n, \r or \r\n
    * outside strings, and columns count chars from 1. */
  private def loc(text: String, p: Int): String = {
    var line, start, k = 0
    var quoted = false
    while (k < p) {
      val c = text.charAt(k)
      if (quoted) { if (c == '\\') k += 1 else if (c == '"') quoted = false }
      else if (c == '"') quoted = true
      else if (c == '\n' || c == '\r') {
        if (c == '\r' && k + 1 < p && text.charAt(k + 1) == '\n') k += 1
        line += 1; start = k + 1
      }
      k += 1
    }
    s"${Source}line: ${line + 1}, column: ${p - start + 1}]"
  }

  /** The fields an object keeps, each with what to keep of its value: a
    * `Keep` of its subfields, or null for the whole value. */
  private final class Keep(val names: Array[String], val subs: Array[Keep]) {
    // a name with a lone surrogate has no UTF-8 form, so no plain key matches it
    private val utf8: Array[Array[Byte]] = names.map { n =>
      val u = n.getBytes(UTF_8)
      if (new String(u, UTF_8) == n) u else null
    }

    def indexOf(b: Array[Byte], from: Int, len: Int): Int = {
      var k = 0
      while (k < utf8.length) {
        val u = utf8(k)
        if (u != null && u.length == len && Arrays.equals(u, 0, len, b, from, from + len)) return k
        k += 1
      }
      -1
    }
  }

  private object Keep {
    def of(fields: Footprint.Fields): Keep = {
      val (names, subs) = fields.toArray.map[(String, Keep)] {
        case (n, None) => (n, null)
        case (n, Some(sub)) => (n, new Keep(sub.toArray, new Array[Keep](sub.size)))
      }.unzip
      new Keep(names, subs)
    }
  }

  private final class Name(val utf8: Array[Byte], val text: String)
  private val NameSlots = 256

  private val buffers: ThreadLocal[Array[Char]] = ThreadLocal.withInitial(() => new Array[Char](256))
  private val MaxKeptBuffer = 1 << 16

  private val Ones = 0x0101010101010101L
  private val Highs = 0x8080808080808080L

  private def hasZero(v: Long): Long = (v - Ones) & ~v & Highs

  /** Non-zero when the eight bytes of w hold a quote or a backslash, or,
    * with `nonAscii`, a byte ≥ 0x80. */
  private def special(w: Long, nonAscii: Boolean): Long =
    hasZero(w ^ (Ones * '"')) | hasZero(w ^ (Ones * '\\')) | (if (nonAscii) w & Highs else 0L)
}
