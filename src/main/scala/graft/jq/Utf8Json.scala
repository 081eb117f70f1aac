package graft.jq

import com.fasterxml.jackson.core.StreamReadConstraints
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
  * It never words an error. [[read]] gives `null` for whatever it does not
  * accept, and the caller parses that row on the `String` lane, so every
  * `$error` and every refused row's node is Jackson's. What it accepts, it
  * reads to the node the `String` lane builds from `toString` of the value:
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

  /** The node of `json` (non-null), or null when it is refused. */
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
    try r.document()
    catch { case Refused => null }
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
      val v = if (i == end) Json.NullN else value(top)
      ws()
      if (i != end) refuse()
      v
    }

    private def at: Int = if (i < end) b(i) else -1

    private def ws(): Unit =
      while (i < end && { val c = b(i); c == ' ' || c == '\n' || c == '\r' || c == '\t' }) i += 1

    private def expect(c: Char): Unit = { if (at != c) refuse(); i += 1; ws() }

    private def enter(): Unit = { depth += 1; if (depth > maxDepth) refuse(); i += 1; ws() }

    /** The value at i; an object value keeps only what `keep` names
      * (null keeps everything). */
    private def value(keep: Keep): JsonNode = at.toChar match {
      case '{' => obj(keep)
      case '[' =>
        enter()
        val a = Json.F.arrayNode()
        if (at == ']') i += 1
        else {
          a.add(value(null)); ws()
          while (at == ',') { i += 1; ws(); a.add(value(null)); ws() }
          expect(']')
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
      enter()
      val o = Json.F.objectNode()
      if (at == '}') i += 1
      else {
        var more = true
        while (more) {
          if (at != '"') refuse()
          if (keep == null) {
            val k = key()
            ws(); expect(':')
            o.set[JsonNode](k, value(null))
          } else {
            val idx = keyIndex(keep)
            ws(); expect(':')
            if (idx < 0) skip() else o.set[JsonNode](keep.names(idx), value(keep.subs(idx)))
          }
          ws()
          if (at == ',') { i += 1; ws() } else { expect('}'); more = false }
        }
      }
      depth -= 1
      o
    }

    /** Validates the value at i without building it. */
    private def skip(): Unit = at.toChar match {
      case '{' =>
        enter()
        if (at == '}') i += 1
        else {
          var more = true
          while (more) {
            if (at != '"') refuse()
            skipString(maxName); ws(); expect(':'); skip(); ws()
            if (at == ',') { i += 1; ws() } else { expect('}'); more = false }
          }
        }
        depth -= 1
      case '[' =>
        enter()
        if (at == ']') i += 1
        else {
          skip(); ws()
          while (at == ',') { i += 1; ws(); skip(); ws() }
          expect(']')
        }
        depth -= 1
      case '"' => skipString(maxString)
      case 't' => literal("true")
      case 'f' => literal("false")
      case 'n' => literal("null")
      case _ => scanNumber()
    }

    private def literal(word: String): Unit = {
      var k = 0
      while (k < word.length) { if (at != word.charAt(k)) refuse(); i += 1; k += 1 }
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
      if (at == '0') i += 1 else if (at < '1' || at > '9' || digits() == 0) refuse()
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
      * backslash or a byte ≥ 0x80, eight bytes at a time; true at the
      * closing quote. */
    private def scanPlain(): Boolean = {
      while (true) {
        if (i + 8 <= end && special(Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i), true) == 0) i += 8
        else {
          if (i >= end) refuse()
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
        else decode(s)
      if (i - s > maxString) refuse()
      i += 1
      text
    }

    /** A full-tree object key. */
    private def key(): String = {
      i += 1
      val s = i
      val text = if (scanPlain()) name(b, s, i - s) else decode(s)
      if (i - s > maxName) refuse()
      i += 1
      text
    }

    /** The index in `keep` of the object key at i, or -1. Plain ASCII keys
      * are compared as bytes; escaped or non-ASCII ones are decoded. */
    private def keyIndex(keep: Keep): Int = {
      i += 1
      val s = i
      val idx = if (scanPlain()) keep.indexOf(b, s, i - s) else keep.names.indexOf(decode(s))
      if (i - s > maxName) refuse()
      i += 1
      idx
    }

    /** Decodes a string whose content starts at s, from i (past its plain
      * prefix) to its closing quote, where it leaves i. */
    private def decode(s: Int): String = {
      if (chars == null) chars = buffers.get()
      n = 0
      var k = s
      while (k < i) { put(b(k)); k += 1 }
      while ({ if (i >= end) refuse(); b(i) != '"' }) {
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

    /** Moves past the string at i, checking its escapes only: its other
      * bytes are opaque. At most `max` bytes between its quotes. */
    private def skipString(max: Int): Unit = {
      i += 1
      val s = i
      var open = true
      while (open) {
        if (i + 8 <= end && special(Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i), false) == 0) i += 8
        else {
          val c = at
          if (c == '"') open = false
          else if (c == '\\') { i += 1; escape() }
          else if (i >= end) refuse()
          else i += 1
        }
      }
      if (i - s > max) refuse()
      i += 1
    }
  }
}

private[jq] object Utf8Json {

  /** What refuses a row: thrown without a stack trace, caught in `read`. */
  private[jq] object Refused extends RuntimeException(null, null, false, false)

  private def refuse(): Nothing = throw Refused

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
