package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShim => E}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PDF text-extraction source (ISO 32000 subset) — the document format
  * a web crawl ships after HTML: a curation pipeline that drops every
  * `application/pdf` response throws away a big, high-quality slice of
  * the corpus (papers, manuals, reports). This is the header-to-text
  * pass that turns those bytes into training text WITHOUT a rendering
  * dependency: a tolerant object scan (the recovery walk real
  * extractors fall back to when the xref is stale or torn — crawled
  * PDFs usually are), FlateDecode through the JDK zlib Inflater (a
  * REAL decode), and a content-stream text-operator interpreter
  * (BT/ET, Tj, TJ, ', ", Td, TD, T*, Tm) over PDF literal and hex
  * strings with full escape semantics.
  *
  * Torn/hostile contract (the [[Warc]] discipline): never throws,
  * complete-objects-only. An `obj` whose dict, stream (`/Length`
  * honored when it fits, `endstream` scan otherwise), or `endobj`
  * didn't fully arrive is dropped — so a torn tail keeps every page
  * whose content stream landed and loses the rest; page TEXT comes
  * only from streams that inflate cleanly to their declared end
  * (truncated inflate output is never dressed as prose). Per-stream
  * 128 MB inflate cap (the per-unit convention). Encrypted documents
  * (`/Encrypt` in a trailer) keep their structural readout — the
  * object graph is plaintext — but text reads null, never ciphertext.
  * Page ORDER follows the catalog's page tree (`/Root → /Pages →
  * /Kids`, nested trees resolved depth-first with a cycle guard);
  * when the tree itself is lost the walk falls back to document
  * order, which the builder pins equal.
  *
  * Not in scope (documented, loud-by-null): non-Flate filters (LZW,
  * DCT, ASCII85…), CMap/ToUnicode remapping (text is taken at the
  * string-byte level — exact for the simple-font PDFs this engine
  * emits and for the large WinAnsi slice of the wild), object
  * streams (`/Type /ObjStm`), and decryption. */
object Pdf {

  /** Per-stream decompression-bomb ceiling ([[Warc.MaxRecordInflated]]
    * convention: per unit of work, never per document). */
  private[sources] val MaxStreamBytes = 128L << 20

  // regexes hoisted out of the per-object/per-stream hot path (a 20k-page
  // dump walks 40k dicts — per-call Pattern.compile dominated the scan)
  private val RefTailRe = """^\s+\d+\s+R""".r
  private val RefsRe = """(\d+)\s+\d+\s+R""".r
  private val FlateRe = """^\s*(\[\s*)?/FlateDecode(\s*\])?[\s/>\[]""".r
  private val PageTypeRe = """^\s*/Page([^a-zA-Z0-9#_.-]|$)""".r
  private val PagesTypeRe = """^\s*/Pages([^a-zA-Z0-9#_.-]|$)""".r
  private val CatalogTypeRe = """^\s*/Catalog""".r
  private val ObjStmTypeRe = """^\s*/ObjStm""".r
  private val IntRe = """\d+""".r

  final case class Doc(nObjects: Int, nPages: Int, nStreams: Int,
                       encrypted: Boolean, text: String,
                       title: String = null, author: String = null,
                       producer: String = null, created: String = null)

  // ---------------------------------------------------------------
  // byte helpers
  // ---------------------------------------------------------------

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  private def isDelim(c: Byte): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  private def startsWith(b: Array[Byte], i: Int, s: String): Boolean = {
    if (i < 0 || i + s.length > b.length) return false
    var k = 0
    while (k < s.length) {
      if (b(i + k) != s.charAt(k).toByte) return false
      k += 1
    }
    true
  }

  private def indexOf(b: Array[Byte], from: Int, s: String): Int = {
    var i = math.max(0, from)
    val last = b.length - s.length
    while (i <= last) {
      if (b(i) == s.charAt(0).toByte && startsWith(b, i, s)) return i
      i += 1
    }
    -1
  }

  // ---------------------------------------------------------------
  // object scan
  // ---------------------------------------------------------------

  /** One complete indirect object: dict bytes decoded Latin-1 for token
    * matching (PDF dict structure is ASCII), stream span into the blob. */
  private final case class PObj(num: Int, dict: String,
                                streamOff: Int, streamLen: Int) {
    def hasStream: Boolean = streamOff >= 0
  }

  /** Balanced `<< … >>` scan from `i` (at the first '<'): returns the
    * index just past the closing `>>`, or -1 when the dict never closes
    * in the arrived bytes. Skips literal strings (escape-aware), hex
    * strings, and comments so structural tokens inside data can't
    * unbalance the walk; depth capped against hostile nesting. */
  private def skipDict(b: Array[Byte], i0: Int): Int = {
    var i = i0
    var depth = 0
    while (i < b.length) {
      val c = b(i)
      if (c == '<' && i + 1 < b.length && b(i + 1) == '<') {
        depth += 1
        if (depth > 64) return -1
        i += 2
      } else if (c == '>' && i + 1 < b.length && b(i + 1) == '>') {
        depth -= 1
        i += 2
        if (depth == 0) return i
      } else if (c == '(') {
        // literal string: balanced parens, backslash escapes
        var bal = 1
        i += 1
        while (i < b.length && bal > 0) {
          if (b(i) == '\\') i += 2
          else {
            if (b(i) == '(') bal += 1
            else if (b(i) == ')') bal -= 1
            i += 1
          }
        }
        if (bal > 0) return -1
      } else if (c == '<') {
        // hex string
        i += 1
        while (i < b.length && b(i) != '>') i += 1
        if (i >= b.length) return -1
        i += 1
      } else if (c == '%') {
        while (i < b.length && b(i) != '\n' && b(i) != '\r') i += 1
      } else i += 1
    }
    -1
  }

  /** First `/Key` token position in a dict string (token-exact: the
    * char after the key must not extend the name). */
  private def keyPos(dict: String, key: String): Int = {
    var from = 0
    while (from >= 0) {
      val i = dict.indexOf(key, from)
      if (i < 0) return -1
      val j = i + key.length
      val ok = j >= dict.length || {
        val c = dict.charAt(j)
        !(c.isLetterOrDigit || c == '#' || c == '_' || c == '.' || c == '-')
      }
      if (ok) return i
      from = i + 1
    }
    -1
  }

  private def hasKey(dict: String, key: String): Boolean = keyPos(dict, key) >= 0

  /** Direct non-negative integer after `/Key` (e.g. `/Length 123`);
    * -1 when absent or indirect (`/Length 5 0 R`). */
  private def intAfter(dict: String, key: String): Long = {
    val i = keyPos(dict, key)
    if (i < 0) return -1L
    var j = i + key.length
    while (j < dict.length && (dict.charAt(j) == ' ' || dict.charAt(j) == '\n' ||
      dict.charAt(j) == '\r' || dict.charAt(j) == '\t')) j += 1
    val s = j
    while (j < dict.length && dict.charAt(j).isDigit) j += 1
    if (j == s || j - s > 18) return -1L
    // an indirect ref ("5 0 R") is not a direct length
    var k = j
    while (k < dict.length && dict.charAt(k) == ' ') k += 1
    val ks = k
    while (k < dict.length && dict.charAt(k).isDigit) k += 1
    if (k > ks) {
      var m = k
      while (m < dict.length && dict.charAt(m) == ' ') m += 1
      if (m < dict.length && dict.charAt(m) == 'R') return -1L
    }
    dict.substring(s, j).toLong
  }

  /** Indirect reference `N G R` after `/Key`: object number, or -1. */
  private def refAfter(dict: String, key: String): Int = {
    val i = keyPos(dict, key)
    if (i < 0) return -1
    var j = i + key.length
    while (j < dict.length && !dict.charAt(j).isDigit) {
      // only whitespace may sit between key and ref
      val c = dict.charAt(j)
      if (!(c == ' ' || c == '\n' || c == '\r' || c == '\t')) return -1
      j += 1
    }
    val s = j
    while (j < dict.length && dict.charAt(j).isDigit) j += 1
    if (j == s) return -1
    if (RefTailRe.findPrefixOf(dict.substring(j)).isEmpty) return -1
    val v = dict.substring(s, j)
    if (v.length > 9) -1 else v.toInt
  }

  /** All `N G R` refs inside the `[...]` array after `/Key`, in order.
    * Empty when the key is absent or holds a single ref (returned as
    * that one ref). */
  private def refArrayAfter(dict: String, key: String): Seq[Int] = {
    val i = keyPos(dict, key)
    if (i < 0) return Seq.empty
    var j = i + key.length
    while (j < dict.length && (dict.charAt(j) == ' ' || dict.charAt(j) == '\n' ||
      dict.charAt(j) == '\r' || dict.charAt(j) == '\t')) j += 1
    if (j < dict.length && dict.charAt(j) == '[') {
      val end = dict.indexOf(']', j)
      if (end < 0) return Seq.empty
      RefsRe.findAllMatchIn(dict.substring(j, end))
        .map(_.group(1)).filter(_.length <= 9).map(_.toInt).toSeq
    } else {
      val r = refAfter(dict, key)
      if (r < 0) Seq.empty else Seq(r)
    }
  }

  /** The tolerant object scan: every COMPLETE `N G obj … endobj` in
    * document order (a stream's extent honors a direct `/Length` that
    * fits, else falls back to the `endstream` scan — so a lying length
    * degrades to recovery, never to a hang or a throw). Duplicate
    * object numbers keep the LAST occurrence (incremental-update
    * semantics: appended generations supersede). */
  private def scanObjects(b: Array[Byte]): Seq[PObj] = {
    val out = scala.collection.mutable.ArrayBuffer[PObj]()
    var cur = 0
    var guard = 0
    while (cur < b.length && guard < 1000000) {
      guard += 1
      val o = indexOf(b, cur, "obj")
      if (o < 0) { cur = b.length }
      else {
        // boundary: ws* digits(gen) ws+ digits(num) going backwards,
        // and "obj" must be followed by a delimiter/ws
        var next = o + 3
        val afterOk = o + 3 >= b.length || isWs(b(o + 3)) || isDelim(b(o + 3))
        var i = o - 1
        while (i >= 0 && isWs(b(i))) i -= 1
        val genEnd = i
        while (i >= 0 && isDigit(b(i))) i -= 1
        val genStart = i + 1
        var numEnd = -1
        var numStart = -1
        if (genEnd >= genStart && i >= 0 && isWs(b(i))) {
          while (i >= 0 && isWs(b(i))) i -= 1
          numEnd = i
          while (i >= 0 && isDigit(b(i))) i -= 1
          numStart = i + 1
        }
        if (afterOk && numEnd >= numStart && numStart >= 0 &&
            numEnd - numStart < 9 &&
            (numStart == 0 || isWs(b(numStart - 1)) || isDelim(b(numStart - 1)))) {
          val num = new String(b, numStart, numEnd - numStart + 1,
            "ISO-8859-1").toInt
          var p = o + 3
          while (p < b.length && isWs(b(p))) p += 1
          var dict = ""
          var dictEnd = p
          if (startsWith(b, p, "<<")) {
            val e = skipDict(b, p)
            if (e > 0) {
              dict = new String(b, p, e - p, "ISO-8859-1")
              dictEnd = e
            } else dictEnd = -1
          }
          if (dictEnd > 0) {
            var q = dictEnd
            while (q < b.length && isWs(b(q))) q += 1
            var sOff = -1
            var sLen = -1
            var complete = false
            var endPos = -1
            if (startsWith(b, q, "stream")) {
              var d = q + 6
              if (d < b.length && b(d) == '\r') d += 1
              if (d < b.length && b(d) == '\n') d += 1
              val len = intAfter(dict, "/Length")
              var e = -1
              if (len >= 0 && d + len <= b.length) {
                // declared length must be CLOSED by endstream to count
                var t = d + len.toInt
                while (t < b.length && isWs(b(t))) t += 1
                if (startsWith(b, t, "endstream")) {
                  sOff = d; sLen = len.toInt; e = t + 9
                }
              }
              if (e < 0) {
                // recovery: first endstream token
                val t = indexOf(b, d, "endstream")
                if (t >= 0) {
                  var se = t
                  // trailing EOL before endstream belongs to the marker
                  if (se > d && b(se - 1) == '\n') se -= 1
                  if (se > d && b(se - 1) == '\r') se -= 1
                  sOff = d; sLen = se - d; e = t + 9
                }
              }
              if (e >= 0) {
                var t = e
                while (t < b.length && isWs(b(t))) t += 1
                if (startsWith(b, t, "endobj")) { complete = true; endPos = t + 6 }
              }
            } else {
              // dict-only (or scalar) object: scan to endobj
              val t = indexOf(b, dictEnd, "endobj")
              if (t >= 0) { complete = true; endPos = t + 6 }
            }
            if (complete) {
              out += PObj(num, dict, if (sLen >= 0) sOff else -1,
                math.max(sLen, 0))
              next = endPos
            }
          }
        }
        cur = math.max(next, o + 3)
      }
    }
    out.toSeq
  }

  // ---------------------------------------------------------------
  // stream decode
  // ---------------------------------------------------------------

  /** Decoded content-stream bytes: raw slice, or zlib-inflated when the
    * dict names `/FlateDecode`; null on an unsupported filter, a broken
    * deflate stream, or an inflate past [[MaxStreamBytes]]. */
  private def decodeStream(b: Array[Byte], o: PObj): Array[Byte] = {
    if (!o.hasStream) return null
    val raw = java.util.Arrays.copyOfRange(b, o.streamOff, o.streamOff + o.streamLen)
    val fp = keyPos(o.dict, "/Filter")
    if (fp < 0) return raw
    // single name or 1-element array of the one supported filter
    val tail = o.dict.substring(fp + 7)
    val flate = FlateRe.findPrefixOf(tail + " ").isDefined
    if (!flate) return null
    val inf = new java.util.zip.Inflater() // zlib wrapper: PDF FlateDecode
    try {
      inf.setInput(raw)
      val bos = new java.io.ByteArrayOutputStream(math.min(raw.length * 4, 1 << 20))
      val buf = new Array[Byte](65536)
      var dead = false
      while (!inf.finished() && !dead) {
        val n = try inf.inflate(buf)
                catch { case _: java.util.zip.DataFormatException => -1 }
        if (n < 0) dead = true
        else if (n == 0) { if (inf.needsInput() || inf.needsDictionary()) dead = true }
        else {
          if (bos.size().toLong + n > MaxStreamBytes) dead = true
          else bos.write(buf, 0, n)
        }
      }
      // a stream that didn't reach its deflate end is torn: no text
      if (dead || !inf.finished()) null else bos.toByteArray
    } finally inf.end()
  }

  // ---------------------------------------------------------------
  // content-stream text interpreter
  // ---------------------------------------------------------------

  /** PDF literal-string unescape from `(` at i0: appends raw BYTES
    * (strings are byte strings — UTF-8 text survives untouched) and
    * returns the index past the closing `)`. Spec semantics: balanced
    * unescaped parens nest; `\n \r \t \b \f \( \) \\` escapes; 1-3
    * digit octal; backslash-EOL line continuation; raw EOL normalizes
    * to `\n`. */
  private def literalString(b: Array[Byte], i0: Int,
                            out: java.io.ByteArrayOutputStream): Int = {
    var i = i0 + 1
    var bal = 1
    while (i < b.length && bal > 0) {
      val c = b(i)
      if (c == '\\') {
        if (i + 1 >= b.length) { i += 1 }
        else b(i + 1) match {
          case 'n' => out.write('\n'); i += 2
          case 'r' => out.write('\r'); i += 2
          case 't' => out.write('\t'); i += 2
          case 'b' => out.write('\b'); i += 2
          case 'f' => out.write('\f'); i += 2
          case '\r' =>
            i += 2; if (i < b.length && b(i) == '\n') i += 1 // continuation
          case '\n' => i += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < b.length && b(i) >= '0' && b(i) <= '7') {
              v = v * 8 + (b(i) - '0'); i += 1; k += 1
            }
            out.write(v & 0xff)
          case other => out.write(other); i += 2
        }
      } else if (c == '(') { bal += 1; out.write(c); i += 1 }
      else if (c == ')') { bal -= 1; if (bal > 0) out.write(c); i += 1 }
      else if (c == '\r') {
        out.write('\n'); i += 1
        if (i < b.length && b(i) == '\n') i += 1
      } else { out.write(c); i += 1 }
    }
    i
  }

  /** Hex string from `<` at i0: pairs of hex digits (whitespace
    * ignored, odd final digit padded with 0); returns index past `>`. */
  private def hexString(b: Array[Byte], i0: Int,
                        out: java.io.ByteArrayOutputStream): Int = {
    var i = i0 + 1
    var hi = -1
    def hexVal(c: Byte): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    while (i < b.length && b(i) != '>') {
      val v = hexVal(b(i))
      if (v >= 0) {
        if (hi < 0) hi = v
        else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    if (i < b.length) i + 1 else i
  }

  /** Text shown by one decoded content stream, as LINE byte-arrays in
    * paint order. Show ops (Tj, TJ, ', ") append to the current line;
    * line breaks come from T*, ', ", and any Td/TD/Tm that moves
    * vertically (the approximation that is EXACT for the line-per-Td
    * layout this engine's builder and most text-centric generators
    * emit). A break flushes only after something was shown, so the
    * positioning preamble doesn't fabricate a leading empty line. */
  private def streamText(c: Array[Byte],
                         lines: scala.collection.mutable.ArrayBuffer[Array[Byte]]): Boolean = {
    var i = 0
    var shown = false
    var any = false
    val cur = new java.io.ByteArrayOutputStream()
    // operand window: last string run + last two numerics
    val pend = new java.io.ByteArrayOutputStream() // strings since last op
    var numCount = 0
    var lastNum = 0.0
    var prevNum = 0.0
    def flushLine(): Unit = { lines += cur.toByteArray; cur.reset() }
    def break(): Unit = if (shown) { flushLine(); any = true }
    def show(): Unit = { cur.write(pend.toByteArray); shown = true }
    def clear(): Unit = { pend.reset(); numCount = 0 }
    while (i < c.length) {
      val ch = c(i)
      if (isWs(ch)) i += 1
      else if (ch == '(') { i = literalString(c, i, pend) }
      else if (ch == '<' && i + 1 < c.length && c(i + 1) == '<') {
        val e = skipDict(c, i); i = if (e > 0) e else c.length
      }
      else if (ch == '<') { i = hexString(c, i, pend) }
      else if (ch == '[' || ch == ']') i += 1 // TJ arrays: strings collect, kerns ignored
      else if (ch == '/') {
        i += 1
        while (i < c.length && !isWs(c(i)) && !isDelim(c(i))) i += 1
      }
      else if (isDigit(ch) || ch == '+' || ch == '-' || ch == '.') {
        val s = i
        i += 1
        while (i < c.length && (isDigit(c(i)) || c(i) == '.' ||
          c(i) == '+' || c(i) == '-' || c(i) == 'e' || c(i) == 'E')) i += 1
        val v = try new String(c, s, i - s, "ISO-8859-1").toDouble
                catch { case _: NumberFormatException => 0.0 }
        prevNum = lastNum; lastNum = v; numCount += 1
      }
      else if (ch == '\'' || ch == '"') {
        // move-to-next-line + show
        break(); show(); shown = true; clear(); i += 1
      }
      else if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') || ch == '*') {
        val s = i
        i += 1
        while (i < c.length && ((c(i) >= 'a' && c(i) <= 'z') ||
          (c(i) >= 'A' && c(i) <= 'Z') || c(i) == '*' || isDigit(c(i)))) i += 1
        val op = new String(c, s, i - s, "ISO-8859-1")
        op match {
          case "Tj" | "TJ" => show(); clear()
          case "Td" | "TD" =>
            if (numCount >= 1 && lastNum != 0.0) break()
            clear()
          case "T*" => break(); clear()
          case "Tm" =>
            // a matrix set is a line move unless it's the first one
            if (shown) break()
            clear()
          case "ET" | "BT" => clear()
          case _ => clear()
        }
      }
      else i += 1
    }
    if (shown) { flushLine(); any = true }
    any
  }

  // ---------------------------------------------------------------
  // assembly
  // ---------------------------------------------------------------

  /** Full parse: structural readout + extracted text. Null when the
    * blob is not a PDF (`%PDF-` must appear in the first 1024 bytes —
    * the standard tolerance window). Text null when nothing legible
    * survived (torn streams, unsupported filters, encryption). */
  def parse(b: Array[Byte]): Doc = {
    if (b == null) return null
    val headWin = math.min(b.length, 1024)
    var h = -1
    var i = 0
    while (h < 0 && i + 5 <= headWin) {
      if (startsWith(b, i, "%PDF-")) h = i
      i += 1
    }
    if (h < 0) return null
    try parseInner(b)
    catch {
      // last-resort guard behind the bounded walk: hostile bytes must
      // degrade to a structural null, never kill a 100 TB stage
      case scala.util.control.NonFatal(_) => Doc(0, 0, 0, encrypted = false, null)
    }
  }

  /** OBJECT STREAMS (ISO 32000 §7.5.7): modern writers pack small
    * objects — typically the page DICTS and catalog — into one
    * compressed `/Type /ObjStm` stream; a scan that only sees direct
    * `obj…endobj` pairs loses those documents' whole page tree. The
    * expansion: decode the container, read the `/N` (objnum, offset)
    * pairs from the header region before `/First`, and lift each
    * embedded dict into the object table. Direct objects WIN over
    * embedded ones on a number collision (an appended direct update
    * supersedes a packed original — the recovery convention); bounds
    * hostile `/N`/offsets, never throws. */
  private def expandObjStm(b: Array[Byte],
      byNum: scala.collection.mutable.LinkedHashMap[Int, PObj]): Unit = {
    val containers = byNum.values.filter { o =>
      o.hasStream && {
        val t = keyPos(o.dict, "/Type")
        t >= 0 && ObjStmTypeRe.findPrefixOf(o.dict.substring(t + 5)).isDefined
      }
    }.toSeq
    containers.foreach { o =>
      val dec = decodeStream(b, o)
      val n = intAfter(o.dict, "/N")
      val first = intAfter(o.dict, "/First")
      if (dec != null && n > 0 && n <= 100000 && first > 0 &&
          first <= dec.length) {
        val header = new String(dec, 0, first.toInt, "ISO-8859-1")
        val ints = IntRe.findAllIn(header).toSeq
        if (ints.size >= 2 * n.toInt) {
          var k = 0
          while (k < n.toInt) {
            val numS = ints(2 * k)
            val offS = ints(2 * k + 1)
            if (numS.length <= 9 && offS.length <= 9) {
              val num = numS.toInt
              val p0 = first.toInt + offS.toInt
              if (p0 >= 0 && p0 < dec.length && !byNum.contains(num)) {
                var q = p0
                while (q < dec.length && isWs(dec(q))) q += 1
                if (startsWith(dec, q, "<<")) {
                  val e = skipDict(dec, q)
                  if (e > 0)
                    byNum(num) = PObj(num,
                      new String(dec, q, e - q, "ISO-8859-1"), -1, 0)
                }
              }
            }
            k += 1
          }
        }
      }
    }
  }

  private def parseInner(b: Array[Byte]): Doc = {
    val objsAll = scanObjects(b)
    // incremental-update semantics: last same-numbered object wins
    val byNum = scala.collection.mutable.LinkedHashMap[Int, PObj]()
    objsAll.foreach(o => byNum(o.num) = o)
    expandObjStm(b, byNum)
    val objs = byNum.values.toSeq
    val nStreams = objs.count(_.hasStream)

    // encryption + /Info from trailer dicts (classic trailer keyword,
    // or an appended xref-stream trailer shape: /Encrypt alongside
    // /Root); the LAST trailer's /Info wins (incremental update)
    var encrypted = false
    var infoRef = -1
    var tp = indexOf(b, 0, "trailer")
    while (tp >= 0) {
      var q = tp + 7
      while (q < b.length && isWs(b(q))) q += 1
      if (startsWith(b, q, "<<")) {
        val e = skipDict(b, q)
        if (e > 0) {
          val d = new String(b, q, e - q, "ISO-8859-1")
          if (hasKey(d, "/Encrypt")) encrypted = true
          val r = refAfter(d, "/Info")
          if (r >= 0) infoRef = r
        }
      }
      tp = indexOf(b, tp + 7, "trailer")
    }
    if (!encrypted)
      encrypted = objs.exists(o => hasKey(o.dict, "/Encrypt") &&
        hasKey(o.dict, "/Root") && hasKey(o.dict, "/Size"))

    def isPage(o: PObj): Boolean = {
      val t = keyPos(o.dict, "/Type")
      t >= 0 && {
        val rest = o.dict.substring(t + 5)
        PageTypeRe.findPrefixOf(rest + " ").isDefined
      }
    }
    def isPages(o: PObj): Boolean = {
      val t = keyPos(o.dict, "/Type")
      t >= 0 && PagesTypeRe
        .findPrefixOf(o.dict.substring(t + 5) + " ").isDefined
    }

    // page order: catalog → /Pages tree → /Kids depth-first
    val catalog = objs.find(o => hasKey(o.dict, "/Type") &&
      CatalogTypeRe.findPrefixOf(
        o.dict.substring(keyPos(o.dict, "/Type") + 5)).isDefined)
    val ordered = scala.collection.mutable.ArrayBuffer[PObj]()
    val seen = scala.collection.mutable.HashSet[Int]()
    def walkTree(num: Int, depth: Int): Unit = {
      if (depth > 32 || seen.contains(num)) return
      seen += num
      byNum.get(num).foreach { o =>
        if (isPage(o)) ordered += o
        else if (isPages(o))
          refArrayAfter(o.dict, "/Kids").foreach(walkTree(_, depth + 1))
      }
    }
    catalog.flatMap(c => Some(refAfter(c.dict, "/Pages")).filter(_ >= 0))
      .foreach(walkTree(_, 0))
    val pages = if (ordered.nonEmpty) ordered.toSeq else objs.filter(isPage)

    // text: each page's /Contents stream(s), decoded and interpreted
    val allLines = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var anyText = false
    pages.foreach { pg =>
      if (!encrypted) {
        val refs = refArrayAfter(pg.dict, "/Contents")
        refs.foreach { r =>
          byNum.get(r).filter(_.hasStream).foreach { so =>
            val dec = decodeStream(b, so)
            if (dec != null && streamText(dec, allLines)) anyText = true
          }
        }
      }
    }
    val text =
      if (!anyText) null
      else {
        val bos = new java.io.ByteArrayOutputStream()
        var first = true
        allLines.foreach { ln =>
          if (!first) bos.write('\n')
          bos.write(ln)
          first = false
        }
        new String(bos.toByteArray, "UTF-8")
      }
    // document-information dictionary: strings are ENCRYPTED in an
    // encrypted PDF — withheld there, same contract as the text
    var title: String = null
    var author: String = null
    var producer: String = null
    var created: String = null
    if (!encrypted && infoRef >= 0) byNum.get(infoRef).foreach { o =>
      title = dictString(o.dict, "/Title")
      author = dictString(o.dict, "/Author")
      producer = dictString(o.dict, "/Producer")
      created = dictString(o.dict, "/CreationDate")
    }
    Doc(objs.size, pages.size, nStreams, encrypted, text,
      title, author, producer, created)
  }

  /** A dict entry's STRING value (`/Key (literal)` or `/Key <hex>`),
    * escape-decoded at the byte level; a UTF-16BE BOM selects that
    * decoding, else PDFDocEncoding's Latin-1 core. Null when absent or
    * not a string. */
  private def dictString(dict: String, key: String): String = {
    val i = keyPos(dict, key)
    if (i < 0) return null
    var j = i + key.length
    while (j < dict.length && (dict.charAt(j) == ' ' || dict.charAt(j) == '\n' ||
      dict.charAt(j) == '\r' || dict.charAt(j) == '\t')) j += 1
    if (j >= dict.length) return null
    val bos = new java.io.ByteArrayOutputStream()
    // the dict came through Latin-1, so char codes ARE the bytes
    val bytes = dict.substring(j).getBytes("ISO-8859-1")
    if (bytes(0) == '(') literalString(bytes, 0, bos)
    else if (bytes(0) == '<' && (bytes.length < 2 || bytes(1) != '<'))
      hexString(bytes, 0, bos)
    else return null
    val v = bos.toByteArray
    if (v.length >= 2 && (v(0) & 0xff) == 0xfe && (v(1) & 0xff) == 0xff)
      new String(v, 2, v.length - 2, "UTF-16BE")
    else new String(v, "ISO-8859-1")
  }

  // ---------------------------------------------------------------
  // builder (the exporter twin)
  // ---------------------------------------------------------------

  private def escapeLiteral(s: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(s.length + 8)
    s.foreach { c =>
      if (c == '\\' || c == '(' || c == ')') bos.write('\\')
      if (c == '\n') { bos.write('\\'); bos.write('n') }
      else if (c == '\r') { bos.write('\\'); bos.write('r') }
      else bos.write(c)
    }
    bos.toByteArray
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6) // pinned level: replayable bytes
    try {
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 16)
      val buf = new Array[Byte](65536)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    } finally d.end()
  }

  /** A real, valid PDF (proper xref + trailer — opens in a viewer)
    * whose page content is `text` laid out one literal-string `Tj` per
    * line, `linesPerPage` lines to a page: Helvetica, 12 pt, `0 -14 Td`
    * line advance. `deflatePages=true` FlateDecode-compresses every
    * content stream (a REAL zlib encode the extractor must genuinely
    * inflate). `encrypted=true` appends a stub `/Encrypt` dictionary
    * and marks the trailer — structure stays legible, text must not. */
  def build(text: String, deflatePages: Boolean,
            linesPerPage: Int = 12, encrypted: Boolean = false,
            info: Seq[(String, String, Boolean)] = Seq.empty): Array[Byte] = {
    require(linesPerPage > 0, "linesPerPage must be positive")
    val lines = text.split("\n", -1)
    val pageLines = lines.grouped(linesPerPage).toSeq
    val nPages = pageLines.size
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def obj(num: Int)(body: => Unit): Unit = {
      offsets += bos.size()
      w(s"$num 0 obj\n"); body; w("\nendobj\n")
    }
    w("%PDF-1.4\n%âãÏÓ\n")
    val firstPageObj = 4
    val kids = (0 until nPages)
      .map(i => s"${firstPageObj + 2 * i} 0 R").mkString(" ")
    obj(1)(w("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(2)(w(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"))
    obj(3)(w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"))
    pageLines.zipWithIndex.foreach { case (pls, i) =>
      val pageNum = firstPageObj + 2 * i
      obj(pageNum)(w(s"<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> " +
        s"/Contents ${pageNum + 1} 0 R >>"))
      val content = new java.io.ByteArrayOutputStream()
      content.write("BT\n/F1 12 Tf\n72 720 Td\n".getBytes("ISO-8859-1"))
      pls.zipWithIndex.foreach { case (ln, k) =>
        if (k > 0) content.write("0 -14 Td\n".getBytes("ISO-8859-1"))
        content.write('(')
        content.write(escapeLiteral(ln.getBytes("UTF-8")))
        content.write(") Tj\n".getBytes("ISO-8859-1"))
      }
      content.write("ET".getBytes("ISO-8859-1"))
      val raw = content.toByteArray
      val payload = if (deflatePages) deflate(raw) else raw
      val filter = if (deflatePages) " /Filter /FlateDecode" else ""
      obj(pageNum + 1) {
        w(s"<< /Length ${payload.length}$filter >>\nstream\n")
        bos.write(payload)
        w("\nendstream")
      }
    }
    var size = firstPageObj + 2 * nPages
    var encObj = -1
    if (encrypted) {
      obj(size)(w("<< /Filter /Standard /V 1 /R 2 /P -44 >>"))
      encObj = size
      size += 1
    }
    // the document-information dictionary goes LAST — where real
    // writers put it, and why a torn download loses metadata first.
    // info entries: (key, value, utf16?) — utf16 writes the BOM'd
    // UTF-16BE byte string real producers emit for non-Latin titles
    var infoObj = -1
    if (info.nonEmpty) {
      obj(size) {
        w("<< ")
        info.foreach { case (k, v, utf16) =>
          val raw =
            if (utf16) Array[Byte](0xfe.toByte, 0xff.toByte) ++
              v.getBytes("UTF-16BE")
            else v.getBytes("ISO-8859-1")
          w(s"/$k (")
          bos.write(escapeLiteral(raw))
          w(") ")
        }
        w(">>")
      }
      infoObj = size
      size += 1
    }
    val xrefOff = bos.size()
    w(s"xref\n0 $size\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    val enc = if (encObj >= 0) s" /Encrypt $encObj 0 R" else ""
    val inf = if (infoObj >= 0) s" /Info $infoObj 0 R" else ""
    w(s"trailer\n<< /Size $size /Root 1 0 R$enc$inf >>\nstartxref\n$xrefOff\n%%EOF\n")
    bos.toByteArray
  }

  /** The MODERN-writer shape of [[build]]: catalog, page tree, font,
    * and every page DICT packed into one FlateDecode `/Type /ObjStm`
    * container (object 1), content streams as regular objects — the
    * layout PDF 1.5+ producers actually emit, where a direct-scan-only
    * reader sees zero pages. No xref (the stale/absent-xref recovery
    * case is exactly what the tolerant scan exists for); trailer names
    * the catalog. */
  def buildObjStm(text: String, deflatePages: Boolean,
                  linesPerPage: Int = 12): Array[Byte] = {
    require(linesPerPage > 0, "linesPerPage must be positive")
    val lines = text.split("\n", -1)
    val pageLines = lines.grouped(linesPerPage).toSeq
    val nPages = pageLines.size
    // embedded: 2 catalog, 3 pages, 4 font, 5..4+np page dicts;
    // regular: 1 the ObjStm, 5+np..4+2np content streams
    val kids = (0 until nPages).map(i => s"${5 + i} 0 R").mkString(" ")
    val embedded: Seq[(Int, String)] =
      Seq(2 -> "<< /Type /Catalog /Pages 3 0 R >>",
        3 -> s"<< /Type /Pages /Kids [$kids] /Count $nPages >>",
        4 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
      (0 until nPages).map(i => (5 + i) ->
        (s"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 4 0 R >> >> " +
          s"/Contents ${5 + nPages + i} 0 R >>"))
    val bodies = embedded.map(_._2.getBytes("ISO-8859-1"))
    val offsets = bodies.scanLeft(0)((acc, x) => acc + x.length + 1).init
    val header = embedded.map(_._1).zip(offsets)
      .map { case (num, off) => s"$num $off" }.mkString(" ") + "\n"
    val payload = new java.io.ByteArrayOutputStream()
    payload.write(header.getBytes("ISO-8859-1"))
    bodies.foreach { x => payload.write(x); payload.write('\n') }
    val stm = deflate(payload.toByteArray)
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n%âãÏÓ\n")
    w(s"1 0 obj\n<< /Type /ObjStm /N ${embedded.size} " +
      s"/First ${header.length} /Length ${stm.length} " +
      "/Filter /FlateDecode >>\nstream\n")
    bos.write(stm)
    w("\nendstream\nendobj\n")
    pageLines.zipWithIndex.foreach { case (pls, i) =>
      val content = new java.io.ByteArrayOutputStream()
      content.write("BT\n/F1 12 Tf\n72 720 Td\n".getBytes("ISO-8859-1"))
      pls.zipWithIndex.foreach { case (ln, k) =>
        if (k > 0) content.write("0 -14 Td\n".getBytes("ISO-8859-1"))
        content.write('(')
        content.write(escapeLiteral(ln.getBytes("UTF-8")))
        content.write(") Tj\n".getBytes("ISO-8859-1"))
      }
      content.write("ET".getBytes("ISO-8859-1"))
      val raw = content.toByteArray
      val data = if (deflatePages) deflate(raw) else raw
      val filter = if (deflatePages) " /Filter /FlateDecode" else ""
      w(s"${5 + nPages + i} 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      bos.write(data)
      w("\nendstream\nendobj\n")
    }
    w(s"trailer\n<< /Size ${5 + 2 * nPages} /Root 2 0 R >>\n%%EOF\n")
    bos.toByteArray
  }

  /** ObjStm-shaped PDF blobs over the documents table — the modern-
    * writer twin of [[synthesizePdfPayloads]] (content streams
    * FlateDecode on odd ids). Plants: id%37==0 md5 garbage (no row),
    * id%37==5 TORN 10 bytes into the ObjStm itself — the WHOLE page
    * tree travels in that one stream, so the torn document reads zero
    * pages and null text (structural row, the modern failure shape). */
  def synthesizePdfObjStmPayloads(docs: DataFrame, idCol: String,
                                  textCol: String): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)].map { case (id, text) =>
        val payload =
          if (id % 37 == 0)
            java.security.MessageDigest.getInstance("MD5")
              .digest(id.toString.getBytes("US-ASCII")) ++ new Array[Byte](16)
          else {
            val full = buildObjStm(text, deflatePages = id % 2 == 1)
            if (id % 37 == 5) {
              val cut = indexOf(full, 0, "stream\n") + 17
              full.take(cut)
            } else full
          }
        (id, payload)
      }.toDF("doc_id", "payload")
  }

  // ---------------------------------------------------------------
  // Spark surface
  // ---------------------------------------------------------------

  /** One row per parseable PDF blob (non-PDF bytes yield no row — the
    * torn/garbage contract): structural readout + extracted text.
    * Pure map; stream-safe. */
  def read(blobs: DataFrame, payloadCol: String): DataFrame =
    blobs.withColumn("__p", E.column(PdfRead(E.expression(col(payloadCol)))))
      .where(col("__p").isNotNull)
      .select(blobs.columns.filterNot(_ == payloadCol).map(col).toSeq :+ col("__p.*"): _*)

  /** Extracted text as a COLUMN (null on non-PDF bytes or nothing
    * legible) — the chain-composition surface: route an
    * `application/pdf` HTTP body straight into the prose pipeline.
    * Pure map. */
  def textColumn(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    E.column(PdfRead(E.expression(payload))).getField("text")

  /** PDF blobs with id-derived DOCUMENT-INFORMATION dictionaries (the
    * metadata twin of [[synthesizePdfPayloads]]): every non-plant id
    * carries /Title (UTF-16BE with BOM on odd ids — how real producers
    * write non-Latin titles), /Author, /Producer, /CreationDate, the
    * info object written LAST like real writers do. Plants: id%37==0
    * md5 garbage (no row), id%37==5 TORN in the first content stream —
    * the trailing info object is lost with it (a torn download loses
    * metadata first), id%37==17 ENCRYPTED (info strings are encrypted
    * in a real encrypted PDF: withheld, never ciphertext). */
  def synthesizePdfInfoPayloads(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)].map { case (id, text) =>
        val payload =
          if (id % 37 == 0)
            java.security.MessageDigest.getInstance("MD5")
              .digest(id.toString.getBytes("US-ASCII")) ++ new Array[Byte](16)
          else {
            val full = build(text, deflatePages = id % 2 == 1,
              encrypted = id % 37 == 17,
              info = Seq(
                ("Title", s"Doc $id ü", id % 2 == 1),
                ("Author", s"Author ${id % 7}", false),
                ("Producer", "graft 1.0", false),
                ("CreationDate", f"D:202601${1 + id % 28}%02d000000Z", false)))
            if (id % 37 == 5) {
              val cut = indexOf(full, 0, "stream\n") + 17
              full.take(cut)
            } else full
          }
        (id, payload)
      }.toDF("doc_id", "payload")
  }

  /** PDF blobs with id-derived plants over the documents table (the
    * [[Zip.synthesizeZipPayloads]] convention): the document text laid
    * out 12 lines/page — plain content streams on even ids, FlateDecode
    * on odd (both decode paths gated). Plants: id%37==0 md5 garbage (no
    * header → no row), id%37==5 TORN 10 bytes into the FIRST content
    * stream (catalog + page tree + page 1's dict are complete, no
    * content survives → structural row, null text), id%37==17
    * ENCRYPTED (structure legible, text withheld). */
  def synthesizePdfPayloads(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)].map { case (id, text) =>
        val payload =
          if (id % 37 == 0)
            java.security.MessageDigest.getInstance("MD5")
              .digest(id.toString.getBytes("US-ASCII")) ++ new Array[Byte](16)
          else {
            val full = build(text, deflatePages = id % 2 == 1,
              encrypted = id % 37 == 17)
            if (id % 37 == 5) {
              val cut = indexOf(full, 0, "stream\n") + 17
              full.take(cut)
            } else full
          }
        (id, payload)
      }.toDF("doc_id", "payload")
  }
}

/** pdf_doc(binary) → struct<n_objects, n_pages, n_streams, encrypted,
  * text> — [[Pdf.parse]] as a scalar expression: NULL struct on
  * non-PDF bytes, null `text` when nothing legible survived (torn
  * streams, unsupported filters, encryption). Pure map. */
case class PdfRead(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def nullSafeEval(input: Any): Any = {
    val d = Pdf.parse(input.asInstanceOf[Array[Byte]])
    def s(x: String) = if (x == null) null else UTF8String.fromString(x)
    if (d == null) null
    else InternalRow(d.nObjects, d.nPages, d.nStreams, d.encrypted,
      s(d.text), s(d.title), s(d.author), s(d.producer), s(d.created))
  }

  // non-PDF bytes read as a NULL struct whatever the child's
  // nullability — downstream GetStructField must keep its null check
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pdf_doc expects BINARY, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_objects", IntegerType, nullable = false),
    StructField("n_pages", IntegerType, nullable = false),
    StructField("n_streams", IntegerType, nullable = false),
    StructField("encrypted", BooleanType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("title", StringType, nullable = true),
    StructField("author", StringType, nullable = true),
    StructField("producer", StringType, nullable = true),
    StructField("created", StringType, nullable = true)))
  override protected def withNewChildInternal(newChild: Expression): PdfRead =
    copy(child = newChild)
  override def prettyName: String = "pdf_doc"
}
