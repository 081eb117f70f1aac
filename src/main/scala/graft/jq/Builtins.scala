package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import java.nio.charset.StandardCharsets
import java.util.regex.{Matcher, Pattern => JPattern}

/** jq builtin functions (value level, regex, formats, dates).
  *
  * Each entry builds the builtin's node from its compiled arguments; the
  * arguments run on the caller's frame. `fn0`/`fn1`/`fn2` builtins yield one
  * output per combination of argument values (the first argument
  * outermost), so they are single-output when their arguments are; `one`
  * builtins always yield exactly one; `gen` builtins push any number.
  *
  * Regex uses `java.util.regex` (documented divergence from jq's Oniguruma;
  * named groups + common flags behave identically for typical patterns). */
object Builtins {
  import Json._
  import Values._
  import Compiler._

  private[jq] type Builtin = Array[Node] => Node

  // -- nodes ----------------------------------------------------------------

  private abstract class BuiltinN(id: String) extends Node {
    override protected def pathError: String = s"Invalid path expression: $id"
  }

  private final class Fn0N(id: String, f: JsonNode => JsonNode) extends BuiltinN(id) {
    override def single = true
    override def value(in: JsonNode, fr: Frame): JsonNode = f(in)
  }

  private final class Fn1N(id: String, a: Node, f: (JsonNode, JsonNode) => JsonNode) extends BuiltinN(id) {
    override val single = a.single
    override def value(in: JsonNode, fr: Frame): JsonNode = f(in, a.value(in, fr))
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr)) else a.run(in, fr, x => k(f(in, x)))
  }

  private final class Fn2N(id: String, a: Node, b: Node, f: (JsonNode, JsonNode, JsonNode) => JsonNode)
      extends BuiltinN(id) {
    override val single = a.single && b.single
    override def value(in: JsonNode, fr: Frame): JsonNode = f(in, a.value(in, fr), b.value(in, fr))
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr)) else a.run(in, fr, x => b.run(in, fr, y => k(f(in, x, y))))
  }

  private final class OneN(id: String, args: Array[Node], f: (Array[Node], JsonNode, Frame) => JsonNode)
      extends BuiltinN(id) {
    override def single = true
    override def value(in: JsonNode, fr: Frame): JsonNode = f(args, in, fr)
  }

  private type Gen = (Array[Node], JsonNode, Frame, Sink) => Unit
  private type GenPaths = (Array[Node], JsonNode, Frame, PathSink) => Unit

  private final class GenN(id: String, args: Array[Node], f: Gen, p: GenPaths) extends BuiltinN(id) {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = f(args, in, fr, k)
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      if (p == null) super.paths(root, fr, k) else p(args, root, fr, k)
  }

  private def fn0(name: String)(f: JsonNode => JsonNode): ((String, Int), Builtin) =
    (name, 0) -> (_ => new Fn0N(s"$name/0", f))
  private def fn1(name: String)(f: (JsonNode, JsonNode) => JsonNode): ((String, Int), Builtin) =
    (name, 1) -> (a => new Fn1N(s"$name/1", a(0), f))
  private def fn2(name: String)(f: (JsonNode, JsonNode, JsonNode) => JsonNode): ((String, Int), Builtin) =
    (name, 2) -> (a => new Fn2N(s"$name/2", a(0), a(1), f))
  private def one(name: String, arity: Int)(f: (Array[Node], JsonNode, Frame) => JsonNode): ((String, Int), Builtin) =
    (name, arity) -> (a => new OneN(s"$name/$arity", a, f))
  private def gen(name: String, arity: Int, paths: GenPaths = null)(f: Gen): ((String, Int), Builtin) =
    (name, arity) -> (a => new GenN(s"$name/$arity", a, f, paths))
  /** `name` passes its input on when `p` holds, and yields nothing otherwise. */
  private def filter0(name: String)(p: JsonNode => Boolean): ((String, Int), Builtin) =
    gen(name, 0)((_, in, _, k) => if (p(in)) k(in))

  /** Stops `body` after `n` pushes to `k`; nothing runs when n == 0, and
    * all of it when n < 0 (jq 1.6's `limit`). */
  private def take[A](n: Int, k: A => Unit)(body: (A => Unit) => Unit): Unit =
    if (n < 0) body(k)
    else if (n > 0) {
      var count = 0
      var stopped = false
      try body { v => k(v); count += 1; if (count >= n) { stopped = true; throw Stop } }
      catch { case Stop if stopped => () }
    }

  /** Every path of `f` on `root`. */
  private def pathsOf(f: Node, root: JsonNode, fr: Frame): List[Path] = {
    val b = List.newBuilder[Path]
    f.paths(root, fr, b += _)
    b.result()
  }

  // -- helpers ------------------------------------------------------------

  private def requireNumber(v: JsonNode, who: String): Double =
    if (v.isNumber) v.doubleValue()
    else throw JqError.of(s"${Json.typeName(v)}${preview(v)} number required ($who)")

  private def requireString(v: JsonNode, who: String): String =
    if (v.isTextual) v.textValue()
    else throw JqError.of(s"${Json.typeName(v)}${preview(v)} cannot be ${who}")

  private def requireArray(v: JsonNode, who: String): JsonNode =
    if (v.isArray) v
    else throw JqError.of(s"${Json.typeName(v)}${preview(v)} cannot be ${who}")

  /** The C `isspace` set jq's trim/ltrim/rtrim strip (jq 1.7.1). */
  private def trimWs(s: String, left: Boolean, right: Boolean): String = {
    val ws = " \t\n\u000B\f\r"
    var i = 0
    var j = s.length
    if (left) while (i < j && ws.indexOf(s.charAt(i)) >= 0) i += 1
    if (right) while (j > i && ws.indexOf(s.charAt(j - 1)) >= 0) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }


  private def math1(name: String)(f: Double => Double): ((String, Int), Builtin) =
    fn0(name)(in => num(f(requireNumber(in, name))))

  /** C `round`: half away from zero. */
  private def roundHalfAway(d: Double): Double = {
    val t = if (d < 0) math.ceil(d) else math.floor(d)
    if (math.abs(d - t) >= 0.5) t + math.signum(d) else t
  }

  /** sort key per jq's sort_by/group_by: the ARRAY of all outputs of f */
  private def keyOf(f: Node, v: JsonNode, fr: Frame): JsonNode = arr(collect(f, v, fr))

  // -- C-math helpers (libm functions the JDK lacks) -----------------------

  /** IEEE-754 unbiased exponent, correct for subnormals (where
    * Math.getExponent returns MIN_EXPONENT − 1). */
  private def unbiasedExponent(d: Double): Int = {
    val e = Math.getExponent(d)
    if (e == java.lang.Double.MIN_EXPONENT - 1)
      Math.getExponent(d * 9007199254740992.0) - 53 // ×2^53 normalizes
    else e
  }

  /** C significand(): m with d = m·2^e, 1 ≤ |m| < 2, sign preserved. */
  private def significandFn(d: Double): Double =
    if (d == 0.0 || d.isNaN || d.isInfinite) d
    else Math.scalb(d, -unbiasedExponent(d))

  /** log|Γ(x)| — Lanczos approximation (g = 7, 9 coefficients; the standard
    * public-domain parameterization), reflection formula for x < 0.5. */
  private def lgammaFn(x: Double): Double = {
    if (x.isNaN) return Double.NaN
    if (x.isInfinite) return Double.PositiveInfinity
    if (x <= 0.0 && x == math.floor(x)) return Double.PositiveInfinity // poles
    if (x < 0.5) return math.log(math.Pi / math.abs(math.sin(math.Pi * x))) - lgammaFn(1.0 - x)
    val xx = x - 1.0
    var a = lanczos(0)
    var i = 1
    while (i < 9) { a += lanczos(i) / (xx + i); i += 1 }
    val t = xx + 7.5
    0.5 * math.log(2.0 * math.Pi) + (xx + 0.5) * math.log(t) - t + math.log(a)
  }

  /** Γ(x) with sign, via Lanczos + reflection. NaN at non-positive integers. */
  private def tgammaFn(x: Double): Double = {
    if (x.isNaN || x == Double.PositiveInfinity) return x
    if (x <= 0.0 && x == math.floor(x)) return Double.NaN
    if (x < 0.5) math.Pi / (math.sin(math.Pi * x) * tgammaFn(1.0 - x))
    else {
      val xx = x - 1.0
      var a = lanczos(0)
      var i = 1
      while (i < 9) { a += lanczos(i) / (xx + i); i += 1 }
      val t = xx + 7.5
      math.sqrt(2.0 * math.Pi) * math.pow(t, xx + 0.5) * math.exp(-t) * a
    }
  }

  private val lanczos: Array[Double] = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  private def elems(v: JsonNode, who: String): List[JsonNode] = {
    requireArray(v, who); Json.elements(v).toList
  }

  /** `.[]`'s outputs as a list: an array's elements or an object's values
    * (jq 1.6 defines `map`, `flatten`, `add`, `any`, `all` and `join` over
    * `.[]`). */
  private def iterated(v: JsonNode): List[JsonNode] =
    if (v.isArray) Json.elements(v).toList
    else if (v.isObject) Json.fields(v).map(_._2).toList
    else throw JqError.of(s"Cannot iterate over ${Json.typeName(v)}${preview(v)}")

  // -- regex --------------------------------------------------------------

  private val namedGroupRe = JPattern.compile("\\(\\?<([a-zA-Z][a-zA-Z0-9]*)>")

  /** (positive, negated) java.util.regex forms of Oniguruma POSIX bracket
    * classes. `word` has no \p{} name — \w/\W are valid inside classes. */
  private val posixClasses: Map[String, (String, String)] = Map(
    "alpha" -> ("\\p{Alpha}", "\\P{Alpha}"), "digit" -> ("\\p{Digit}", "\\P{Digit}"),
    "alnum" -> ("\\p{Alnum}", "\\P{Alnum}"), "upper" -> ("\\p{Upper}", "\\P{Upper}"),
    "lower" -> ("\\p{Lower}", "\\P{Lower}"), "space" -> ("\\p{Space}", "\\P{Space}"),
    "blank" -> ("\\p{Blank}", "\\P{Blank}"), "punct" -> ("\\p{Punct}", "\\P{Punct}"),
    "xdigit" -> ("\\p{XDigit}", "\\P{XDigit}"), "cntrl" -> ("\\p{Cntrl}", "\\P{Cntrl}"),
    "graph" -> ("\\p{Graph}", "\\P{Graph}"), "print" -> ("\\p{Print}", "\\P{Print}"),
    "ascii" -> ("\\p{ASCII}", "\\P{ASCII}"), "word" -> ("\\w", "\\W"))

  /** Oniguruma POSIX bracket classes (`[[:alpha:]]`, `[[:^digit:]]`) →
    * java.util.regex `\p{...}` equivalents. Translated only INSIDE a
    * character class, where POSIX brackets are defined — outside one,
    * `[:alpha:]` is an ordinary class and keeps its literal meaning.
    * Closes the most commonly hit Oniguruma-vs-java divergence
    * (SURVEY §5); exotic forms beyond these remain documented. */
  private def translatePosix(re: String): String = {
    if (!re.contains("[:")) return re
    val sb = new StringBuilder(re.length + 8)
    var i = 0
    var inClass = false
    var classStart = false // just after '[' or '[^': a ']' there is literal
    var negSeen = false    // only the FIRST '^' after '[' is the negation
                           // marker; a second one is a literal ([^^])
    while (i < re.length) {
      val c = re.charAt(i)
      if (c == '\\' && i + 1 < re.length) { classStart = false; sb.append(c).append(re.charAt(i + 1)); i += 2 }
      else if (inClass && c == '[' && i + 1 < re.length && re.charAt(i + 1) == ':') {
        classStart = false
        val end = re.indexOf(":]", i + 2)
        val raw = if (end > 0) re.substring(i + 2, end) else ""
        val neg = raw.startsWith("^")
        posixClasses.get(if (neg) raw.drop(1) else raw) match {
          case Some((pos, negd)) =>
            sb.append(if (neg) negd else pos)
            i = end + 2
          case None => sb.append(c); i += 1
        }
      }
      else {
        if (c == '[' && !inClass) { inClass = true; classStart = true; negSeen = false }
        else if (c == '^' && classStart && !negSeen) negSeen = true // [^ keeps the start position
        else if (c == ']' && inClass && !classStart) inClass = false
        else classStart = false // ']' right after '[' / '[^' is a literal
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Per-JVM compiled-regex cache (r17, guide §4.5 — heavyweight state
    * once per process, not per row): regex sources reaching the engine are
    * program literals or data-driven strings evaluated once per input ROW,
    * and `JPattern.compile` + the POSIX-class translation dominate short
    * matches. Keyed on (flags, source); a JqError from an invalid modifier
    * or pattern propagates uncached, so error semantics are per-call
    * unchanged. Bounded: a pathological corpus streaming unique regexes
    * falls back to uncached compilation instead of growing the map. */
  private val regexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (JPattern, List[String])]()
  private def compileRegex(re0: String, flags: String): (JPattern, List[String]) =
    if (regexCache.size > 4096) compileRegexUncached(re0, flags)
    else regexCache.computeIfAbsent(flags + " " + re0,
      _ => compileRegexUncached(re0, flags))

  private def compileRegexUncached(re0: String, flags: String): (JPattern, List[String]) = {
    val re = translatePosix(re0)
    var f = 0
    flags.foreach {
      case 'i' => f |= JPattern.CASE_INSENSITIVE | JPattern.UNICODE_CASE
      case 'x' => f |= JPattern.COMMENTS
      case 's' => f |= JPattern.DOTALL
      case 'm' => f |= JPattern.MULTILINE
      case 'g' | 'n' => () // handled by callers
      case 'l' | 'p' => ()
      case c => throw JqError.of(s"$c is not a valid modifier string")
    }
    val names = {
      val m = namedGroupRe.matcher(re)
      val b = List.newBuilder[String]
      while (m.find()) b += m.group(1)
      b.result()
    }
    // jq 1.6 words a bad pattern as "Regex failure: <reason>"
    try (JPattern.compile(re, f), names)
    catch { case e: java.util.regex.PatternSyntaxException =>
      throw JqError.of(s"Regex failure: ${e.getDescription}") }
  }

  private def matchObj(s: String, m: Matcher, names: List[String]): JsonNode = {
    def cp(charOff: Int): Int = s.codePointCount(0, charOff)
    val captures = (1 to m.groupCount()).map { gi =>
      val name = names.lift(gi - 1)
      if (m.start(gi) < 0)
        obj(List("offset" -> num(-1), "length" -> num(0), "string" -> NullN,
          "name" -> name.map(text).getOrElse(NullN)))
      else
        obj(List(
          "offset" -> num(cp(m.start(gi))),
          "length" -> num(m.group(gi).codePointCount(0, m.group(gi).length)),
          "string" -> text(m.group(gi)),
          "name" -> name.map(text).getOrElse(NullN)))
    }
    obj(List(
      "offset" -> num(cp(m.start)),
      "length" -> num(m.group().codePointCount(0, m.group().length)),
      "string" -> text(m.group()),
      "captures" -> arr(captures)))
  }

  private def allMatches(s: String, re: String, flags: String): List[JsonNode] = {
    val global = flags.contains('g')
    val ignoreEmpty = flags.contains('n')
    val (p, names) = compileRegex(re, flags)
    val m = p.matcher(s)
    val out = List.newBuilder[JsonNode]
    var continue = true
    while (continue && m.find()) {
      if (!(ignoreEmpty && m.group().isEmpty)) {
        out += matchObj(s, m, names)
        continue = global
      } else continue = global
      // avoid zero-width infinite loops
      if (continue && m.end() == m.start() && m.end() >= s.length) continue = false
    }
    out.result()
  }

  private def captureObj(mo: JsonNode): JsonNode =
    obj(Json.elements(mo.get("captures")).flatMap { c =>
      val n = c.get("name")
      if (n.isTextual) Some(n.textValue() -> c.get("string")) else None
    }.toList)


  /** sub/gsub: replacement expr evaluated with `.` = named-captures object;
    * multiple replacement outputs → cartesian across matches (jq semantics). */
  private def substitute(in: JsonNode, re: JsonNode, repl: Node, flags: String, fr: Frame, k: Sink): Unit = {
    val s = requireString(in, "matched")
    val global = flags.contains('g')
    val (p, names) = compileRegex(re.textValue(), flags)

    // the next match at or after `from`: (text before it, captures, end, zero-width char)
    def next(from: Int): (String, JsonNode, Int, String) = {
      val m = p.matcher(s)
      if (from <= s.length && m.find(from)) {
        val matchEnd = if (m.end == m.start) m.end + 1 else m.end // zero-width guard
        val zw = if (m.end == m.start && m.end < s.length) s.substring(m.end, m.end + 1) else ""
        (s.substring(from, m.start), captureObj(matchObj(s, m, names)), matchEnd, zw)
      } else null
    }
    def rest(from: Int): String = s.substring(math.min(from, s.length))

    if (repl.single) { // one replacement per match: a loop
      val sb = new java.lang.StringBuilder
      var from = 0
      var m = next(from)
      while (m != null) {
        sb.append(m._1).append(requireString(repl.value(m._2, fr), "used as a replacement")).append(m._4)
        from = m._3
        m = if (global) next(from) else null
      }
      k(text(sb.append(rest(from)).toString))
    } else {
      def go(from: Int, acc: String): Unit = next(from) match {
        case null => k(text(acc + rest(from)))
        case (pre, caps, end, zw) =>
          repl.run(caps, fr, r => {
            val out = acc + pre + requireString(r, "used as a replacement") + zw
            if (global) go(end, out) else k(text(out + rest(end)))
          })
      }
      go(0, "")
    }
  }

  // -- formats ------------------------------------------------------------

  def applyFormat(name: String, v: JsonNode): String = name match {
    case "text" => render(v)
    case "json" => serialize(v)
    case "html" =>
      render(v).flatMap {
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '&' => "&amp;"
        case '\'' => "&apos;"
        case '"' => "&quot;"
        case c => c.toString
      }
    case "uri" =>
      render(v).getBytes(StandardCharsets.UTF_8).flatMap { b =>
        val c = b.toChar
        if (c.isLetterOrDigit && c < 128 || "-_.~!*'()".indexOf(c.toInt) >= 0) c.toString
        else f"%%${b & 0xff}%02X"
      }.mkString
    case "csv" =>
      Json.elements(requireArray(v, "csv-formatted, only an array can be"))
        .map { e =>
          if (e.isNull) ""
          else if (e.isNumber || e.isBoolean) e.toString
          else "\"" + requireString(e, "csv-formatted").replace("\"", "\"\"") + "\""
        }.mkString(",")
    case "tsv" =>
      Json.elements(requireArray(v, "tsv-formatted, only an array can be"))
        .map { e =>
          if (e.isNull) ""
          else if (e.isNumber || e.isBoolean) e.toString
          else requireString(e, "tsv-formatted")
            .replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")
        }.mkString("\t")
    case "sh" =>
      def quote(e: JsonNode): String =
        if (e.isNumber || e.isBoolean || e.isNull) e.toString
        else if (e.isArray || e.isObject) // jq 1.6: only scalars can be shell-quoted
          throw JqError.of(s"${Json.typeName(e)}${preview(e)} can not be escaped for shell")
        else "'" + render(e).replace("'", "'\\''") + "'"
      if (v.isArray) Json.elements(v).map(quote).mkString(" ") else quote(v)
    case "base64" =>
      java.util.Base64.getEncoder.encodeToString(render(v).getBytes(StandardCharsets.UTF_8))
    case "base64d" =>
      val text = render(v)
      val bytes =
        try java.util.Base64.getDecoder.decode(text)
        catch { case _: IllegalArgumentException =>
          // jq 1.6's two wordings: one character left over, or anything else
          val why = if (text.count(_ != '=') % 4 == 1) "trailing base64 byte found"
                    else "is not valid base64 data"
          throw JqError.of(s"string${preview(Json.text(text))} $why") }
      new String(bytes, StandardCharsets.UTF_8)
    case "base32" => base32Encode(render(v).getBytes(StandardCharsets.UTF_8))
    case "base32d" => new String(base32Decode(render(v)), StandardCharsets.UTF_8)
    case other => throw JqError.of(s"$other is not a valid format")
  }

  // RFC 4648 base32 (A–Z2–7, '=' padding) — the JDK only ships base64
  private val b32Alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  private def base32Encode(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < bytes.length) {
      val chunk = math.min(5, bytes.length - i)
      var acc = 0L
      var j = 0
      while (j < chunk) { acc = (acc << 8) | (bytes(i + j) & 0xffL); j += 1 }
      acc <<= (5 - chunk) * 8
      val outChars = chunk match { case 1 => 2; case 2 => 4; case 3 => 5; case 4 => 7; case 5 => 8 }
      var k = 0
      while (k < outChars) { sb.append(b32Alphabet((acc >>> (35 - 5 * k)).toInt & 31)); k += 1 }
      sb.append("=" * (8 - outChars))
      i += chunk
    }
    sb.toString
  }

  private def base32Decode(s: String): Array[Byte] = {
    val clean = s.filterNot(_ == '=')
    val out = new java.io.ByteArrayOutputStream
    var acc = 0L
    var bits = 0
    clean.foreach { c =>
      val v = b32Alphabet.indexOf(c.toUpper.toInt)
      if (v < 0) throw JqError.of(s"invalid base32 input: '$c'")
      acc = (acc << 5) | v
      bits += 5
      if (bits >= 8) { bits -= 8; out.write(((acc >>> bits) & 0xff).toInt) }
    }
    out.toByteArray
  }

  // -- the table ----------------------------------------------------------

  private[jq] val table: Map[(String, Int), Builtin] = Map[(String, Int), Builtin](
    gen("empty", 0, (_, _, _, _) => ())((_, _, _, _) => ()),
    fn0("error")(in => throw new JqError(in)),
    fn1("error")((_, msg) => throw new JqError(msg)),
    fn0("not")(in => bool(!truthy(in))),

    fn0("length") { in =>
      if (in.isNull) num(0)
      else if (in.isTextual) num(in.textValue().codePointCount(0, in.textValue().length))
      else if (in.isArray || in.isObject) num(in.size())
      else if (in.isNumber) num(math.abs(in.doubleValue()))
      else throw JqError.of(s"boolean${preview(in)} has no length")
    },
    fn0("utf8bytelength")(in => num(requireString(in, "counted").getBytes(StandardCharsets.UTF_8).length)),

    fn0("keys")(in => keysOf(in, sorted = true)),
    fn0("keys_unsorted")(in => keysOf(in, sorted = false)),

    fn1("has") { (in, k) =>
      if (in.isObject) bool(k.isTextual && in.has(k.textValue()))
      else if (in.isArray) bool(k.isNumber && k.doubleValue() >= 0 && k.doubleValue() < in.size())
      else throw JqError.of(s"Cannot check whether ${Json.typeName(in)} has a key")
    },
    fn1("in") { (in, c) =>
      if (c.isObject) bool(in.isTextual && c.has(in.textValue()))
      else if (c.isArray) bool(in.isNumber && in.doubleValue() >= 0 && in.doubleValue() < c.size())
      else throw JqError.of(s"Cannot check whether ${Json.typeName(c)} has a key")
    },
    fn1("contains")((in, b) => bool(containsTop(in, b))),
    fn1("inside")((in, b) => bool(containsTop(b, in))),

    fn0("add")(in => iterated(in).foldLeft(NullN: JsonNode)(Values.add)),

    fn0("any")(in => bool(iterated(in).exists(truthy))),
    fn0("all")(in => bool(iterated(in).forall(truthy))),
    one("any", 1)((a, in, fr) => bool(iterated(in).exists(v => exists(a(0), v, fr, truthy)))),
    one("all", 1)((a, in, fr) => bool(iterated(in).forall(v => !exists(a(0), v, fr, x => !truthy(x))))),
    one("any", 2)((a, in, fr) => bool(exists(a(0), in, fr, v => exists(a(1), v, fr, truthy)))),
    one("all", 2)((a, in, fr) => bool(!exists(a(0), in, fr, v => exists(a(1), v, fr, x => !truthy(x))))),

    gen("range", 1)((a, in, fr, k) => a(0).run(in, fr, hi => range(0, requireNumber(hi, "range"), 1, k))),
    gen("range", 2)((a, in, fr, k) => a(0).run(in, fr, lo => a(1).run(in, fr, hi =>
      range(requireNumber(lo, "range"), requireNumber(hi, "range"), 1, k)))),
    gen("range", 3)((a, in, fr, k) => a(0).run(in, fr, lo => a(1).run(in, fr, hi => a(2).run(in, fr, st =>
      range(requireNumber(lo, "range"), requireNumber(hi, "range"), requireNumber(st, "range"), k))))),

    math1("floor")(math.floor),
    math1("ceil")(math.ceil),
    math1("round")(roundHalfAway),
    math1("sqrt")(math.sqrt),
    math1("fabs")(math.abs),
    math1("log")(math.log),
    math1("log2")(d => math.log(d) / math.log(2)),
    math1("log10")(math.log10),
    math1("exp")(math.exp),
    math1("exp2")(d => math.pow(2, d)),
    math1("exp10")(d => math.pow(10, d)),
    fn2("pow")((_, a, b) => num(math.pow(requireNumber(a, "pow"), requireNumber(b, "pow")))),
    fn0("infinite")(_ => F.numberNode(Double.PositiveInfinity)),
    fn0("nan")(_ => F.numberNode(Double.NaN)),
    fn0("isnan")(in => bool(in.isNumber && in.doubleValue().isNaN)),
    fn0("isinfinite")(in => bool(in.isNumber && in.doubleValue().isInfinite)),

    fn0("min")(in => elems(in, "min-ed").minOption(ordering).getOrElse(NullN)),
    fn0("max")(in => elems(in, "max-ed").maxOption(ordering).getOrElse(NullN)),
    one("min_by", 1)((a, in, fr) => elems(in, "min-ed").minByOption(keyOf(a(0), _, fr))(ordering).getOrElse(NullN)),
    one("max_by", 1)((a, in, fr) => elems(in, "max-ed").maxByOption(keyOf(a(0), _, fr))(ordering).getOrElse(NullN)),

    fn0("sort")(in => arr(elems(in, "sorted").sorted(ordering))),
    one("sort_by", 1)((a, in, fr) => arr(elems(in, "sorted").sortBy(keyOf(a(0), _, fr))(ordering))),
    one("group_by", 1) { (a, in, fr) =>
      val keyed = elems(in, "grouped").map(v => (keyOf(a(0), v, fr), v))
      val sorted = keyed.sortBy(_._1)(ordering)
      val groups = List.newBuilder[JsonNode]
      var cur = List.newBuilder[JsonNode]
      var curKey: Option[JsonNode] = None
      sorted.foreach { case (k, v) =>
        if (curKey.exists(Json.eq(_, k))) cur += v
        else {
          curKey.foreach(_ => groups += arr(cur.result()))
          cur = List.newBuilder[JsonNode]; cur += v; curKey = Some(k)
        }
      }
      curKey.foreach(_ => groups += arr(cur.result()))
      arr(groups.result())
    },
    fn0("unique")(in => arr(dedupSorted(elems(in, "sorted").sorted(ordering)))),
    one("unique_by", 1) { (a, in, fr) =>
      val keyed = elems(in, "sorted").map(v => (keyOf(a(0), v, fr), v)).sortBy(_._1)(ordering)
      val out = List.newBuilder[JsonNode]
      var last: Option[JsonNode] = None
      keyed.foreach { case (k, v) =>
        if (!last.exists(Json.eq(_, k))) { out += v; last = Some(k) }
      }
      arr(out.result())
    },

    fn0("reverse") { in =>
      if (in.isNull) arr(Nil)
      else if (in.isTextual) {
        val cps = in.textValue().codePoints().toArray.reverse
        text(new String(cps, 0, cps.length))
      } else arr(elems(in, "reversed").reverse)
    },

    fn0("flatten")(in => arr(flattenRec(iterated(in), Int.MaxValue))),
    fn1("flatten") { (in, d) =>
      val depth = requireNumber(d, "flatten").toInt
      if (depth < 0) throw JqError.of("flatten depth must not be negative")
      arr(flattenRec(iterated(in), depth))
    },

    fn1("join") { (in, sepN) =>
      val sep = requireString(sepN, "joined")
      text(iterated(in).map { e =>
        if (e.isNull) ""
        else if (e.isTextual) e.textValue()
        else if (e.isNumber || e.isBoolean) e.toString
        else throw JqError.of(s"Cannot join with ${Json.typeName(e)}")
      }.mkString(sep))
    },

    fn1("split")((in, sepN) =>
      arr(splitLiteral(requireString(in, "split"), requireString(sepN, "split")).map(text))),
    fn2("split") { (in, reN, flagsN) =>
      val s = requireString(in, "split")
      val flags = if (flagsN.isNull) "" else requireString(flagsN, "a modifier")
      arr(regexSplit(s, requireString(reN, "split"), flags).map(text))
    },
    gen("splits", 1)((a, in, fr, k) => a(0).run(in, fr, reN =>
      regexSplit(requireString(in, "split"), requireString(reN, "split"), "").map(text).foreach(k))),
    gen("splits", 2)((a, in, fr, k) => a(0).run(in, fr, reN => a(1).run(in, fr, flagsN => {
      val flags = if (flagsN.isNull) "" else requireString(flagsN, "a modifier")
      regexSplit(requireString(in, "split"), requireString(reN, "split"), flags).map(text).foreach(k)
    }))),

    fn1("ltrimstr") { (in, p) =>
      if (in.isTextual && p.isTextual && in.textValue().startsWith(p.textValue()))
        text(in.textValue().substring(p.textValue().length))
      else in
    },
    fn1("rtrimstr") { (in, p) =>
      if (in.isTextual && p.isTextual && in.textValue().endsWith(p.textValue()) && p.textValue().nonEmpty)
        text(in.textValue().substring(0, in.textValue().length - p.textValue().length))
      else in
    },
    // jq 1.7 additions: abs / toarray / pick, and the 1.7.1 trim trio
    // (ASCII isspace set, matching jq's C trim — NOT java.lang.String.trim's
    // "all controls <= U+0020" rule)
    fn0("abs")(in => num(math.abs(requireNumber(in, "abs")))),
    fn0("toarray")(in => if (in.isArray) in else arr(List(in))),
    // def pick(pathexps): . as $top
    //   | reduce path(pathexps) as $p (null; setpath($p; $top | getpath($p)));
    one("pick", 1)((a, in, fr) =>
      pathsOf(a(0), in, fr).foldLeft(NullN: JsonNode)((acc, p) => setPath(acc, p, getPath(in, p)))),
    fn0("trim")(in => text(trimWs(requireString(in, "trimmed"), left = true, right = true))),
    fn0("ltrim")(in => text(trimWs(requireString(in, "trimmed"), left = true, right = false))),
    fn0("rtrim")(in => text(trimWs(requireString(in, "trimmed"), left = false, right = true))),
    // number-representation capability probes (jq 1.7): this engine
    // canonicalizes to long/double (Json.num), so neither literal nor
    // decimal representations survive — both honestly false
    fn0("have_literal_numbers")(_ => FalseN),
    fn0("have_decimal_numbers")(_ => FalseN),

    fn1("startswith")((in, p) => bool(requireString(in, "checked").startsWith(requireString(p, "checked")))),
    fn1("endswith")((in, p) => bool(requireString(in, "checked").endsWith(requireString(p, "checked")))),

    fn0("ascii_downcase")(in =>
      text(requireString(in, "downcased").map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c))),
    fn0("ascii_upcase")(in =>
      text(requireString(in, "upcased").map(c => if (c >= 'a' && c <= 'z') (c - 32).toChar else c))),

    // uriparse — the deterministic slice of the reference classpath's
    // jackson-jq-extra module (reference pom.xml:77 ships it, so its
    // functions are arguably reference surface): the URI decomposed per
    // RFC 3986 generic syntax via java.net.URI; absent components read
    // null (port -1 → null). The same module's uuid/random are §5
    // NON-GOALS — a deterministic engine cannot ship entropy builtins.
    fn0("uriparse") { in =>
      val s = requireString(in, "parsed as a URI")
      val u =
        try new java.net.URI(s)
        catch {
          case e: java.net.URISyntaxException =>
            throw JqError.of(s"uriparse: invalid URI${preview(in)}: ${e.getReason}")
        }
      def t(v: String): JsonNode = if (v == null) NullN else text(v)
      obj(List(
        "scheme" -> t(u.getScheme),
        "authority" -> t(u.getAuthority),
        "userinfo" -> t(u.getUserInfo),
        "host" -> t(u.getHost),
        "port" -> (if (u.getPort < 0) NullN else num(u.getPort)),
        "path" -> t(u.getPath),
        "query" -> t(u.getQuery),
        "fragment" -> t(u.getFragment)))
    },

    fn0("explode")(in => arr(requireString(in, "exploded").codePoints().toArray.toSeq.map(cp => num(cp)))),
    // a number that is no Unicode scalar value becomes U+FFFD: jq 1.6 does
    // so above U+10FFFF and aborts on a negative one or a surrogate
    fn0("implode") { in =>
      val cps = elems(in, "imploded").map { e =>
        val cp = requireNumber(e, "implode").toInt
        if (cp < 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) 0xFFFD else cp
      }.toArray
      text(new String(cps, 0, cps.length))
    },

    fn0("tostring")(in => text(render(in))),
    fn0("tonumber") { in =>
      if (in.isNumber) in
      else if (in.isTextual) {
        try num(in.textValue().trim.toDouble)
        catch { case _: NumberFormatException =>
          throw JqError.of(s"Cannot parse '${in.textValue()}' as number") }
      } else throw JqError.of(s"${Json.typeName(in)}${preview(in)} cannot be parsed as a number")
    },
    fn0("tojson")(in => text(serialize(in))),
    fn0("fromjson") { in =>
      val text = requireString(in, "parsed as JSON")
      try Jq.parseJson(text)
      catch { case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw JqError.of(s"${e.getOriginalMessage} (while parsing '$text')") }
    },
    fn0("type")(in => text(Json.typeName(in))),

    // type-filter builtins
    filter0("arrays")(_.isArray),
    filter0("objects")(_.isObject),
    filter0("iterables")(in => in.isArray || in.isObject),
    filter0("scalars")(in => !in.isArray && !in.isObject),
    filter0("booleans")(_.isBoolean),
    filter0("numbers")(_.isNumber),
    filter0("strings")(_.isTextual),
    filter0("nulls")(_.isNull),
    filter0("values")(!_.isNull),

    fn0("first")(in => indexAccess(in, num(0))),
    fn0("last")(in => indexAccess(in, num(-1))),
    gen("first", 1, (a, root, fr, k) => {
      var hit: Path = null
      try a(0).paths(root, fr, p => { hit = p; throw Stop }) catch { case Stop if hit != null => () }
      if (hit != null) k(hit)
    })((a, in, fr, k) => { val v = find(a(0), in, fr); if (v != null) k(v) }),
    gen("last", 1, (a, root, fr, k) => {
      var hit: Path = null
      a(0).paths(root, fr, hit = _)
      if (hit != null) k(hit)
    })((a, in, fr, k) => { val v = last(a(0), in, fr); if (v != null) k(v) }),
    fn1("nth")((in, n) => indexAccess(in, n)),
    gen("nth", 2)((a, in, fr, k) => a(0).run(in, fr, n => {
      val i = requireNumber(n, "nth").toInt
      if (i < 0) throw JqError.of("Out of bounds negative array index")
      var seen = -1
      val v = find(a(1), in, fr, _ => { seen += 1; seen == i })
      if (v != null) k(v)
    })),
    gen("limit", 2, (a, root, fr, k) => {
      val n = find(a(0), root, fr)
      if (n != null) take(n.intValue(), k)(a(1).paths(root, fr, _))
    })((a, in, fr, k) => a(0).run(in, fr, n => take(requireNumber(n, "limit").toInt, k)(a(1).run(in, fr, _)))),
    gen("until", 2) { (a, in, fr, k) =>
      var v = in
      var c = find(a(0), v, fr)
      while (c != null && !truthy(c)) {
        v = find(a(1), v, fr)
        c = if (v == null) null else find(a(0), v, fr)
      }
      if (c != null) k(v)
    },
    gen("while", 2) { (a, in, fr, k) =>
      var v = in
      while (v != null && { val c = find(a(0), v, fr); c != null && truthy(c) }) {
        k(v)
        v = find(a(1), v, fr)
      }
    },
    gen("repeat", 1) { (a, in, fr, k) =>
      val f = a(0)
      if (f.single) { var v = in; while (true) { v = f.value(v, fr); k(v) } }
      else {
        def go(v: JsonNode): Unit = nested(() => f.run(v, fr, nv => { k(nv); go(nv) }))
        go(in)
      }
    },
    gen("recurse", 0, (_, root, _, k) => allPaths(root, Vector.empty, (p, _) => k(p)))((_, in, _, k) => recurseAll(in, k)),
    gen("recurse", 1) { (a, in, fr, k) =>
      val f = a(0)
      if (f.single) { var v = in; while (true) { k(v); v = f.value(v, fr) } }
      else {
        def go(v: JsonNode): Unit = { k(v); nested(() => f.run(v, fr, go)) }
        go(in)
      }
    },
    gen("recurse", 2) { (a, in, fr, k) =>
      def go(v: JsonNode): Unit = { k(v); nested(() => a(0).run(v, fr, c => if (exists(a(1), c, fr, truthy)) go(c))) }
      go(in)
    },

    one("map", 1) { (a, in, fr) =>
      val out = F.arrayNode()
      iterated(in).foreach(v => a(0).run(v, fr, x => { out.add(x); () }))
      out
    },
    one("map_values", 1) { (a, in, fr) =>
      if (in.isObject) {
        val out = F.objectNode()
        Json.fields(in).foreach { case (k, v) =>
          val nv = find(a(0), v, fr)
          if (nv != null) out.set[JsonNode](k, nv)
        }
        out
      } else if (in.isArray) arr(Json.elements(in).toList.flatMap(v => Option(find(a(0), v, fr))))
      else throw JqError.of(s"Cannot iterate over ${Json.typeName(in)}")
    },
    gen("select", 1, (a, root, fr, k) => a(0).run(root, fr, c => if (truthy(c)) k(Vector.empty))) { (a, in, fr, k) =>
      val c = a(0)
      if (c.single) { if (truthy(c.value(in, fr))) k(in) }
      else c.run(in, fr, v => if (truthy(v)) k(in))
    },

    fn0("to_entries")(toEntries),
    fn0("from_entries")(in => fromEntries(in, stringKeys = false)),
    // to_entries | map(f) | from_entries, whose keys must be strings in
    // jq 1.6: an array's index keys are an error there
    one("with_entries", 1)((a, in, fr) =>
      fromEntries(arr(Json.elements(toEntries(in)).flatMap(e => collect(a(0), e, fr)).toList), stringKeys = true)),

    gen("paths", 0, (_, root, _, k) => allPaths(root, Vector.empty, (p, _) => if (p.nonEmpty) k(p)))(
      (_, in, _, k) => allPaths(in, Vector.empty, (p, _) => if (p.nonEmpty) k(arr(p)))),
    // jq 1.6: one path per truthy output of f
    gen("paths", 1)((a, in, fr, k) =>
      allPaths(in, Vector.empty, (p, v) => if (p.nonEmpty) a(0).run(v, fr, o => if (truthy(o)) k(arr(p))))),
    // jq 1.6: paths(scalars), and select drops null and false leaves
    gen("leaf_paths", 0)((_, in, _, k) =>
      allPaths(in, Vector.empty, (p, v) => if (p.nonEmpty && !v.isArray && !v.isObject && truthy(v)) k(arr(p)))),
    gen("getpath", 1, (a, root, fr, k) => a(0).run(root, fr, pl => {
      if (!pl.isArray) throw JqError.of("getpath path must be an array")
      k(Vector.from(Json.elements(pl)))
    }))((a, in, fr, k) => a(0).run(in, fr, p =>
      k(getPath(in, Json.elements(requireArray(p, "used as a path")).toVector)))),
    fn2("setpath")((in, p, v) => setPath(in, Json.elements(requireArray(p, "used as a path")).toVector, v)),
    fn1("delpaths")((in, ps) => delPaths(in,
      Json.elements(requireArray(ps, "used as paths")).map(p =>
        Json.elements(requireArray(p, "used as a path")).toVector.toSeq).toList)),
    one("del", 1)((a, in, fr) => delPaths(in, pathsOf(a(0), in, fr))),
    gen("path", 1)((a, in, fr, k) => a(0).paths(in, fr, p => k(arr(p)))),

    fn0("env")(_ => obj(Nil)), // deliberately empty
    fn0("$__loc__")(_ => obj(List("file" -> text("<stdin>"), "line" -> num(1)))),
    fn0("builtins")(_ => arr(table.keys.toList.sortBy(k => (k._1, k._2)).map { case (n, a) => text(s"$n/$a") })),
    fn0("input_line_number")(_ => num(0)),

    fn0("transpose") { in =>
      val rows = elems(in, "transposed").map(r => elems(r, "transposed"))
      val n = rows.map(_.length).maxOption.getOrElse(0)
      arr((0 until n).map(i => arr(rows.map(r => r.lift(i).getOrElse(NullN)))))
    },

    gen("walk", 1) { (a, in, fr, k) =>
      // the children keep the first output of their walk
      def go(v: JsonNode, k: Sink): Unit = {
        val transformed: JsonNode =
          if (v.isArray) arr(Json.elements(v).toList.flatMap(e => Option(first(e))))
          else if (v.isObject) {
            val o = F.objectNode()
            Json.fields(v).foreach { case (key, c) => val nc = first(c); if (nc != null) o.set[JsonNode](key, nc) }
            o
          } else v
        a(0).run(transformed, fr, k)
      }
      def first(v: JsonNode): JsonNode = {
        val s = new Finder(always)
        try go(v, s) catch { case Stop if s.hit != null => () }
        s.hit
      }
      go(in, k)
    },

    fn1("indices")((in, i) => indicesOf(in, i)),
    fn1("index")((in, i) => Json.elements(indicesOf(in, i)).nextOption().getOrElse(NullN)),
    fn1("rindex")((in, i) => Json.elements(indicesOf(in, i)).toList.lastOption.getOrElse(NullN)),

    // regex family
    fn1("test")((in, re) => bool(allMatches(requireString(in, "matched"), requireString(re, "matched"), "").nonEmpty)),
    fn2("test") { (in, re, fl) =>
      val flags = if (fl.isNull) "" else requireString(fl, "a modifier")
      bool(allMatches(requireString(in, "matched"), requireString(re, "matched"), flags).nonEmpty)
    },
    gen("scan", 1)((a, in, fr, k) => a(0).run(in, fr, re =>
      allMatches(requireString(in, "matched"), requireString(re, "matched"), "g").map(scanResult).foreach(k))),
    gen("scan", 2)((a, in, fr, k) => a(0).run(in, fr, re => a(1).run(in, fr, fl => {
      val flags = if (fl.isNull) "g" else requireString(fl, "a modifier") + "g"
      allMatches(requireString(in, "matched"), requireString(re, "matched"), flags).map(scanResult).foreach(k)
    }))),
    gen("sub", 2)((a, in, fr, k) => a(0).run(in, fr, re => substitute(in, re, a(1), "", fr, k))),
    gen("sub", 3)((a, in, fr, k) => a(0).run(in, fr, re => a(2).run(in, fr, fl =>
      substitute(in, re, a(1), if (fl.isNull) "" else fl.textValue(), fr, k)))),
    gen("gsub", 2)((a, in, fr, k) => a(0).run(in, fr, re => substitute(in, re, a(1), "g", fr, k))),
    gen("gsub", 3)((a, in, fr, k) => a(0).run(in, fr, re => a(2).run(in, fr, fl =>
      substitute(in, re, a(1), (if (fl.isNull) "" else fl.textValue()) + "g", fr, k)))),

    // dates (UTC, seconds since epoch)
    fn0("todate")(in => isoDate(requireNumber(in, "todate"))),
    fn0("fromdate") { in =>
      val s = requireString(in, "parsed as a date")
      try num(java.time.Instant.parse(s).getEpochSecond.toDouble)
      catch { case _: java.time.format.DateTimeParseException =>
        throw JqError.of(s"date \"$s\" does not match format \"%Y-%m-%dT%H:%M:%SZ\"") }
    },
    fn0("date")(in => isoDate(requireNumber(in, "todate"))),

    // broken-down time: [year, month0, mday, hour, min, sec, wday, yday]
    // wall-clock seconds, like jq's now (jackson-jq ships it). Note for
    // distributed use: evaluated per-row per-executor, NOT constant-folded —
    // rows in one query can observe different times, same as in Hive+jq.
    fn0("now")(_ => num(System.currentTimeMillis() / 1000.0)),
    fn0("gmtime")(in => brokenDown(requireNumber(in, "gmtime"))),
    fn0("localtime")(in => brokenDown(requireNumber(in, "localtime"))), // UTC session
    fn0("mktime")(in => num(fromBrokenDown(requireArray(in, "mktime-d")).toDouble)),
    fn1("strftime") { (in, f) =>
      val secs =
        if (in.isNumber) in.doubleValue().toLong
        else fromBrokenDown(requireArray(in, "strftime-d"))
      text(strftime(secs, requireString(f, "a format")))
    },
    fn1("strptime")((in, f) =>
      brokenDown(strptime(requireString(in, "parsed"), requireString(f, "a format")).toDouble)),

    gen("combinations", 0)((_, in, _, k) => combinations(elems(in, "iterated"), Nil, k)),
    gen("combinations", 1)((a, in, fr, k) => a(0).run(in, fr, nN =>
      combinations(List.fill(requireNumber(nN, "combinations").toInt)(in), Nil, k))),

    gen("fromstream", 1) { (a, in, fr, k) =>
      // reconstruct values from tostream-style [path, leaf] / [closing-path]
      // events (jq's builtin.jq definition, state-machine form)
      var acc: JsonNode = NullN
      a(0).run(in, fr, ev => {
        val e = requireArray(ev, "streamed")
        val path = Json.elements(e.get(0)).toVector
        if (e.size() >= 2) acc = setPath(acc, path, e.get(1))
        if (if (e.size() >= 2) path.isEmpty else path.length == 1) { val out = acc; acc = NullN; k(out) }
      })
    },
    gen("truncate_stream", 1) { (a, in, fr, k) =>
      val depth = requireNumber(in, "truncate_stream").toInt
      // per jq: input number = depth, arg = stream expression (evaluated
      // against the stream's own input... jq passes `.` through; we use null)
      a(0).run(NullN, fr, ev => {
        val e = requireArray(ev, "streamed")
        val path = Json.elements(e.get(0)).toVector
        if (path.length > depth) {
          val newPath = arr(path.drop(depth))
          k(if (e.size() >= 2) arr(List(newPath, e.get(1))) else arr(List(newPath)))
        }
      })
    },

    math1("trunc")(d => if (d < 0) math.ceil(d) else math.floor(d)),
    math1("cbrt")(math.cbrt),
    math1("sin")(math.sin), math1("cos")(math.cos), math1("tan")(math.tan),
    math1("asin")(math.asin), math1("acos")(math.acos), math1("atan")(math.atan),
    math1("sinh")(math.sinh), math1("cosh")(math.cosh), math1("tanh")(math.tanh),
    math1("nearbyint")(math.rint),
    math1("logb")(d => math.floor(math.log(math.abs(d)) / math.log(2))),
    math1("asinh")(d => math.log(d + math.sqrt(d * d + 1))),
    math1("acosh")(d => math.log(d + math.sqrt(d * d - 1))),
    math1("atanh")(d => 0.5 * math.log((1 + d) / (1 - d))),
    math1("pow10")(d => math.pow(10, d)),
    // C-math stragglers (jq gets these from libm via jackson-jq):
    math1("significand")(significandFn),
    // jq defines BOTH gamma and lgamma as log-gamma; tgamma is true Γ
    math1("gamma")(lgammaFn),
    math1("lgamma")(lgammaFn),
    math1("tgamma")(tgammaFn),
    fn0("lgamma_r") { in =>
      val d = requireNumber(in, "lgamma_r")
      arr(List(num(lgammaFn(d)), num(if (tgammaFn(d) < 0) -1 else 1)))
    },
    fn0("frexp") { in =>
      val d = requireNumber(in, "frexp")
      if (d == 0.0 || d.isNaN || d.isInfinite) arr(List(num(d), num(0)))
      else {
        val e = unbiasedExponent(d) + 1 // mantissa in [0.5, 1)
        arr(List(num(Math.scalb(d, -e)), num(e)))
      }
    },
    fn0("modf") { in =>
      val d = requireNumber(in, "modf")
      val ip = if (d < 0) math.ceil(d) else math.floor(d)
      arr(List(num(d - ip), num(ip)))
    },
    fn2("drem")((_, x, y) => num(Math.IEEEremainder(requireNumber(x, "drem"), requireNumber(y, "drem")))),
    fn2("ldexp")((_, m, e) => num(Math.scalb(requireNumber(m, "ldexp"), requireNumber(e, "ldexp").toInt))),
    fn2("scalb")((_, m, e) => num(Math.scalb(requireNumber(m, "scalb"), requireNumber(e, "scalb").toInt))),
    fn2("scalbln")((_, m, e) => num(Math.scalb(requireNumber(m, "scalbln"), requireNumber(e, "scalbln").toInt))),
    fn2("atan2")((_, y, x) => num(math.atan2(requireNumber(y, "atan2"), requireNumber(x, "atan2")))),
    fn0("isnormal") { in =>
      bool(in.isNumber && {
        val d = in.doubleValue()
        !d.isNaN && !d.isInfinite && d != 0.0 && math.abs(d) >= java.lang.Double.MIN_NORMAL
      })
    },
    fn0("input_filename")(_ => NullN),

    // jq 1.6 uppercase SQL-style helpers (builtin.jq definitions)
    one("IN", 1)((a, in, fr) => bool(exists(a(0), in, fr, Json.eq(_, in)))),
    gen("IN", 2) { (a, in, fr, k) =>
      val v = find(a(0), in, fr)
      if (v != null) k(bool(exists(a(1), in, fr, Json.eq(_, v))))
    },
    one("INDEX", 1) { (a, in, fr) =>
      // INDEX(idx_expr) == INDEX(.[]; idx_expr)
      val out = F.objectNode()
      Json.elements(requireArray(in, "indexed")).foreach { row =>
        val k = find(a(0), row, fr)
        if (k != null) out.set[JsonNode](render(k), row)
      }
      out
    },
    one("INDEX", 2) { (a, in, fr) =>
      val out = F.objectNode()
      a(0).run(in, fr, row => {
        val k = find(a(1), row, fr)
        if (k != null) out.set[JsonNode](render(k), row)
      })
      out
    },

    gen("tostream", 0) { (_, in, _, k) =>
      // [path, leaf] events + closing [path] events (jq tostream)
      def stream(v: JsonNode, prefix: Path): Unit =
        if (v.isArray || v.isObject) {
          val kids = if (v.isArray) (0 until v.size()).map(i => (num(i): JsonNode, v.get(i)))
                     else Json.fields(v).map { case (key, c) => (text(key): JsonNode, c) }.toSeq
          if (kids.isEmpty) k(arr(List(arr(prefix), if (v.isArray) arr(Nil) else obj(Nil))))
          else {
            kids.foreach { case (key, c) => stream(c, prefix :+ key) }
            k(arr(List(arr(prefix :+ kids.last._1))))
          }
        } else k(arr(List(arr(prefix), v)))
      stream(in, Vector.empty)
    }
  ) ++ matches("match", identity) ++ matches("capture", captureObj) ++ formatTable ++ upperAliases

  /** `match`/`capture`, each match through `f`. */
  private def matches(name: String, f: JsonNode => JsonNode): Seq[((String, Int), Builtin)] = Seq(
    gen(name, 1)((a, in, fr, k) => a(0).run(in, fr, re =>
      allMatches(requireString(in, "matched"), requireString(re, "matched"), "").map(f).foreach(k))),
    gen(name, 2)((a, in, fr, k) => a(0).run(in, fr, re => a(1).run(in, fr, fl => {
      val flags = if (fl.isNull) "" else requireString(fl, "a modifier")
      allMatches(requireString(in, "matched"), requireString(re, "matched"), flags).map(f).foreach(k)
    }))))

  /** The rest of jq 1.6's uppercase SQL-style family (builtin.jq):
    * `GROUP_BY(f)` is `group_by(f)`, `UNIQUE_BY(f)` is `unique_by(f)`,
    * `ANY`/`ALL` are `any`/`all` — completing the set whose IN/INDEX half
    * is defined above. Delegation happens at compile time, after `table` is
    * fully constructed. */
  private def upperAliases: Map[(String, Int), Builtin] = {
    def alias(name: String, arity: Int): Builtin = args => table((name, arity))(args)
    Map(
      ("GROUP_BY", 1) -> alias("group_by", 1),
      ("UNIQUE_BY", 1) -> alias("unique_by", 1),
      ("ANY", 0) -> alias("any", 0),
      ("ALL", 0) -> alias("all", 0))
  }

  private def formatTable: Map[(String, Int), Builtin] =
    List("text", "json", "html", "uri", "csv", "tsv", "sh",
         "base64", "base64d", "base32", "base32d").map(f => fn0(s"@$f")(in => text(applyFormat(f, in)))).toMap

  private def isoDate(secs: Double): JsonNode =
    text(java.time.format.DateTimeFormatter.ISO_INSTANT.format(java.time.Instant.ofEpochSecond(secs.toLong)))

  /** Every combination of one element of each array of `rem`, after `prefix`. */
  private def combinations(rem: List[JsonNode], prefix: List[JsonNode], k: Sink): Unit = rem match {
    case Nil => k(arr(prefix.reverse))
    case hd :: tl => Json.elements(requireArray(hd, "iterated")).foreach(x => combinations(tl, x :: prefix, k))
  }

  // -- dates (UTC) --------------------------------------------------------

  /** jq broken-down time array: [year, month0, mday, hour, min, sec, wday0(Sun=0), yday0] */
  private def brokenDown(secs: Double): JsonNode = {
    val t = java.time.Instant.ofEpochSecond(math.floor(secs).toLong)
      .atZone(java.time.ZoneOffset.UTC)
    val frac = secs - math.floor(secs)
    arr(List(
      num(t.getYear), num(t.getMonthValue - 1), num(t.getDayOfMonth),
      num(t.getHour), num(t.getMinute),
      if (frac == 0) num(t.getSecond) else F.numberNode(t.getSecond + frac),
      num(t.getDayOfWeek.getValue % 7), // java Mon=1..Sun=7 → jq Sun=0
      num(t.getDayOfYear - 1)))
  }

  private def fromBrokenDown(a: JsonNode): Long = {
    def i(idx: Int, dflt: Int = 0): Int =
      if (idx < a.size() && a.get(idx).isNumber) a.get(idx).asInt() else dflt
    java.time.ZonedDateTime.of(i(0, 1970), i(1) + 1, i(2, 1), i(3), i(4),
      i(5), 0, java.time.ZoneOffset.UTC).toEpochSecond
  }

  private def strftime(secs: Long, fmt: String): String = {
    val t = java.time.Instant.ofEpochSecond(secs).atZone(java.time.ZoneOffset.UTC)
    val en = java.util.Locale.US
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append(t.getYear)
          case 'm' => sb.append(f"${t.getMonthValue}%02d")
          case 'd' => sb.append(f"${t.getDayOfMonth}%02d")
          case 'e' => sb.append(f"${t.getDayOfMonth}%2d")
          case 'H' => sb.append(f"${t.getHour}%02d")
          case 'M' => sb.append(f"${t.getMinute}%02d")
          case 'S' => sb.append(f"${t.getSecond}%02d")
          case 'j' => sb.append(f"${t.getDayOfYear}%03d")
          case 's' => sb.append(secs)
          case 'T' => sb.append(f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d")
          case 'D' => sb.append(f"${t.getMonthValue}%02d/${t.getDayOfMonth}%02d/${t.getYear % 100}%02d")
          case 'a' => sb.append(t.getDayOfWeek.getDisplayName(java.time.format.TextStyle.SHORT, en))
          case 'A' => sb.append(t.getDayOfWeek.getDisplayName(java.time.format.TextStyle.FULL, en))
          case 'b' => sb.append(t.getMonth.getDisplayName(java.time.format.TextStyle.SHORT, en))
          case 'B' => sb.append(t.getMonth.getDisplayName(java.time.format.TextStyle.FULL, en))
          case 'Z' => sb.append("UTC")
          case 'z' => sb.append("+0000")
          case '%' => sb.append('%')
          case other => sb.append('%').append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def strptime(s: String, fmt: String): Long = {
    // translate the strftime subset to a java.time pattern
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("uuuu")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'T' => sb.append("HH:mm:ss")
          case 'Z' => sb.append("zzz")
          case 'a' => sb.append("EEE")
          case 'b' => sb.append("MMM")
          case '%' => sb.append('%')
          case other => throw JqError.of(s"strptime: unsupported %$other")
        }
        i += 2
      } else {
        if ("'[]#{}".indexOf(c.toInt) >= 0 || c.isLetter) sb.append(s"'$c'") else sb.append(c)
        i += 1
      }
    }
    try {
      val f = java.time.format.DateTimeFormatter.ofPattern(sb.toString, java.util.Locale.US)
      val parsed = f.parse(s)
      val year = if (parsed.isSupported(java.time.temporal.ChronoField.YEAR)) parsed.get(java.time.temporal.ChronoField.YEAR) else 1970
      def gf(ch: java.time.temporal.ChronoField, d: Int) =
        if (parsed.isSupported(ch)) parsed.get(ch) else d
      java.time.ZonedDateTime.of(year,
        gf(java.time.temporal.ChronoField.MONTH_OF_YEAR, 1),
        gf(java.time.temporal.ChronoField.DAY_OF_MONTH, 1),
        gf(java.time.temporal.ChronoField.HOUR_OF_DAY, 0),
        gf(java.time.temporal.ChronoField.MINUTE_OF_HOUR, 0),
        gf(java.time.temporal.ChronoField.SECOND_OF_MINUTE, 0),
        0, java.time.ZoneOffset.UTC).toEpochSecond
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw JqError.of(s"date \"$s\" does not match format \"$fmt\"")
    }
  }

  // -- impl helpers -------------------------------------------------------

  /** jq's `[keys_unsorted[] as $k | {key: $k, value: .[$k]}]`: an array
    * gives index keys, a scalar has no keys. */
  private def toEntries(in: JsonNode): JsonNode =
    arr(Json.elements(keysOf(in, sorted = false)).map { k =>
      obj(List("key" -> k, "value" -> (if (k.isTextual) in.get(k.textValue) else in.get(k.intValue))))
    }.toList)

  /** The object of the entries' key (the first non-null of key, k, name,
    * Name) and value (value, else v). A key that is not a string is
    * serialized, or with `stringKeys` an error as jq 1.6 has it. */
  private def fromEntries(in: JsonNode, stringKeys: Boolean): JsonNode = {
    val out = F.objectNode()
    elems(in, "object-ized").foreach { e =>
      val keyNode = List("key", "k", "name", "Name")
        .iterator.map(e.get).find(n => n != null && !n.isNull).getOrElse(NullN)
      val key =
        if (keyNode.isTextual) keyNode.textValue()
        else if (stringKeys)
          throw JqError.of(s"Cannot use ${Json.typeName(keyNode)}${preview(keyNode)} as object key")
        else if (keyNode.isNull) "null"
        else serialize(keyNode)
      val value =
        if (e.isObject && e.has("value")) e.get("value")
        else if (e.isObject && e.has("v")) e.get("v")
        else NullN
      out.set[JsonNode](key, value): Unit
    }
    out
  }

  private def keysOf(in: JsonNode, sorted: Boolean): JsonNode =
    if (in.isObject) {
      val names = if (sorted) fieldNamesSorted(in).toSeq else Json.fields(in).map(_._1).toSeq
      arr(names.map(text))
    } else if (in.isArray) arr((0 until in.size()).map(i => num(i)))
    else throw JqError.of(s"${Json.typeName(in)}${preview(in)} has no keys")

  private def dedupSorted(sorted: List[JsonNode]): List[JsonNode] = {
    val out = List.newBuilder[JsonNode]
    var last: Option[JsonNode] = None
    sorted.foreach { v =>
      if (!last.exists(Json.eq(_, v))) { out += v; last = Some(v) }
    }
    out.result()
  }

  private def flattenRec(items: List[JsonNode], depth: Int): List[JsonNode] =
    items.flatMap { e =>
      if (e.isArray && depth > 0) flattenRec(Json.elements(e).toList, depth - 1)
      else List(e)
    }

  /** jq 1.6's `contains`: the two top-level values must be of one kind —
    * `true` and `false` are two kinds — or it is an error; below the top a
    * kind mismatch is just `false`. */
  private def containsTop(a: JsonNode, b: JsonNode): Boolean =
    if (a.getNodeType == b.getNodeType && (!a.isBoolean || a.booleanValue == b.booleanValue))
      containsRec(a, b)
    else throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} " +
      "cannot have their containment checked")

  private def containsRec(a: JsonNode, b: JsonNode): Boolean =
    if (a.isObject && b.isObject)
      Json.fields(b).forall { case (k, bv) => a.has(k) && containsRec(a.get(k), bv) }
    else if (a.isArray && b.isArray)
      Json.elements(b).forall(bv => Json.elements(a).exists(av => containsRec(av, bv)))
    else if (a.isTextual && b.isTextual) a.textValue().contains(b.textValue())
    else Json.eq(a, b)

  private def range(from: Double, to: Double, step: Double, k: Sink): Unit =
    if (step == 0) { if (from < to) { val v = num(from); while (true) k(v) } }
    else {
      var x = from
      while (if (step > 0) x < to else x > to) { k(num(x)); x += step }
    }

  private def regexSplit(s: String, re: String, flags: String): List[String] = {
    val ms = allMatches(s, re, flags + "g")
    if (ms.isEmpty) List(s)
    else {
      // offsets are codepoint-based; convert back to char offsets
      def charOff(cp: Int): Int = s.offsetByCodePoints(0, cp)
      val out = List.newBuilder[String]
      var pos = 0
      ms.foreach { m =>
        val off = charOff(m.get("offset").intValue())
        val len = m.get("string").textValue().length
        out += s.substring(pos, off)
        pos = off + len
      }
      out += s.substring(pos)
      out.result()
    }
  }

  private def scanResult(mo: JsonNode): JsonNode = {
    val caps = Json.elements(mo.get("captures")).toList
    if (caps.isEmpty) mo.get("string")
    else arr(caps.map(_.get("string")))
  }

  private def indicesOf(in: JsonNode, i: JsonNode): JsonNode =
    if (in.isNull) NullN
    else if (in.isTextual && i.isTextual) {
      val s = in.textValue(); val sub = i.textValue()
      if (sub.isEmpty) NullN
      else {
        val out = List.newBuilder[JsonNode]
        var idx = s.indexOf(sub)
        while (idx >= 0) {
          out += num(s.codePointCount(0, idx))
          idx = s.indexOf(sub, idx + 1)
        }
        arr(out.result())
      }
    } else if (in.isArray && i.isArray) {
      val hay = Json.elements(in).toVector; val needle = Json.elements(i).toVector
      if (needle.isEmpty) NullN
      else arr((0 to hay.length - needle.length).collect {
        case j if needle.indices.forall(k => Json.eq(hay(j + k), needle(k))) => num(j)
      })
    } else if (in.isArray) {
      val hay = Json.elements(in).toVector
      arr(hay.indices.collect { case j if Json.eq(hay(j), i) => num(j) })
    } else throw JqError.of(s"Cannot get indices of ${Json.typeName(i)} in ${Json.typeName(in)}")
}
