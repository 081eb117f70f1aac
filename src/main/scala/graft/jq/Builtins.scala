package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.charset.StandardCharsets
import java.util.regex.{Matcher, Pattern => JPattern}
import scala.jdk.CollectionConverters._

/** jq builtin functions (value level, regex, formats, dates).
  * Regex uses `java.util.regex` (documented divergence from jq's Oniguruma;
  * named groups + common flags behave identically for typical patterns). */
object Builtins {
  import Json._
  import Interp.{eval, preview}

  type S = JqStream
  type Builtin = (List[JqExpr], JsonNode, Env) => S

  // -- helpers ------------------------------------------------------------

  /** one-value-arg builtin: cartesian over the arg's outputs */
  private def v1(name: String)(f: (JsonNode, JsonNode) => S): ((String, Int), Builtin) =
    (name, 1) -> { (args, in, env) => eval(args.head, in, env).flatMap(a => f(in, a)) }

  private def v2(name: String)(f: (JsonNode, JsonNode, JsonNode) => S): ((String, Int), Builtin) =
    (name, 2) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap(a => eval(args(1), in, env).flatMap(b => f(in, a, b)))
    }

  private def v0(name: String)(f: JsonNode => S): ((String, Int), Builtin) =
    (name, 0) -> { (_, in, _) => f(in) }

  private def one(v: JsonNode): S = JqStream(v)

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
    v0(name)(in => one(num(f(requireNumber(in, name)))))

  /** sort key per jq's sort_by/group_by: the ARRAY of all outputs of f */
  private def keyOf(f: JqExpr, v: JsonNode, env: Env): JsonNode = f match {
    case JqExpr.Strict(x) => arr(Interp.evalOne(x, v, env) :: Nil) // streamless
    case _ => arr(eval(f, v, env).toList)
  }

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
    (JPattern.compile(re, f), names)
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
  private def substitute(in: JsonNode, re: JsonNode, repl: JqExpr, flags: String,
                         env: Env): S = {
    val s = requireString(in, "matched")
    val global = flags.contains('g')
    val (p, names) = compileRegex(re.textValue(), flags)

    def go(from: Int, acc: String): S = {
      val m = p.matcher(s)
      if (from <= s.length && m.find(from)) {
        val capObj = {
          val mo = matchObj(s, m, names)
          captureObj(mo)
        }
        val pre = s.substring(from, m.start)
        val matchEnd = if (m.end == m.start) m.end + 1 else m.end // zero-width guard
        eval(repl, capObj, env).flatMap { r =>
          val rs = requireString(r, "used as a replacement")
          val zw = if (m.end == m.start && m.end < s.length) s.substring(m.end, m.end + 1) else ""
          if (global) go(matchEnd, acc + pre + rs + zw)
          else one(text(acc + pre + rs + zw + s.substring(matchEnd)))
        }
      } else one(text(acc + s.substring(math.min(from, s.length))))
    }
    go(0, "")
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
        case '\'' => "&#39;"
        case '"' => "&quot;"
        case c => c.toString
      }
    case "uri" =>
      render(v).getBytes(StandardCharsets.UTF_8).flatMap { b =>
        val c = b.toChar
        if (c.isLetterOrDigit && c < 128 || "-_.~".indexOf(c.toInt) >= 0) c.toString
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
      new String(java.util.Base64.getDecoder.decode(render(v)), StandardCharsets.UTF_8)
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

  val table: Map[(String, Int), Builtin] = Map[(String, Int), Builtin](
    ("empty", 0) -> { (_, _, _) => JqStream.empty },
    ("error", 0) -> { (_, in, _) => throw new JqError(in) },
    v1("error")((_, msg) => throw new JqError(msg)),
    v0("not")(in => one(bool(!truthy(in)))),

    v0("length") { in =>
      one(
        if (in.isNull) num(0)
        else if (in.isTextual) num(in.textValue().codePointCount(0, in.textValue().length))
        else if (in.isArray || in.isObject) num(in.size())
        else if (in.isNumber) num(math.abs(in.doubleValue()))
        else throw JqError.of(s"boolean${preview(in)} has no length"))
    },
    v0("utf8bytelength")(in =>
      one(num(requireString(in, "counted").getBytes(StandardCharsets.UTF_8).length))),

    v0("keys")(in => one(keysOf(in, sorted = true))),
    v0("keys_unsorted")(in => one(keysOf(in, sorted = false))),

    v1("has") { (in, k) =>
      if (in.isObject) one(bool(k.isTextual && in.has(k.textValue())))
      else if (in.isArray) one(bool(k.isNumber && k.doubleValue() >= 0 && k.doubleValue() < in.size()))
      else throw JqError.of(s"Cannot check whether ${Json.typeName(in)} has a key")
    },
    v1("in") { (in, c) =>
      if (c.isObject) one(bool(in.isTextual && c.has(in.textValue())))
      else if (c.isArray) one(bool(in.isNumber && in.doubleValue() >= 0 && in.doubleValue() < c.size()))
      else throw JqError.of(s"Cannot check whether ${Json.typeName(c)} has a key")
    },
    v1("contains")((in, b) => one(bool(containsRec(in, b)))),
    v1("inside")((in, b) => one(bool(containsRec(b, in)))),

    v0("add") { in =>
      one(elems(in, "added").foldLeft(NullN: JsonNode)(Interp.add))
    },

    v0("any")(in => one(bool(elems(in, "examined").exists(truthy)))),
    v0("all")(in => one(bool(elems(in, "examined").forall(truthy)))),
    ("any", 1) -> { (args, in, env) =>
      one(bool(Json.elements(in).exists(v => eval(args.head, v, env).exists(truthy))))
    },
    ("all", 1) -> { (args, in, env) =>
      one(bool(Json.elements(in).forall(v => eval(args.head, v, env).forall(truthy))))
    },
    ("any", 2) -> { (args, in, env) =>
      one(bool(eval(args(0), in, env).exists(v => eval(args(1), v, env).exists(truthy))))
    },
    ("all", 2) -> { (args, in, env) =>
      one(bool(eval(args(0), in, env).forall(v => eval(args(1), v, env).forall(truthy))))
    },

    ("range", 1) -> { (args, in, env) =>
      eval(args.head, in, env).flatMap(hi => rangeStream(0, requireNumber(hi, "range"), 1))
    },
    ("range", 2) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap(lo => eval(args(1), in, env).flatMap(hi =>
        rangeStream(requireNumber(lo, "range"), requireNumber(hi, "range"), 1)))
    },
    ("range", 3) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap(lo => eval(args(1), in, env).flatMap(hi =>
        eval(args(2), in, env).flatMap(st =>
          rangeStream(requireNumber(lo, "range"), requireNumber(hi, "range"), requireNumber(st, "range")))))
    },

    math1("floor")(math.floor),
    math1("ceil")(math.ceil),
    math1("round")(d => math.round(d).toDouble),
    math1("sqrt")(math.sqrt),
    math1("fabs")(math.abs),
    math1("log")(math.log),
    math1("log2")(d => math.log(d) / math.log(2)),
    math1("log10")(math.log10),
    math1("exp")(math.exp),
    math1("exp2")(d => math.pow(2, d)),
    math1("exp10")(d => math.pow(10, d)),
    v2("pow")((_, a, b) => one(num(math.pow(requireNumber(a, "pow"), requireNumber(b, "pow"))))),
    v0("infinite")(_ => one(F.numberNode(Double.PositiveInfinity))),
    v0("nan")(_ => one(F.numberNode(Double.NaN))),
    v0("isnan")(in => one(bool(in.isNumber && in.doubleValue().isNaN))),
    v0("isinfinite")(in => one(bool(in.isNumber && in.doubleValue().isInfinite))),

    v0("min")(in => one(elems(in, "min-ed").minOption(ordering).getOrElse(NullN))),
    v0("max")(in => one(elems(in, "max-ed").maxOption(ordering).getOrElse(NullN))),
    ("min_by", 1) -> { (args, in, env) =>
      one(elems(in, "min-ed").minByOption(keyOf(args.head, _, env))(ordering).getOrElse(NullN))
    },
    ("max_by", 1) -> { (args, in, env) =>
      one(elems(in, "max-ed").maxByOption(keyOf(args.head, _, env))(ordering).getOrElse(NullN))
    },

    v0("sort")(in => one(arr(elems(in, "sorted").sorted(ordering)))),
    ("sort_by", 1) -> { (args, in, env) =>
      one(arr(elems(in, "sorted").sortBy(keyOf(args.head, _, env))(ordering)))
    },
    ("group_by", 1) -> { (args, in, env) =>
      val keyed = elems(in, "grouped").map(v => (keyOf(args.head, v, env), v))
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
      one(arr(groups.result()))
    },
    v0("unique") { in =>
      one(arr(dedupSorted(elems(in, "sorted").sorted(ordering))))
    },
    ("unique_by", 1) -> { (args, in, env) =>
      val keyed = elems(in, "sorted").map(v => (keyOf(args.head, v, env), v))
        .sortBy(_._1)(ordering)
      val out = List.newBuilder[JsonNode]
      var last: Option[JsonNode] = None
      keyed.foreach { case (k, v) =>
        if (!last.exists(Json.eq(_, k))) { out += v; last = Some(k) }
      }
      one(arr(out.result()))
    },

    v0("reverse") { in =>
      if (in.isNull) one(arr(Nil))
      else if (in.isTextual) {
        val cps = in.textValue().codePoints().toArray.reverse
        one(text(new String(cps, 0, cps.length)))
      } else one(arr(elems(in, "reversed").reverse))
    },

    v0("flatten")(in => one(arr(flattenRec(elems(in, "flattened"), Int.MaxValue)))),
    ("flatten", 1) -> { (args, in, env) =>
      eval(args.head, in, env).map { d =>
        val depth = requireNumber(d, "flatten").toInt
        if (depth < 0) throw JqError.of("flatten depth must not be negative")
        arr(flattenRec(elems(in, "flattened"), depth))
      }
    },

    v1("join") { (in, sepN) =>
      val sep = requireString(sepN, "joined")
      one(text(elems(in, "joined").map { e =>
        if (e.isNull) ""
        else if (e.isTextual) e.textValue()
        else if (e.isNumber || e.isBoolean) e.toString
        else throw JqError.of(s"Cannot join with ${Json.typeName(e)}")
      }.mkString(sep)))
    },

    v1("split") { (in, sepN) =>
      one(arr(Interp.splitLiteral(
        requireString(in, "split"), requireString(sepN, "split")).map(text)))
    },
    v2("split") { (in, reN, flagsN) =>
      val s = requireString(in, "split")
      val flags = if (flagsN.isNull) "" else requireString(flagsN, "a modifier")
      one(arr(regexSplit(s, requireString(reN, "split"), flags).map(text)))
    },
    v1("splits")((in, reN) =>
      JqStream.from(regexSplit(requireString(in, "split"), requireString(reN, "split"), "").map(text))),
    v2("splits") { (in, reN, flagsN) =>
      val flags = if (flagsN.isNull) "" else requireString(flagsN, "a modifier")
      JqStream.from(regexSplit(requireString(in, "split"), requireString(reN, "split"), flags).map(text))
    },

    v1("ltrimstr") { (in, p) =>
      one(
        if (in.isTextual && p.isTextual && in.textValue().startsWith(p.textValue()))
          text(in.textValue().substring(p.textValue().length))
        else in)
    },
    v1("rtrimstr") { (in, p) =>
      one(
        if (in.isTextual && p.isTextual && in.textValue().endsWith(p.textValue()) && p.textValue().nonEmpty)
          text(in.textValue().substring(0, in.textValue().length - p.textValue().length))
        else in)
    },
    // jq 1.7 additions: abs / toarray / pick, and the 1.7.1 trim trio
    // (ASCII isspace set, matching jq's C trim — NOT java.lang.String.trim's
    // "all controls <= U+0020" rule)
    v0("abs")(in => one(num(math.abs(requireNumber(in, "abs"))))),
    v0("toarray")(in => one(if (in.isArray) in else arr(List(in)))),
    ("pick", 1) -> { (args, in, env) =>
      // def pick(pathexps): . as $top
      //   | reduce path(pathexps) as $p (null; setpath($p; $top | getpath($p)));
      one(Interp.evalPaths(args.head, in, env).foldLeft(NullN: JsonNode) {
        (acc, p) => Interp.setPath(acc, p, Interp.getPath(in, p))
      })
    },
    v0("trim")(in => one(text(trimWs(requireString(in, "trimmed"), left = true, right = true)))),
    v0("ltrim")(in => one(text(trimWs(requireString(in, "trimmed"), left = true, right = false)))),
    v0("rtrim")(in => one(text(trimWs(requireString(in, "trimmed"), left = false, right = true)))),
    // number-representation capability probes (jq 1.7): this engine
    // canonicalizes to long/double (Json.num), so neither literal nor
    // decimal representations survive — both honestly false
    ("have_literal_numbers", 0) -> { (_, _, _) => one(FalseN) },
    ("have_decimal_numbers", 0) -> { (_, _, _) => one(FalseN) },

    v1("startswith")((in, p) =>
      one(bool(requireString(in, "checked").startsWith(requireString(p, "checked"))))),
    v1("endswith")((in, p) =>
      one(bool(requireString(in, "checked").endsWith(requireString(p, "checked"))))),

    v0("ascii_downcase")(in =>
      one(text(requireString(in, "downcased").map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)))),
    v0("ascii_upcase")(in =>
      one(text(requireString(in, "upcased").map(c => if (c >= 'a' && c <= 'z') (c - 32).toChar else c)))),

    // uriparse — the deterministic slice of the reference classpath's
    // jackson-jq-extra module (reference pom.xml:77 ships it, so its
    // functions are arguably reference surface): the URI decomposed per
    // RFC 3986 generic syntax via java.net.URI; absent components read
    // null (port -1 → null). The same module's uuid/random are §5
    // NON-GOALS — a deterministic engine cannot ship entropy builtins.
    v0("uriparse") { in =>
      val s = requireString(in, "parsed as a URI")
      val u =
        try new java.net.URI(s)
        catch {
          case e: java.net.URISyntaxException =>
            throw JqError.of(s"uriparse: invalid URI${preview(in)}: ${e.getReason}")
        }
      def t(v: String): JsonNode = if (v == null) NullN else text(v)
      one(obj(List(
        "scheme" -> t(u.getScheme),
        "authority" -> t(u.getAuthority),
        "userinfo" -> t(u.getUserInfo),
        "host" -> t(u.getHost),
        "port" -> (if (u.getPort < 0) NullN else num(u.getPort)),
        "path" -> t(u.getPath),
        "query" -> t(u.getQuery),
        "fragment" -> t(u.getFragment))))
    },

    v0("explode") { in =>
      one(arr(requireString(in, "exploded").codePoints().toArray.toSeq.map(cp => num(cp))))
    },
    v0("implode") { in =>
      val cps = elems(in, "imploded").map(e => requireNumber(e, "implode").toInt).toArray
      one(text(new String(cps, 0, cps.length)))
    },

    v0("tostring")(in => one(text(render(in)))),
    v0("tonumber") { in =>
      if (in.isNumber) one(in)
      else if (in.isTextual) {
        try one(num(in.textValue().trim.toDouble))
        catch { case _: NumberFormatException =>
          throw JqError.of(s"Cannot parse '${in.textValue()}' as number") }
      } else throw JqError.of(s"${Json.typeName(in)}${preview(in)} cannot be parsed as a number")
    },
    v0("tojson")(in => one(text(serialize(in)))),
    v0("fromjson") { in =>
      one(Jq.parseJson(requireString(in, "parsed as JSON")))
    },
    v0("type")(in => one(text(Json.typeName(in)))),

    // type-filter builtins
    v0("arrays")(in => if (in.isArray) one(in) else JqStream.empty),
    v0("objects")(in => if (in.isObject) one(in) else JqStream.empty),
    v0("iterables")(in => if (in.isArray || in.isObject) one(in) else JqStream.empty),
    v0("scalars")(in => if (!in.isArray && !in.isObject) one(in) else JqStream.empty),
    v0("booleans")(in => if (in.isBoolean) one(in) else JqStream.empty),
    v0("numbers")(in => if (in.isNumber) one(in) else JqStream.empty),
    v0("strings")(in => if (in.isTextual) one(in) else JqStream.empty),
    v0("nulls")(in => if (in.isNull) one(in) else JqStream.empty),
    v0("values")(in => if (!in.isNull) one(in) else JqStream.empty),

    v0("first")(in => one(Interp.indexAccess(in, num(0)))),
    v0("last")(in => one(Interp.indexAccess(in, num(-1)))),
    ("first", 1) -> { (args, in, env) => eval(args.head, in, env).take(1) },
    ("last", 1) -> { (args, in, env) => JqStream.from(eval(args.head, in, env).lastOption) },
    ("nth", 1) -> { (args, in, env) =>
      eval(args.head, in, env).map(n => Interp.indexAccess(in, n))
    },
    ("nth", 2) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap { n =>
        val i = requireNumber(n, "nth").toInt
        if (i < 0) throw JqError.of("Out of bounds negative array index")
        eval(args(1), in, env).slice(i, i + 1)
      }
    },
    ("limit", 2) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap { n =>
        val k = requireNumber(n, "limit").toInt
        if (k <= 0) JqStream.empty else eval(args(1), in, env).take(k)
      }
    },
    ("until", 2) -> { (args, in, env) =>
      def go(v: JsonNode): S =
        eval(args(0), v, env).take(1).flatMap { c =>
          if (truthy(c)) one(v) else eval(args(1), v, env).take(1).flatMap(go)
        }
      go(in)
    },
    ("while", 2) -> { (args, in, env) =>
      def go(v: JsonNode): S =
        eval(args(0), v, env).take(1).flatMap { c =>
          if (truthy(c)) v #:: eval(args(1), v, env).take(1).flatMap(go)
          else JqStream.empty
        }
      go(in)
    },
    ("repeat", 1) -> { (args, in, env) =>
      def go(v: JsonNode): S = eval(args.head, v, env).flatMap(nv => nv #:: go(nv))
      go(in)
    },
    v0("recurse")(Interp.recurseAll),
    ("recurse", 1) -> { (args, in, env) =>
      def go(v: JsonNode): S = v #:: eval(args.head, v, env).flatMap(go)
      go(in)
    },
    ("recurse", 2) -> { (args, in, env) =>
      def go(v: JsonNode): S =
        v #:: eval(args(0), v, env).filter(c => eval(args(1), c, env).exists(truthy)).flatMap(go)
      go(in)
    },

    ("map", 1) -> { (args, in, env) =>
      args.head match {
        // strict body: one output per element, evaluated without streams
        case JqExpr.Strict(x) =>
          one(arr(Json.elements(requireArray(in, "mapped")).toList
            .map(v => Interp.evalOne(x, v, env))))
        case f =>
          one(arr(Json.elements(requireArray(in, "mapped")).toList
            .flatMap(v => eval(f, v, env).toList)))
      }
    },
    ("map_values", 1) -> { (args, in, env) =>
      if (in.isObject) {
        val out = F.objectNode()
        Json.fields(in).foreach { case (k, v) =>
          eval(args.head, v, env).headOption.foreach(nv => out.set[JsonNode](k, nv))
        }
        one(out)
      } else if (in.isArray) {
        one(arr(Json.elements(in).toList.flatMap(v => eval(args.head, v, env).take(1).toList)))
      } else throw JqError.of(s"Cannot iterate over ${Json.typeName(in)}")
    },
    ("select", 1) -> { (args, in, env) =>
      args.head match {
        // strict predicate (the overwhelmingly common case): evaluate it
        // directly — no singleton stream per element
        case JqExpr.Strict(x) =>
          if (truthy(Interp.evalOne(x, in, env))) one(in) else JqStream.empty
        case a =>
          eval(a, in, env).flatMap(c => if (truthy(c)) one(in) else JqStream.empty)
      }
    },

    v0("to_entries")(in => one(toEntries(in))),
    v0("from_entries")(in => one(fromEntries(in, stringKeys = false))),
    ("with_entries", 1) -> { (args, in, env) =>
      // to_entries | map(f) | from_entries, whose keys must be strings in
      // jq 1.6: an array's index keys are an error there
      val mapped = Json.elements(toEntries(in)).flatMap(e => eval(args.head, e, env).toList).toList
      one(fromEntries(arr(mapped), stringKeys = true))
    },

    ("paths", 0) -> { (_, in, _) =>
      JqStream.from(Interp.allPaths(in, Vector.empty, leavesOnly = false).drop(1).map(arr)) },
    ("paths", 1) -> { (args, in, env) =>
      JqStream.from(Interp.allPaths(in, Vector.empty, leavesOnly = false).drop(1).flatMap { p =>
        val v = Interp.getPath(in, p)
        eval(args.head, v, env).filter(truthy).take(1).map(_ => arr(p))
      })
    },
    // jq 1.6: paths(scalars), and select drops null and false leaves
    v0("leaf_paths")(in =>
      JqStream.from(Interp.allPaths(in, Vector.empty, leavesOnly = true)
        .filter(p => p.nonEmpty && truthy(Interp.getPath(in, p))).map(arr))),
    v1("getpath") { (in, p) =>
      one(Interp.getPath(in, Json.elements(requireArray(p, "used as a path")).toVector))
    },
    v2("setpath") { (in, p, v) =>
      one(Interp.setPath(in, Json.elements(requireArray(p, "used as a path")).toVector, v))
    },
    v1("delpaths") { (in, ps) =>
      one(Interp.delPaths(in,
        Json.elements(requireArray(ps, "used as paths")).map(p =>
          Json.elements(requireArray(p, "used as a path")).toVector.toSeq).toList))
    },
    ("del", 1) -> { (args, in, env) =>
      one(Interp.delPaths(in, Interp.evalPaths(args.head, in, env).map(_.toSeq).toList))
    },
    ("path", 1) -> { (args, in, env) =>
      JqStream.from(Interp.evalPaths(args.head, in, env).map(arr))
    },

    ("env", 0) -> { (_, _, _) => one(obj(Nil)) }, // deliberately empty
    ("$__loc__", 0) -> { (_, _, _) => one(obj(List("file" -> text("<stdin>"), "line" -> num(1)))) },
    ("builtins", 0) -> { (_, _, _) =>
      one(arr(table.keys.toList.sortBy(k => (k._1, k._2)).map { case (n, a) => text(s"$n/$a") }))
    },
    ("input_line_number", 0) -> { (_, _, _) => one(num(0)) },

    v0("transpose") { in =>
      val rows = elems(in, "transposed").map(r => elems(r, "transposed"))
      val n = rows.map(_.length).maxOption.getOrElse(0)
      one(arr((0 until n).map(i => arr(rows.map(r => r.lift(i).getOrElse(NullN))))))
    },

    ("walk", 1) -> { (args, in, env) =>
      def go(v: JsonNode): S = {
        val transformed: JsonNode =
          if (v.isArray) arr(Json.elements(v).toList.flatMap(e => go(e).take(1).toList))
          else if (v.isObject) {
            val o = F.objectNode()
            Json.fields(v).foreach { case (k, c) => go(c).headOption.foreach(nc => o.set[JsonNode](k, nc)) }
            o
          } else v
        eval(args.head, transformed, env)
      }
      go(in)
    },

    v1("indices")((in, i) => one(indicesOf(in, i))),
    v1("index") { (in, i) =>
      one(Json.elements(indicesOf(in, i)).nextOption().getOrElse(NullN))
    },
    v1("rindex") { (in, i) =>
      val all = Json.elements(indicesOf(in, i)).toList
      one(all.lastOption.getOrElse(NullN))
    },

    // regex family
    v1("test")((in, re) => one(bool(allMatches(requireString(in, "matched"), requireString(re, "matched"), "").nonEmpty))),
    v2("test") { (in, re, fl) =>
      val flags = if (fl.isNull) "" else requireString(fl, "a modifier")
      one(bool(allMatches(requireString(in, "matched"), requireString(re, "matched"), flags).nonEmpty))
    },
    v1("match")((in, re) =>
      JqStream.from(allMatches(requireString(in, "matched"), requireString(re, "matched"), ""))),
    v2("match") { (in, re, fl) =>
      val flags = if (fl.isNull) "" else requireString(fl, "a modifier")
      JqStream.from(allMatches(requireString(in, "matched"), requireString(re, "matched"), flags))
    },
    v1("capture")((in, re) =>
      JqStream.from(allMatches(requireString(in, "matched"), requireString(re, "matched"), "").map(captureObj))),
    v2("capture") { (in, re, fl) =>
      val flags = if (fl.isNull) "" else requireString(fl, "a modifier")
      JqStream.from(allMatches(requireString(in, "matched"), requireString(re, "matched"), flags).map(captureObj))
    },
    v1("scan") { (in, re) =>
      JqStream.from(allMatches(requireString(in, "matched"), requireString(re, "matched"), "g").map(scanResult))
    },
    v2("scan") { (in, re, fl) =>
      val flags = if (fl.isNull) "g" else requireString(fl, "a modifier") + "g"
      JqStream.from(allMatches(requireString(in, "matched"), requireString(re, "matched"), flags).map(scanResult))
    },
    ("sub", 2) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap(re => substitute(in, re, args(1), "", env))
    },
    ("sub", 3) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap { re =>
        eval(args(2), in, env).flatMap { fl =>
          substitute(in, re, args(1), if (fl.isNull) "" else fl.textValue(), env)
        }
      }
    },
    ("gsub", 2) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap(re => substitute(in, re, args(1), "g", env))
    },
    ("gsub", 3) -> { (args, in, env) =>
      eval(args(0), in, env).flatMap { re =>
        eval(args(2), in, env).flatMap { fl =>
          substitute(in, re, args(1), (if (fl.isNull) "" else fl.textValue()) + "g", env)
        }
      }
    },

    // dates (UTC, seconds since epoch)
    v0("todate") { in =>
      val secs = requireNumber(in, "todate").toLong
      one(text(java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        java.time.Instant.ofEpochSecond(secs))))
    },
    v0("fromdate") { in =>
      val s = requireString(in, "parsed as a date")
      try one(num(java.time.Instant.parse(s).getEpochSecond.toDouble))
      catch { case _: java.time.format.DateTimeParseException =>
        throw JqError.of(s"date \"$s\" does not match format \"%Y-%m-%dT%H:%M:%SZ\"") }
    },
    v0("date") { in =>
      val secs = requireNumber(in, "todate").toLong
      one(text(java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        java.time.Instant.ofEpochSecond(secs))))
    },

    // broken-down time: [year, month0, mday, hour, min, sec, wday, yday]
    // wall-clock seconds, like jq's now (jackson-jq ships it). Note for
    // distributed use: evaluated per-row per-executor, NOT constant-folded —
    // rows in one query can observe different times, same as in Hive+jq.
    ("now", 0) -> { (_, _, _) => one(num(System.currentTimeMillis() / 1000.0)) },
    v0("gmtime")(in => one(brokenDown(requireNumber(in, "gmtime")))),
    v0("localtime")(in => one(brokenDown(requireNumber(in, "localtime")))), // UTC session
    v0("mktime") { in =>
      one(num(fromBrokenDown(requireArray(in, "mktime-d")).toDouble))
    },
    ("strftime", 1) -> { (args, in, env) =>
      eval(args.head, in, env).map { f =>
        val secs =
          if (in.isNumber) in.doubleValue().toLong
          else fromBrokenDown(requireArray(in, "strftime-d"))
        text(strftime(secs, requireString(f, "a format")))
      }
    },
    ("strptime", 1) -> { (args, in, env) =>
      eval(args.head, in, env).map { f =>
        brokenDown(strptime(requireString(in, "parsed"), requireString(f, "a format")).toDouble)
      }
    },

    v0("combinations") { in =>
      def go(rem: List[JsonNode]): S = rem match {
        case Nil => one(arr(Nil))
        case hd :: tl =>
          JqStream.from(Json.elements(requireArray(hd, "iterated")).toSeq).flatMap { x =>
            go(tl).map(restArr => arr(x +: Json.elements(restArr).toSeq))
          }
      }
      go(elems(in, "iterated"))
    },
    ("combinations", 1) -> { (args, in, env) =>
      eval(args.head, in, env).flatMap { nN =>
        val n = requireNumber(nN, "combinations").toInt
        table(("combinations", 0))(Nil, arr(List.fill(n)(in)), env)
      }
    },

    ("fromstream", 1) -> { (args, in, env) =>
      // reconstruct values from tostream-style [path, leaf] / [closing-path]
      // events (jq's builtin.jq definition, state-machine form)
      var acc: JsonNode = NullN
      eval(args.head, in, env).flatMap { ev =>
        val e = requireArray(ev, "streamed")
        val path = Json.elements(e.get(0)).toVector
        if (e.size() >= 2) {
          acc = Interp.setPath(acc, path, e.get(1))
          if (path.isEmpty) { val out = acc; acc = NullN; one(out) }
          else JqStream.empty
        } else {
          if (path.length == 1) { val out = acc; acc = NullN; one(out) }
          else JqStream.empty
        }
      }
    },
    ("truncate_stream", 1) -> { (args, in, env) =>
      val depth = requireNumber(in, "truncate_stream").toInt
      // per jq: input number = depth, arg = stream expression (evaluated
      // against the stream's own input... jq passes `.` through; we use null)
      eval(args.head, NullN, env).flatMap { ev =>
        val e = requireArray(ev, "streamed")
        val path = Json.elements(e.get(0)).toVector
        if (path.length > depth) {
          val newPath = arr(path.drop(depth))
          one(if (e.size() >= 2) arr(List(newPath, e.get(1))) else arr(List(newPath)))
        } else JqStream.empty
      }
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
    v0("lgamma_r") { in =>
      val d = requireNumber(in, "lgamma_r")
      one(arr(List(num(lgammaFn(d)), num(if (tgammaFn(d) < 0) -1 else 1))))
    },
    v0("frexp") { in =>
      val d = requireNumber(in, "frexp")
      if (d == 0.0 || d.isNaN || d.isInfinite) one(arr(List(num(d), num(0))))
      else {
        val e = unbiasedExponent(d) + 1 // mantissa in [0.5, 1)
        one(arr(List(num(Math.scalb(d, -e)), num(e))))
      }
    },
    v0("modf") { in =>
      val d = requireNumber(in, "modf")
      val ip = if (d < 0) math.ceil(d) else math.floor(d)
      one(arr(List(num(d - ip), num(ip))))
    },
    v2("drem")((_, x, y) =>
      one(num(Math.IEEEremainder(requireNumber(x, "drem"), requireNumber(y, "drem"))))),
    v2("ldexp")((_, m, e) =>
      one(num(Math.scalb(requireNumber(m, "ldexp"), requireNumber(e, "ldexp").toInt)))),
    v2("scalb")((_, m, e) =>
      one(num(Math.scalb(requireNumber(m, "scalb"), requireNumber(e, "scalb").toInt)))),
    v2("scalbln")((_, m, e) =>
      one(num(Math.scalb(requireNumber(m, "scalbln"), requireNumber(e, "scalbln").toInt)))),
    v2("atan2")((_, y, x) => one(num(math.atan2(requireNumber(y, "atan2"), requireNumber(x, "atan2"))))),
    v0("isnormal") { in =>
      one(bool(in.isNumber && {
        val d = in.doubleValue()
        !d.isNaN && !d.isInfinite && d != 0.0 && math.abs(d) >= java.lang.Double.MIN_NORMAL
      }))
    },
    ("input_filename", 0) -> { (_, _, _) => one(NullN) },

    // jq 1.6 uppercase SQL-style helpers (builtin.jq definitions)
    ("IN", 1) -> { (args, in, env) =>
      one(bool(eval(args.head, in, env).exists(Json.eq(_, in))))
    },
    ("IN", 2) -> { (args, in, env) =>
      eval(args(0), in, env).map(v =>
        bool(eval(args(1), in, env).exists(Json.eq(_, v)))).take(1)
    },
    ("INDEX", 1) -> { (args, in, env) =>
      // INDEX(idx_expr) == INDEX(.[]; idx_expr)
      val out = F.objectNode()
      Json.elements(requireArray(in, "indexed")).foreach { row =>
        eval(args.head, row, env).headOption.foreach { k =>
          out.set[JsonNode](render(k), row)
        }
      }
      one(out)
    },
    ("INDEX", 2) -> { (args, in, env) =>
      val out = F.objectNode()
      eval(args(0), in, env).foreach { row =>
        eval(args(1), row, env).headOption.foreach { k =>
          out.set[JsonNode](render(k), row)
        }
      }
      one(out)
    },

    v0("tostream") { in =>
      // [path, leaf] events + closing [path] events (jq tostream)
      def stream(v: JsonNode, prefix: Vector[JsonNode]): S =
        if (v.isArray || v.isObject) {
          val kids = if (v.isArray) (0 until v.size()).map(i => (num(i): JsonNode, v.get(i)))
                     else Json.fields(v).map { case (k, c) => (text(k): JsonNode, c) }.toSeq
          if (kids.isEmpty) one(arr(List(arr(prefix), if (v.isArray) arr(Nil) else obj(Nil))))
          else {
            def inner(rem: Seq[(JsonNode, JsonNode)]): S = rem match {
              case (k, c) +: rest => JqStream.concat(stream(c, prefix :+ k), () => inner(rest))
              case _ => one(arr(List(arr(prefix :+ kids.last._1))))
            }
            inner(kids)
          }
        } else one(arr(List(arr(prefix), v)))
      stream(in, Vector.empty)
    }
  ) ++ formatTable ++ upperAliases

  /** The rest of jq 1.6's uppercase SQL-style family (builtin.jq):
    * `GROUP_BY(f)` is `group_by(f)`, `UNIQUE_BY(f)` is `unique_by(f)`,
    * `ANY`/`ALL` are `any`/`all` — completing the set whose IN/INDEX half
    * is defined above. Delegation happens at call time, after `table` is
    * fully constructed. */
  private def upperAliases: Map[(String, Int), Builtin] = {
    def alias(name: String, arity: Int): Builtin =
      (args, in, env) => table((name, arity))(args, in, env)
    Map(
      ("GROUP_BY", 1) -> alias("group_by", 1),
      ("UNIQUE_BY", 1) -> alias("unique_by", 1),
      ("ANY", 0) -> alias("any", 0),
      ("ALL", 0) -> alias("all", 0))
  }

  private def formatTable: Map[(String, Int), Builtin] =
    List("text", "json", "html", "uri", "csv", "tsv", "sh",
         "base64", "base64d", "base32", "base32d").map { f =>
      ((s"@$f", 0): (String, Int)) -> { (_: List[JqExpr], in: JsonNode, _: Env) =>
        one(text(applyFormat(f, in)))
      }
    }.toMap

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

  private def containsRec(a: JsonNode, b: JsonNode): Boolean =
    if (a.isObject && b.isObject)
      Json.fields(b).forall { case (k, bv) => a.has(k) && containsRec(a.get(k), bv) }
    else if (a.isArray && b.isArray)
      Json.elements(b).forall(bv => Json.elements(a).exists(av => containsRec(av, bv)))
    else if (a.isTextual && b.isTextual) a.textValue().contains(b.textValue())
    else Json.eq(a, b)

  private def rangeStream(from: Double, to: Double, step: Double): S = {
    if (step == 0) {
      if (from < to) JqStream.continually(num(from)) else JqStream.empty
    } else if (step > 0) {
      def go(x: Double): S = if (x < to) num(x) #:: go(x + step) else JqStream.empty
      go(from)
    } else {
      def go(x: Double): S = if (x > to) num(x) #:: go(x + step) else JqStream.empty
      go(from)
    }
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
