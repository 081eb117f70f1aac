package graft.jq


import com.fasterxml.jackson.core.{JsonFactory, JsonParseException, JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Public entry point: compile a jq program once, run it per JSON value.
  *
  * Mirrors the reference flow (JsonQueryUDTF.java:53 compile-once;
  * :74-107 per-row parse → `$error` binding → apply → stream of outputs).
  * Instances are immutable and thread-safe; executor threads share the
  * compiled AST via `compileCached`.
  */
final class CompiledJq private[jq] (val ast: JqExpr) extends Serializable {

  /** Static field footprint (see [[Footprint]]): `Some(m)` when the
    * program observes object inputs only through fields in m.keySet —
    * with per-field subfield sets one level down — so the per-row parse
    * skips every other field's (and subfield's) node construction. */
  @transient lazy val footprint: Option[Footprint.Fields] = Footprint(ast)

  /** Run on an already-parsed JSON value. */
  def apply(input: JsonNode, vars: Map[String, JsonNode] = Map.empty): Iterator[JsonNode] =
    Interp.eval(ast, input, Env(vars, Map.empty)).iterator

  /** Run with the reference's corrupt-input contract: a null or unparsable
    * `jsonText` makes the input `null` and binds `$error` to
    * {message, class, input}; a valid parse binds `$error` to null.
    * jq runtime errors surface as JqError (caller maps to its failure model).
    *
    * Rows parse through the footprint-pruned path when the program
    * certifies one — identical error/trailing-garbage/type semantics (the
    * pruned parse still lexes every byte), minus the tree-building cost of
    * untouched fields. */
  def applyToText(jsonText: String): Iterator[JsonNode] = {
    val (input, error) = Jq.parseTextWithError(jsonText, footprint)
    apply(input, Map("error" -> error))
  }

  /** [[applyToText]] on a Spark string value, parsed from its UTF-8 bytes
    * where they lie: no per-row `String` decode (see
    * [[Jq.parseUtf8WithError]]). Outputs and `$error` are those of
    * `applyToText(json.toString)`. */
  def applyToUtf8(json: UTF8String): Iterator[JsonNode] = {
    val (input, error) = Jq.parseUtf8WithError(json, footprint)
    apply(input, Map("error" -> error))
  }
}

object Jq {
  // unescaped-control-chars tolerance matches JsonQueryUDTF.java:61
  private val factory: JsonFactory = {
    val f = new JsonFactory()
    f.enable(JsonParser.Feature.ALLOW_UNQUOTED_CONTROL_CHARS)
    f
  }

  private val mappers: ThreadLocal[ObjectMapper] =
    ThreadLocal.withInitial(() => new ObjectMapper(factory))

  private val cache = new ConcurrentHashMap[String, CompiledJq]()

  /** Parse + desugar + singularity-rewrite a jq program.
    * Throws JqSyntaxError on bad programs. */
  def compile(program: String): CompiledJq =
    new CompiledJq(StrictRewrite(Parser.parse(program)))

  /** Per-JVM compile cache — executors compile each distinct program once. */
  def compileCached(program: String): CompiledJq =
    cache.computeIfAbsent(program, p => compile(p))

  /** The one parse routine, whatever feeds the parser (a `String` or UTF-8
    * bytes): a strict parse of the whole input, trailing content rejected
    * (JsonQueryUDTF.java:83-87), that builds only what `need` keeps.
    *
    * `None` keeps everything: the full parse. `Some(fields)` is the
    * footprint-pruned parse: an object input builds JsonNode subtrees ONLY
    * for top-level fields in `fields`, and for a field mapped to `Some(S)`
    * only the subfields in S of an OBJECT value (one more path level —
    * `.a.b` programs no longer materialize all of `.a`); everything else is
    * `skipChildren()`ed (lexed for validity, never materialized).
    * Non-object inputs — and non-object values of a sub-tracked field —
    * parse fully (the program may legitimately error on them, previewing
    * the value). Duplicate keys keep the LAST occurrence at every level
    * (Jackson readTree behavior: ObjectNode.set overwrites). */
  private def parse(parser: JsonParser, need: Option[Footprint.Fields]): JsonNode = {
    val mapper = mappers.get()
    // the value at the current token; `keep` (absent = keep all) says,
    // per field of an object value, what to build of it
    def tree(keep: Option[String => Option[Option[Set[String]]]]): JsonNode = keep match {
      case Some(k) if parser.currentToken() == JsonToken.START_OBJECT =>
        val obj = mapper.createObjectNode()
        while (parser.nextToken() != JsonToken.END_OBJECT) {
          val name = parser.currentName()
          parser.nextToken() // advance to the value
          k(name) match {
            case None => parser.skipChildren() // no-op on scalars; skips whole subtrees
            case Some(None) => obj.set[JsonNode](name, tree(None))
            case Some(Some(sub)) =>
              obj.set[JsonNode](name, tree(Some(n => if (sub.contains(n)) Some(None) else None)))
          }
        }
        obj
      case _ => mapper.readTree[JsonNode](parser)
    }
    try {
      val node = if (parser.nextToken() == null) Json.NullN else tree(need.map(_.get))
      if (parser.nextToken() != null) throw new JsonParseException(parser, "trailing characters")
      node
    } finally parser.close()
  }

  /** Strict JSON parse incl. trailing-garbage rejection. */
  def parseJson(text: String): JsonNode = parse(mappers.get().createParser(text), None)

  /** Footprint-pruned strict parse (see [[parse]]). */
  def parsePruned(text: String, fields: Footprint.Fields): JsonNode =
    parse(mappers.get().createParser(text), Some(fields))

  /** The reference's three-field `$error` object for a failed parse. ONE
    * definition, so the String and UTF-8 lanes cannot drift. */
  private def errorObject(e: Exception, input: String): JsonNode = Json.obj(List(
    "message" -> Json.text(if (e.getMessage == null) e.toString else e.getMessage),
    "class" -> Json.text(e.getClass.getName),
    "input" -> Json.text(input)))

  /** (input, $error) with the reference's corrupt-input semantics: null
    * input → (null, no error); parse failure → (null, [[errorObject]]). */
  private[jq] def parseTextWithError(text: String, need: Option[Footprint.Fields]): (JsonNode, JsonNode) =
    if (text == null) (Json.NullN, Json.NullN)
    else
      try (parse(mappers.get().createParser(text), need), Json.NullN)
      catch { case e: Exception => (Json.NullN, errorObject(e, text)) }

  /** (input, $error) with the reference's corrupt-input semantics. */
  def parseWithError(text: String): (JsonNode, JsonNode) = parseTextWithError(text, None)

  /** [[parsePruned]] with the corrupt-input contract of [[parseWithError]]. */
  def parsePrunedWithError(text: String, fields: Footprint.Fields): (JsonNode, JsonNode) =
    parseTextWithError(text, Some(fields))

  /** [[parseTextWithError]] of `json.toString`, without the decode where
    * it costs: valid non-ASCII UTF-8, whose decode takes the JDK's slow
    * path, is lexed by Jackson's byte parser straight from the bytes — in
    * place on a `byte[]`, copied once off-heap. The `String` lane takes the
    * value wherever the two could disagree ([[takesByteLane]]) and wherever
    * the byte parse fails (the parsers word errors differently, and
    * `column:` counts bytes in one, chars in the other), so results are the
    * `String` lane's. */
  private[jq] def parseUtf8WithError(json: UTF8String, need: Option[Footprint.Fields]): (JsonNode, JsonNode) =
    if (json == null) (Json.NullN, Json.NullN)
    else if (!takesByteLane(json)) parseTextWithError(json.toString, need)
    else
      try (parse(utf8Parser(json), need), Json.NullN)
      catch { case _: Exception => parseTextWithError(json.toString, need) }

  /** Whether `json` takes the byte lane: well-formed UTF-8 (Unicode
    * Table 3-7) with a non-ASCII byte and an ASCII first byte, no NUL among
    * the first four. The `String` lane takes the rest:
    *  - ASCII input, whose decode is a cheap copy, so that a corrupt ASCII
    *    row does not pay a second parse;
    *  - invalid UTF-8: Jackson accepts overlong forms and surrogates that
    *    `toString` turns into U+FFFD;
    *  - a BOM, or a NUL that Jackson's encoding sniffer reads as UTF-16/32.
    * One pass, eight bytes at a time through ASCII runs. It answers
    * `!isFullAscii && isValid` without calling them: they scan the value
    * twice and store their answers in volatile fields of it; with four scan
    * threads on a 4-vCPU VM that cost 17–23% of a 1.3 KB-row query's time,
    * and swung with the machine's load. */
  private[jq] def takesByteLane(json: UTF8String): Boolean = {
    val base = json.getBaseObject
    val off = json.getBaseOffset
    val n = json.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    if (n == 0 || at(0) >= 0x80) return false
    var i = 0
    while (i < 4 && i < n) { if (at(i) == 0) return false; i += 1 }
    var nonAscii = false
    i = 0
    while (i < n) {
      if (i + 8 <= n && (Platform.getLong(base, off + i) & 0x8080808080808080L) == 0) i += 8
      else {
        val c = at(i)
        if (c < 0x80) i += 1
        else {
          nonAscii = true
          val len = if (c >= 0xC2 && c <= 0xDF) 2 else if (c >= 0xE0 && c <= 0xEF) 3
            else if (c >= 0xF0 && c <= 0xF4) 4 else return false
          if (i + len > n) return false
          val c1 = at(i + 1)
          val secondOk = c match {
            case 0xE0 => c1 >= 0xA0 && c1 <= 0xBF // no overlong 3-byte forms
            case 0xED => c1 >= 0x80 && c1 <= 0x9F // no surrogates
            case 0xF0 => c1 >= 0x90 && c1 <= 0xBF // no overlong 4-byte forms
            case 0xF4 => c1 >= 0x80 && c1 <= 0x8F // nothing past U+10FFFF
            case _ => (c1 & 0xC0) == 0x80
          }
          if (!secondOk) return false
          var j = 2
          while (j < len) { if ((at(i + j) & 0xC0) != 0x80) return false; j += 1 }
          i += len
        }
      }
    }
    nonAscii
  }

  private def utf8Parser(json: UTF8String): JsonParser = json.getBaseObject match {
    case bytes: Array[Byte] =>
      mappers.get().createParser(bytes, (json.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
        json.numBytes)
    case _ => mappers.get().createParser(json.getBytes)
  }
}
