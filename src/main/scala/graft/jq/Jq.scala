package graft.jq


import com.fasterxml.jackson.core.{JsonFactory, JsonParseException, JsonParser, JsonToken, StreamReadConstraints}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.unsafe.types.UTF8String

/** Public entry point: compile a jq program once, run it per JSON value.
  *
  * Mirrors the reference flow (JsonQueryUDTF.java:53 compile-once;
  * :74-107 per-row parse → `$error` binding → apply → outputs). The program
  * is compiled once into push-style nodes (see [[Compiler]]); a row runs
  * with one call that pushes each output to a sink. Instances are
  * immutable and thread-safe; executor threads share them via
  * `compileCached`.
  */
final class CompiledJq private[jq] (val ast: JqExpr) extends Serializable {

  /** Static field footprint (see [[Footprint]]): `Some(m)` when the
    * program observes object inputs only through fields in m.keySet —
    * with per-field subfield sets one level down — so the per-row parse
    * skips every other field's (and subfield's) node construction. */
  @transient lazy val footprint: Option[Footprint.Fields] = Footprint(ast)

  @transient private[jq] lazy val program: Compiler.Program = Compiler(ast)

  /** Run on an already-parsed JSON value; `vars` binds `$name`s. */
  def apply(input: JsonNode, vars: Map[String, JsonNode] = Map.empty): Iterator[JsonNode] =
    collect(program.run(input, vars, _))

  /** Run with the reference's corrupt-input contract: a null or unparsable
    * `jsonText` makes the input `null` and binds `$error` to
    * {message, class, input}; a valid parse binds `$error` to null.
    * jq runtime errors surface as JqError (caller maps to its failure model).
    *
    * Rows parse through the footprint-pruned path when the program
    * certifies one — identical error/trailing-garbage/type semantics (the
    * pruned parse still lexes every byte), minus the tree-building cost of
    * untouched fields. */
  def runText(jsonText: String, k: JsonNode => Unit): Unit = {
    val (input, error) = Jq.parseTextWithError(jsonText, footprint)
    program.run(input, error, k)
  }

  /** [[runText]] on a Spark string value. [[Utf8Json]] reads it from its
    * UTF-8 bytes where they lie; a value it refuses runs on a null input with
    * the `$error` its [[Utf8Json.Malformed]] words, or else is parsed as
    * `runText(json.toString, k)`. So outputs and `$error` are those of
    * `runText` on every value. */
  def runUtf8(json: UTF8String, k: JsonNode => Unit): Unit = {
    var error: JsonNode = Json.NullN
    val input =
      try if (json == null) Json.NullN else reader.read(json)
      catch {
        // it counts chars as `toString` decodes, which replaces nothing in valid UTF-8
        case m: Utf8Json.Malformed if json.isValid =>
          val text = json.toString
          val (message, className) = m.wording(text, json.numBytes)
          error = Jq.errorObject(message, className, text)
          Json.NullN
        case _: Utf8Json.Malformed => null
      }
    if (input != null) program.run(input, error, k)
    else runText(json.toString, k)
  }

  /** The program as a [[Projection]], or null when it is none; decided
    * once, from the AST. */
  @transient lazy val projection: Projection =
    if (footprint.isEmpty) null else Projection.of(ast, reader.slot, reader.slots).orNull

  /** For a [[projection]]: reads an object row's kept top-level fields into
    * the null `slots` ([[Utf8Json.readSlots]]) and gives [[Projection.Read]];
    * gives [[Projection.Corrupt]] for a guarded row refused with a worded
    * error on valid UTF-8, unworded; else [[Projection.Fallback]], and the
    * row is [[runUtf8]]'s. */
  def project(json: UTF8String, slots: Array[JsonNode]): Int =
    if (json == null) Projection.Fallback
    else
      try if (reader.readSlots(json, slots)) Projection.Read else Projection.Fallback
      catch {
        // runUtf8 binds $error on the same condition
        case _: Utf8Json.Malformed => if (projection.guarded && json.isValid) Projection.Corrupt else Projection.Fallback
      }

  /** The first output of [[runUtf8]], or null; nothing after it runs. */
  def firstUtf8(json: UTF8String): JsonNode = {
    val first = new Finder(Compiler.always)
    try runUtf8(json, first) catch { case Stop if first.hit != null => () }
    first.hit
  }

  /** The outputs of [[runText]]. */
  def applyToText(jsonText: String): Iterator[JsonNode] = collect(runText(jsonText, _))

  /** The outputs of [[runUtf8]]. */
  def applyToUtf8(json: UTF8String): Iterator[JsonNode] = collect(runUtf8(json, _))

  private def collect(run: (JsonNode => Unit) => Unit): Iterator[JsonNode] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[JsonNode]
    run(out += _)
    out.iterator
  }

  @transient private lazy val reader = new Utf8Json(footprint, Jq.readConstraints)
}

object Jq {
  // unescaped-control-chars tolerance matches JsonQueryUDTF.java:61
  private val factory: JsonFactory = {
    val f = new JsonFactory()
    f.enable(JsonParser.Feature.ALLOW_UNQUOTED_CONTROL_CHARS)
    f
  }

  /** The limits of the `String` lane's parser, which [[Utf8Json]] keeps too. */
  private[jq] def readConstraints: StreamReadConstraints = factory.streamReadConstraints()

  private val mappers: ThreadLocal[ObjectMapper] =
    ThreadLocal.withInitial(() => new ObjectMapper(factory))

  private val cache = new ConcurrentHashMap[String, CompiledJq]()

  /** Parse a jq program and compile it into push-style nodes.
    * Throws JqSyntaxError on bad programs. */
  def compile(program: String): CompiledJq = {
    val c = new CompiledJq(Parser.parse(program))
    c.program
    c
  }

  /** Per-JVM compile cache — executors compile each distinct program once. */
  def compileCached(program: String): CompiledJq =
    cache.computeIfAbsent(program, p => compile(p))

  /** The one Jackson parse routine: a strict parse of the whole input,
    * trailing content rejected (JsonQueryUDTF.java:83-87), that builds only
    * what `need` keeps.
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
  private def parse(text: String, need: Option[Footprint.Fields]): JsonNode = {
    val mapper = mappers.get()
    val parser = mapper.createParser(text)
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
  def parseJson(text: String): JsonNode = parse(text, None)

  /** Footprint-pruned strict parse (see [[parse]]). */
  def parsePruned(text: String, fields: Footprint.Fields): JsonNode =
    parse(text, Some(fields))

  /** The reference's three-field `$error` object for a row that failed to
    * parse, from Jackson's exception or from [[Utf8Json.Malformed]]'s wording. */
  private[jq] def errorObject(message: String, className: String, input: String): JsonNode =
    Json.F.objectNode().put("message", message).put("class", className).put("input", input)

  /** (input, $error) with the reference's corrupt-input semantics: null
    * input → (null, no error); parse failure → (null, [[errorObject]]). */
  private[jq] def parseTextWithError(text: String, need: Option[Footprint.Fields]): (JsonNode, JsonNode) =
    if (text == null) (Json.NullN, Json.NullN)
    else
      try (parse(text, need), Json.NullN)
      catch { // Jackson builds the message, location included, on every call
        case e: Exception => (Json.NullN, errorObject(Option(e.getMessage).getOrElse(e.toString), e.getClass.getName, text))
      }

  /** (input, $error) with the reference's corrupt-input semantics. */
  def parseWithError(text: String): (JsonNode, JsonNode) = parseTextWithError(text, None)

  /** [[parsePruned]] with the corrupt-input contract of [[parseWithError]]. */
  def parsePrunedWithError(text: String, fields: Footprint.Fields): (JsonNode, JsonNode) =
    parseTextWithError(text, Some(fields))
}
