package graft.jq

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The golden corpus of the jq engine: (program, input) cases with the
  * outputs the engine produced before any error, then the error.
  *
  * The error is `jq: <message>` for a `JqError` and `throw: <class>` for
  * any other `Throwable` (syntax errors included); a case that ran to the
  * end has none. [[JqGoldenSpec]] replays the committed corpus.
  *
  * Sources: StrictPathSpec's 50 programs × 9 inputs (the spec itself is
  * folded into this corpus), every literal `run`/`run1`/`runD` call of
  * JqEngineSpec, one case per builtin name (× 3 inputs), and seeded random
  * programs over random JSON.
  *
  * A case may also carry a fixed result (`fo`/`fe`): what an engine with
  * named fixes gave where that differs from the recorded result;
  * [[JqGoldenSpec]] attributes each such case to a fix.
  *
  * Record (from the repository root):
  * `sbt "Test/runMain graft.jq.GoldenCorpus OUT [RECORDED]"`. With RECORDED,
  * an earlier corpus, its cases are run again: their results stay the
  * recorded ones and this engine's results become the fixed ones where
  * they differ. */
object GoldenCorpus {

  final case class Case(program: String, input: String, outputs: Seq[String], error: String)

  /** A recorded case and, where the named fixes change it, its fixed result. */
  final case class Entry(recorded: Case, fixed: Option[Case]) {
    def expected: Case = fixed.getOrElse(recorded)
  }

  /** Runs one case through the engine. */
  def record(program: String, input: String): Case = {
    val outs = ArrayBuffer.empty[String]
    val error =
      try {
        Jq.compile(program).runText(input, v => outs += Json.serialize(v))
        null
      } catch {
        case e: JqError => "jq: " + e.getMessage
        case t: Throwable => "throw: " + t.getClass.getName
      }
    Case(program, input, outs.toList, error)
  }

  // ---- sources -----------------------------------------------------------

  val strictInputs: Seq[String] = Seq(
    """{"k": 87, "s": "txt", "a": [1,2,3], "o": {"x": 1}}""",
    """{"k": null}""", "[]", "{}", "null", "42", "\"str\"", "[1,[2,[3]]]",
    """{"region":"Asia","timezones":[{"name":"Tokyo","offset":540}]}""")

  val strictPrograms: Seq[String] = Seq(
    ".", ".k", ".k + 1", ".a[0] // 0", "{k, twice: (.k * 2)}",
    """"v=\(.k)"""", "[.a[]? | . + 1]", ".a | length", "(.k // 0) | tostring",
    ".o.x // .k // -1", "if .k then .k * 10 else -1 end",
    "reduce (.a[]?) as $x (0; . + $x)", ".s // \"d\" | ascii_upcase",
    """{("key" + "1"): (.k // 0)}""", ".k as $x | {orig: $x}",
    ".a[1:] // []", "(.k // 2) * 3 - 1", "[limit(2; .a[]?)]",
    ".missing.deep?", "try (.k + \"x\") catch \"type-err\"",
    ".nonexistent | not", "(.a // []) | map(. * 2) | add // 0",
    "(.o // {}) | keys", "[paths] | length", "del(.k)",
    ".k |= (. // 0) + 1", "(.a // [1])[0]", "getpath([\"o\",\"x\"]) // null",
    "tojson | fromjson", "[.[]?] | length",
    "select(.k)", "select(.k > 50)", ".k | select(. > 50) | . * 2",
    "[.a[]? | select(. > 1) | . + 10]", "select(.k) // \"none\"",
    "empty // 7", "select(.missing) // 0",
    "if .k then select(.k > 100) else -1 end",
    "try (select(.k) | .k + \"x\") catch \"typed\"",
    "[.a[]? | select(. % 2 == 1)] | length",
    ".k | select(. != null) | tostring",
    "(select(.k) | .k) // -5", "-(select(.k))",
    "select(.k) and true", "select(.k > 1000) or false",
    "def select(f): 123; .o | select(.b)", "def f(empty): empty; f(5)",
    "def empty: 9; [empty]")

  /** The literal `run(prog, input)`, `run1(prog[, input])` and
    * `runD(prog[, input])` calls of a spec source, `val` string constants
    * resolved. */
  def specCalls(source: String): Seq[(String, String)] = {
    val lits = new LiteralScanner(source)
    val vals = """(?:private )?val (\w+)\s*=\s*""".r.findAllMatchIn(source).flatMap { m =>
      lits.literalAt(m.end).map(m.group(1) -> _._1)
    }.toMap
    """\brun(?:1|D)?\(""".r.findAllMatchIn(source).flatMap { m =>
      lits.literalAt(m.end).flatMap { case (prog, after) =>
        val rest = source.substring(after).dropWhile(_.isWhitespace)
        if (rest.startsWith(")")) Some(prog -> "null")
        else if (!rest.startsWith(",")) None
        else {
          val at = after + source.substring(after).indexOf(',') + 1
          lits.literalAt(at).map(l => prog -> l._1).orElse {
            val ident = source.substring(at).dropWhile(_.isWhitespace).takeWhile(_.isLetterOrDigit)
            vals.get(ident).map(prog -> _)
          }
        }
      }
    }.toSeq
  }

  /** Scala string literals: `"…"` with escapes and raw `"""…"""`. */
  private final class LiteralScanner(src: String) {
    /** The literal starting at `from` (after whitespace), and the index after it. */
    def literalAt(from: Int): Option[(String, Int)] = {
      var i = from
      while (i < src.length && src.charAt(i).isWhitespace) i += 1
      if (src.startsWith("\"\"\"", i)) {
        var end = src.indexOf("\"\"\"", i + 3)
        if (end < 0) return None
        while (end + 3 < src.length && src.charAt(end + 3) == '"') end += 1
        Some((src.substring(i + 3, end), end + 3))
      } else if (i < src.length && src.charAt(i) == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"') j += (if (src.charAt(j) == '\\') 2 else 1)
        if (j >= src.length) None
        else Some((StringContext.processEscapes(src.substring(i + 1, j)), j + 1))
      } else None
    }
  }

  private val builtinInputs = Seq("3", "\"a,b\"", """[1,[2,"c"],{"d":null}]""")

  /** One call per builtin name/arity, every argument `.`, under `limit`. */
  def builtinCases(): Seq[(String, String)] = {
    for {
      na <- builtinNames()
      if na != "now/0" // wall clock
      in <- builtinInputs
    } yield {
      val Array(name, arity) = na.split("/(?=\\d+$)")
      val call = if (arity.toInt == 0) name else name + (1 to arity.toInt).map(_ => ".").mkString("(", "; ", ")")
      (s"[limit(5; $call)]", in)
    }
  }

  private def builtinNames(): Seq[String] = {
    val outs = ArrayBuffer.empty[String]
    Jq.compile("builtins[]").runText("null", v => outs += v.textValue())
    outs.toList
  }

  // ---- seeded random programs --------------------------------------------

  final class RandomPrograms(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private def pick[A](xs: A*): A = xs(rng.nextInt(xs.length))
    private def chance(p: Double): Boolean = rng.nextDouble() < p
    private var fresh = 0

    private val keys = Seq("a", "b", "c", "k")

    def json(depth: Int): String =
      if (depth <= 0 || chance(0.4)) pick(
        "null", "true", "false", "0", "1", "2", "-3", "1.5", "2.7", "0.5", "10",
        "\"\"", "\"a\"", "\"xy\"", "\"a,b\"", "\"k\"")
      else if (chance(0.5)) (0 until rng.nextInt(4)).map(_ => json(depth - 1)).mkString("[", ",", "]")
      else rng.shuffle(keys).take(rng.nextInt(4)).map(k => s""""$k":${json(depth - 1)}""").mkString("{", ",", "}")

    private val leaves = Seq(
      ".", ".a", ".b", ".k", ".[0]", ".[1]", ".[]", ".[]?", ".a?", ".a.b", ".[-1]", ".[1:]",
      "..", "1", "2", "-1", "0.5", "1.5", "2.7", "\"s\"", "\"a\"", "null", "true", "false",
      "empty", "length", "keys", "tostring", "type", "not", "add", "[paths]", "tojson",
      "[.[]?]", "{}", "[]", "to_entries", "[leaf_paths]", "getpath([\"a\",\"b\"])",
      "[path(..)]", "reverse", "sort", "min", "unique", "has(\"a\")", "first", "last")

    private val pathLeaves = Seq(
      ".a", ".b", ".[0]", ".a.b", ".[]", ".[]?", ".a[]?", "..", ".[1:]", "(.a, .b)",
      "getpath([\"a\",\"b\"])", "first(.[])", ".[-1]", "select(.a)", "empty", ".")

    def program(depth: Int, vars: List[String], fns: List[(String, Int)]): String = {
      def sub(d: Int = depth - 1) = program(d, vars, fns)
      def leaf(): String = {
        val callable = fns.filter(_._2 == 0).map(_._1)
        if (vars.nonEmpty && chance(0.25)) "$" + pick(vars: _*)
        else if (callable.nonEmpty && chance(0.2)) pick(callable: _*)
        else pick(leaves: _*)
      }
      def path(): String = if (depth > 1 && chance(0.2)) s"(${pick(pathLeaves: _*)} | ${pick(pathLeaves: _*)})" else pick(pathLeaves: _*)
      def newVar(): String = { fresh += 1; s"v$fresh" }
      if (depth <= 0 || chance(0.15)) leaf()
      else rng.nextInt(30) match {
        case 0 | 1 | 2 => s"${sub()} | ${sub()}"
        case 3 | 4 => s"${sub()}, ${sub()}"
        case 5 => s"(${sub()}) + (${sub()})"
        case 6 => s"(${sub()}) ${pick("-", "*", "/", "%")} (${sub()})"
        case 7 => s"(${sub()}) ${pick("==", "!=", "<", ">=")} (${sub()})"
        case 8 => s"(${sub()}) ${pick("and", "or")} (${sub()})"
        case 9 => s"(${sub()}) // (${sub()})"
        case 10 => s"if ${sub()} then ${sub()} else ${sub()} end"
        case 11 => s"if ${sub()} then ${sub()} elif ${sub()} then ${sub()} end"
        case 12 =>
          val v = newVar()
          s"reduce (${sub()}) as $$$v (${sub()}; ${program(depth - 1, v :: vars, fns)})"
        case 13 =>
          val v = newVar()
          val extract = if (chance(0.5)) s"; ${program(depth - 1, v :: vars, fns)}" else ""
          s"foreach (${sub()}) as $$$v (${sub()}; ${program(depth - 1, v :: vars, fns)}$extract)"
        case 14 => s"try (${sub()})" + (if (chance(0.6)) s" catch (${sub()})" else "")
        case 15 => s"(${sub()})?"
        case 16 =>
          val v = newVar()
          s"(${sub()}) as $$$v | ${program(depth - 1, v :: vars, fns)}"
        case 17 =>
          val (x, y) = (newVar(), newVar())
          val pat = pick(s"[$$$x, $$$y]", s"{a: $$$x, b: $$$y}", s"{$$$x, k: [$$$y]}", s"[$$$x] ?// $$$x", s"{a: $$$x} ?// [$$$y]")
          s"(${sub()}) as $pat | ${program(depth - 1, x :: y :: vars, fns)}"
        case 18 =>
          fresh += 1
          val f = s"f$fresh"
          if (chance(0.5)) s"def $f: ${sub()}; ${program(depth - 1, vars, (f, 0) :: fns)}"
          else {
            val g = s"g$fresh"
            val body = program(depth - 1, vars, (g, 0) :: fns)
            s"def $f($g): $body; ${program(depth - 1, vars, (f, 1) :: fns)} | $f(${sub()})"
          }
        case 19 => "\"<\\(" + sub() + ")|\\(" + sub() + ")>\""
        case 20 => s"${path()} ${pick("=", "|=", "+=", "-=", "*=", "//=")} (${sub()})"
        case 21 => s"del(${path()})"
        case 22 => s"[path(${path()})]"
        case 23 => s"[${sub()}]"
        case 24 => s"{a: (${sub()}), (${pick("\"b\"", ".k", "tostring")}): (${sub()})}"
        case 25 => s"[limit(${pick("0", "1", "2", "-1")}; ${sub()})]"
        case 26 => s"first(${sub()})"
        case 27 => s"map(${sub()})"
        case 28 => s"select(${sub()})"
        case _ => s"[label $$out | ${sub()} | if ${sub()} then ., break $$out else . end]"
      }
    }
  }

  /** Every case of the corpus, in order. */
  def allCases(engineSpecSource: String, randomCount: Int): Seq[(String, String)] = {
    val strict = for (p <- strictPrograms; in <- strictInputs) yield (p, in)
    val rnd = new RandomPrograms(20260501L)
    val random = (1 to randomCount).map(_ => (rnd.program(3, Nil, Nil), rnd.json(3)))
    strict ++ specCalls(engineSpecSource) ++ builtinCases() ++ random
  }

  // ---- the file ------------------------------------------------------------

  private val mapper = new ObjectMapper()

  def toLine(e: Entry): String = {
    val o = mapper.createObjectNode()
    val c = e.recorded
    o.put("p", c.program)
    if (c.input == null) o.putNull("i") else o.put("i", c.input)
    val outs = o.putArray("o")
    c.outputs.foreach(s => outs.add(s))
    if (c.error != null) o.put("e", c.error)
    e.fixed.foreach { f =>
      val fo = o.putArray("fo")
      f.outputs.foreach(s => fo.add(s))
      if (f.error != null) o.put("fe", f.error)
    }
    mapper.writeValueAsString(o)
  }

  def fromLine(line: String): Entry = {
    val o = mapper.readTree(line).asInstanceOf[ObjectNode]
    def text(field: String): String = Option(o.get(field)).filterNot(_.isNull).map(_.textValue()).orNull
    def outputs(field: String): List[String] =
      o.get(field).asInstanceOf[ArrayNode].elements().asScala.map(_.textValue()).toList
    val recorded = Case(text("p"), text("i"), outputs("o"), text("e"))
    Entry(recorded, if (o.has("fo")) Some(recorded.copy(outputs = outputs("fo"), error = text("fe"))) else None)
  }

  private def readLines(path: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).split("\n").filter(_.nonEmpty).toSeq

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption.getOrElse("src/test/resources/graft/jq/golden.jsonl"))
    val spec = new String(Files.readAllBytes(Paths.get("src/test/scala/graft/jq/JqEngineSpec.scala")), UTF_8)
    val recorded = args.lift(1).map(readLines(_).map(fromLine(_).recorded))
      .getOrElse(allCases(spec, randomCount = 9000).map { case (p, in) => record(p, in) })
    val lines = recorded.map(r => toLine(Entry(r, Some(record(r.program, r.input)).filter(_ != r))))
    Files.createDirectories(out.getParent)
    Files.write(out, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    println(s"wrote ${lines.size} cases to $out")
  }
}
