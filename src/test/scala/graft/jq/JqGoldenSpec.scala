package graft.jq

import java.nio.charset.StandardCharsets.UTF_8
import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Replays the golden corpus (see [[GoldenCorpus]]) through the engine.
  *
  * The corpus was recorded by the stream evaluator that the push compiler
  * replaced. Where the fixes below change a case, it also carries the
  * result of that evaluator with the fixes applied, and the engine must give
  * that one instead. Every such case must be attributed to a named fix. */
class JqGoldenSpec extends AnyFunSuite {

  private lazy val corpus: Vector[GoldenCorpus.Entry] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream("/graft/jq/golden.jsonl"), UTF_8.name)
    try src.getLines().filter(_.nonEmpty).map(GoldenCorpus.fromLine).toVector finally src.close()
  }

  /** The fixes that changed recorded results (jq 1.6 gives the fixed ones),
    * each with the programs it can change. paths(f) once per truthy output,
    * @uri keeping !*'() and @html's &apos;, and contains/inside raising an
    * error on a top-level kind mismatch are jq 1.6 fixes too, but no
    * corpus case reaches them (JqEngineSpec pins each). */
  private val fixes: Map[String, String => Boolean] = Map(
    // "\(1,2) \(3,4)" is "1 3","2 3","1 4","2 4": the last part is the
    // outer loop and runs first, so its error is the one raised
    "interpolation order" -> (_.sliding(2).count(_ == "\\(") >= 2),
    // "x" * 1.5 is "x" and "x" * 2.7 is "xx": floor(n) copies, at least one
    "string repetition count" -> (_.contains("*")),
    // round is half away from zero: -1.5 | round is -2
    "round half away from zero" -> (_.contains("round")),
    // a Java exception inside fromjson, @base64d or a regex builtin is a
    // JqError in jq 1.6's wording, which try can catch
    "catchable builtin errors" ->
      (p => Seq("fromjson", "@base64d", "test", "match", "splits", "sub").exists(p.contains)),
    // map and flatten run over .[]: an object's values are iterated, and
    // anything else raises "Cannot iterate over ..."
    "map and flatten iterate objects" -> (p => p.contains("map(") || p.contains("flatten")),
    // limit with a negative count yields every output of its generator
    "negative limit" -> (_.contains("limit(-")),
    // a path step raises the error its access would on a value it cannot
    // index (`1|path(.a)`: Cannot index number with string "a"); null
    // takes any step. paths, del and every assignment are built on them
    "path steps need an indexable value" -> (p => Seq("path", "del(").exists(p.contains) || assignment.findFirstIn(p).isDefined),
    // add, any, all and join run over .[]: an object's values are
    // iterated, and anything else raises "Cannot iterate over ..."
    "add, any, all and join iterate objects" ->
      (p => Seq("add", "any", "all", "join", "ANY", "ALL").exists(p.contains)))

  // `=`, `|=`, `+=`, `//=`, …, but not `==`, `!=`, `<=` or `>=`
  private val assignment = "(^|[^=!<>])=($|[^=])".r

  test("the corpus holds at least 10k cases") {
    assert(corpus.size >= 10000, s"${corpus.size} cases")
  }

  test("every fixed case is attributed to a named fix") {
    val fixed = corpus.filter(_.fixed.isDefined).map(_.recorded.program)
    val unnamed = fixed.filterNot(p => fixes.values.exists(_(p)))
    assert(unnamed.isEmpty, s"fixed cases no fix names: $unnamed")
    info(s"${fixed.size} cases changed by the named fixes")
  }

  test("every case replays its expected result") {
    val diffs = corpus.flatMap { e =>
      val c = e.expected
      val now = GoldenCorpus.record(c.program, c.input)
      if (now == c) None
      else Some(s"program <${c.program}> input <${c.input}>\n  want: ${c.outputs} ${c.error}\n  got:  ${now.outputs} ${now.error}")
    }
    assert(diffs.isEmpty, s"${diffs.size} differences:\n${diffs.take(40).mkString("\n")}")
  }
}
