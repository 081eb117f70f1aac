package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine jar ships three entry points: `Bench`, `Verify` and
  * `PlanDump`. A measurement probe is a scratch program, not part of the
  * library; this sweep fails the suite when one lands in `src/main`. */
class EntryPointSpec extends AnyFunSuite {

  private val allowed = Set("Bench.scala", "Verify.scala", "PlanDump.scala")

  test("only Bench, Verify and PlanDump define a main in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.getFileName.toString == "Verify.scala"))
    def definesMain(p: Path): Boolean = {
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      text.contains("def main(") || """extends\s+App\b""".r.findFirstIn(text).isDefined
    }
    val stray = sources
      .filterNot(p => allowed(p.getFileName.toString))
      .filter(definesMain)
      .map(root.relativize(_).toString).sorted
    assert(stray.isEmpty, s"entry points outside Bench/Verify/PlanDump: ${stray.mkString(", ")}")
  }
}
