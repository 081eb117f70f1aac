package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: the jq total order must actually be a total order,
  * serialization must round-trip, stream events must reconstruct, and
  * MinHash must estimate Jaccard.
  *
  * Raw ScalaCheck Gens with a deterministic seeded sampler (the
  * scalatest-scalacheck bridge isn't in the offline dependency set). */
class JqPropertySpec extends AnyFunSuite {

  /** deterministic forAll: 200 samples from the generator */
  private def forAll[A](g: Gen[A])(body: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to 200).foreach { i =>
      val a = g.pureApply(Gen.Parameters.default.withSize(1 + i % 20), seed)
      seed = seed.next
      body(a)
    }
  }

  private val genScalar: Gen[JsonNode] = Gen.oneOf(
    Gen.const(Json.NullN),
    Gen.oneOf(true, false).map(Json.bool),
    Gen.chooseNum(-1e9, 1e9).map(Json.num),
    Gen.chooseNum(-1000L, 1000L).map(l => Json.num(l.toDouble)),
    Gen.alphaNumStr.map(s => Json.text(s.take(8))))

  private def genJson(depth: Int): Gen[JsonNode] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      3 -> genScalar,
      1 -> Gen.listOfN(3, genJson(depth - 1)).map(Json.arr),
      1 -> Gen.listOfN(3, Gen.zip(Gen.alphaNumStr.map(_.take(5)), genJson(depth - 1)))
        .map(kvs => Json.obj(kvs.toMap.toList)))

  private val gj: Gen[JsonNode] = genJson(3)

  test("compare is reflexive and antisymmetric") {
    forAll(Gen.zip(gj, gj)) { case (a, b) =>
      assert(Json.compare(a, a) == 0)
      assert(Integer.signum(Json.compare(a, b)) == -Integer.signum(Json.compare(b, a)))
    }
  }

  test("compare is transitive") {
    forAll(Gen.zip(gj, gj, gj)) { case (a, b, c) =>
      val Seq(x, y, z) = Seq(a, b, c).sorted(Json.ordering)
      assert(Json.compare(x, y) <= 0 && Json.compare(y, z) <= 0 && Json.compare(x, z) <= 0)
    }
  }

  test("serialize → parse round-trips semantically") {
    forAll(gj) { a =>
      val back = Jq.parseJson(Json.serialize(a))
      assert(Json.compare(a, back) == 0, s"${Json.serialize(a)} vs ${Json.serialize(back)}")
    }
  }

  test("fromstream(tostream) is identity") {
    forAll(gj) { a =>
      val out = Jq.compileCached("fromstream(tostream)").apply(a).toList
      assert(out.length == 1 && Json.compare(out.head, a) == 0,
        s"stream round-trip broke for ${Json.serialize(a)}")
    }
  }

  test("sort produces ordered output, unique is sorted-distinct") {
    forAll(Gen.listOf(gj)) { xs =>
      val sorted = Jq.compileCached("sort").apply(Json.arr(xs)).next()
      val s = Json.elements(sorted).toList
      assert(s.zip(s.drop(1)).forall { case (a, b) => Json.compare(a, b) <= 0 })
      val uniq = Json.elements(Jq.compileCached("unique").apply(Json.arr(xs)).next()).toList
      assert(uniq.zip(uniq.drop(1)).forall { case (a, b) => Json.compare(a, b) < 0 })
    }
  }

  test("tojson | fromjson is identity") {
    forAll(gj) { a =>
      val out = Jq.compileCached("tojson | fromjson").apply(a).toList
      assert(out.length == 1 && Json.compare(out.head, a) == 0)
    }
  }

  test("minhash signature similarity estimates shingle jaccard") {
    // construct pairs by mutating a base string; estimate vs exact jaccard
    val words = Vector("spark", "query", "join", "filter", "scan", "merge",
      "sort", "group", "window", "batch", "row", "key", "value", "data")
    val genDoc = Gen.listOfN(40, Gen.oneOf(words)).map(_.mkString(" "))
    forAll(Gen.zip(genDoc, Gen.chooseNum(0, 39))) { case (doc, nMut) =>
      val tokens = doc.split(" ").toVector
      val mutated = tokens.zipWithIndex
        .map { case (w, i) => if (i < nMut) "zzz" else w }.mkString(" ")

      def shingles(s: String): Set[Long] = {
        val b = Set.newBuilder[Long]
        graft.functions.Mix.forEachShingle(s, 5)(b += _)
        b.result()
      }
      val sa = shingles(doc); val sb = shingles(mutated)
      val exact = (sa & sb).size.toDouble / (sa | sb).size

      def sig(s: String): Array[Long] = {
        val as = Array.tabulate(256)(i => graft.functions.Mix.splitmix64(0x5eed0000L + i) | 1L)
        val bs = Array.tabulate(256)(i => graft.functions.Mix.splitmix64(0xb5eed00L + i))
        val mins = Array.fill(256)(Long.MaxValue)
        graft.functions.Mix.forEachShingle(s, 5) { h =>
          var i = 0
          while (i < 256) { val p = as(i) * h + bs(i); if (p < mins(i)) mins(i) = p; i += 1 }
        }
        mins
      }
      val est = sig(doc).zip(sig(mutated)).count { case (x, y) => x == y } / 256.0
      assert(math.abs(est - exact) < 0.2, s"minhash estimate $est vs exact $exact")
    }
  }
  // ---- round-2 properties ----

  test("@base32 | @base32d round-trips arbitrary strings") {
    forAll(Gen.listOfN(12, Gen.frequency(
        8 -> Gen.alphaNumChar,
        2 -> Gen.oneOf(' ', '\t', '€', 'ß', '中', '\'', '"', '\\'))).map(_.mkString)) { str =>
      val in = Json.text(str)
      val out = Jq.compileCached("@base32 | @base32d").apply(in).toList
      assert(out.length == 1 && out.head.textValue() == str, s"base32 round-trip broke on: $str")
    }
  }

  test("ldexp inverts frexp for finite doubles") {
    forAll(Gen.oneOf(
        Gen.chooseNum(-1e12, 1e12),
        Gen.chooseNum(-1.0, 1.0),
        Gen.oneOf(0.0, -0.0, 1.5, -2.25, 4.9e-324, 1.7976931348623157e308))) { d =>
      val out = Jq.compileCached("frexp as [$m, $e] | ldexp($m; $e)")
        .apply(Json.num(d)).toList
      assert(out.length == 1)
      assert(out.head.doubleValue() == d, s"frexp/ldexp broke on $d -> ${out.head}")
    }
  }

  test("// left laziness: first truthy value short-circuits arbitrary tails") {
    forAll(Gen.chooseNum(1, 50)) { n =>
      // left stream yields n, then an error: lazily, first() never hits it
      val out = Jq.compileCached(s"first(($n, error(\"boom\")) // -1)")
        .apply(Json.NullN).toList
      assert(out.map(_.intValue()) == List(n))
    }
  }

  test("footprint-certified programs agree between pruned and full parse lanes") {
    // generative soundness check for the parse-projection pushdown: random
    // programs mixing eligible and whole-input constructs; whenever the
    // analysis certifies a footprint, the pruned lane must be observably
    // identical to the full parse (outputs AND error messages)
    val leaf = Gen.oneOf(".a", ".b", ".k", ".n", ".a.b", ".xs[0]", "1", "\"s\"",
      "null", "empty", ".", ".[]", "keys", "length", "tojson", "(. as $x | .a)")
    def genProg(depth: Int): Gen[String] =
      if (depth <= 0) leaf
      else Gen.frequency(
        3 -> leaf,
        2 -> Gen.zip(genProg(depth - 1), genProg(depth - 1)).map { case (f, g) => s"($f | $g)" },
        2 -> Gen.zip(genProg(depth - 1), genProg(depth - 1)).map { case (f, g) => s"($f, $g)" },
        1 -> genProg(depth - 1).map(f => s"[$f]"),
        1 -> genProg(depth - 1).map(f => s"{v: $f}"),
        1 -> Gen.zip(genProg(depth - 1), genProg(depth - 1)).map { case (f, g) => s"($f // $g)" },
        1 -> Gen.zip(genProg(depth - 1), genProg(depth - 1)).map { case (f, g) => s"(try $f catch $g)" },
        1 -> Gen.zip(genProg(depth - 1), genProg(depth - 1), genProg(depth - 1))
          .map { case (c, t, e) => s"(if $c then $t else $e end)" },
        1 -> Gen.zip(genProg(depth - 1), genProg(depth - 1)).map { case (f, g) => s"($f + $g)" },
        1 -> genProg(depth - 1).map(f => s"($f | select(. != null))"),
        1 -> genProg(depth - 1).map(f => s"(reduce .xs[] as $$i ($f; . + 1))"))
    val inputs = Seq(
      """{"a": 1, "b": {"c": [1,2]}, "k": "x", "n": 5, "xs": [1,2,3], "zz": {"big": [1,2,3]}}""",
      """{"a": [7], "xs": []}""",
      """{"k": {"deep": true}, "other": "skipped"}""",
      """[1, 2]""", """7""", """{}""", """{"bad""", null)
    forAll(genProg(3)) { prog =>
      val c = Jq.compile(prog)
      c.footprint.foreach { fields =>
        for (in <- inputs) {
          def run(parse: String => (JsonNode, JsonNode)): Either[String, List[String]] =
            try {
              val (v, err) = parse(in)
              Right(c(v, Map("error" -> err)).map(Json.serialize).toList)
            } catch { case e: JqError => Left(e.getMessage) }
          val full = run(Jq.parseWithError)
          val pruned = run(Jq.parsePrunedWithError(_, fields))
          assert(full == pruned,
            s"lane mismatch: program '$prog' (footprint $fields) on '$in': $full vs $pruned")
        }
      }
    }
  }

  test("parser never hangs or escapes JqSyntaxError on garbage programs") {
    val soup = Gen.listOfN(24, Gen.frequency(
      5 -> Gen.oneOf('.', '|', '[', ']', '{', '}', '(', ')', '"', '$', ';', ',',
                     ':', '?', '/', '+', '-', '*', '=', '<', '>', '@', '#'),
      3 -> Gen.alphaNumChar,
      1 -> Gen.oneOf(' ', '\n', '\t'))).map(_.mkString)
    forAll(soup) { prog =>
      try { Jq.compile(prog); () }
      catch { case _: JqSyntaxError => () } // anything else (NPE, SO, match error) fails
    }
  }

}
