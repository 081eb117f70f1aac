package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

/** Integer fixed-point PageRank: hand-computed ranks on tiny graphs, the
  * dangling-node mass-drop contract, and damping bounds. */
class GraphSpec extends AnyFunSuite {

  lazy val spark = SharedSpark.session
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("symmetric cycle is the fixpoint: every rank stays exactly 1000000") {
    // a <-> b: deg 1 each, each forwards its whole rank every round
    val r = ranks(Seq((1L, 2L), (2L, 1L)), 7)
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L), s"got $r")
  }

  test("bidirected star: two hand-computed iterations, exact floor arithmetic") {
    // a=1 hub; b=2, c=3 leaves; edges a->b, a->c, b->a, c->a
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
    // iter 1: a gets 1e6+1e6 -> 150000 + 850000*2000000 DIV 1e6 = 1850000
    //         b,c get 1e6 DIV 2 -> 150000 + 850000*500000 DIV 1e6 = 575000
    val r1 = ranks(edges, 1)
    assert(r1 == Map(1L -> 1850000L, 2L -> 575000L, 3L -> 575000L), s"got $r1")
    // iter 2: a gets 575000*2 -> 150000 + 850000*1150000 DIV 1e6 = 1127500
    //         b,c get 1850000 DIV 2 = 925000 -> 150000 + 786250 = 936250
    val r2 = ranks(edges, 2)
    assert(r2 == Map(1L -> 1127500L, 2L -> 936250L, 3L -> 936250L), s"got $r2")
  }

  test("dangling node keeps receiving but forwards nothing (mass drop)") {
    // a -> b only: b has no out-edges; a receives nothing
    val r = ranks(Seq((1L, 2L)), 1)
    assert(r == Map(1L -> 150000L, 2L -> 1000000L), s"got $r")
    // next round b's mass vanishes instead of wrapping anywhere
    val r2 = ranks(Seq((1L, 2L)), 2)
    assert(r2 == Map(1L -> 150000L, 2L -> 277500L), s"got $r2")
  }

  test("total mass is conserved on a dangling-free graph") {
    // bidirected random-ish graph: every node forwards, so the only mass
    // loss is floor truncation — bounded by (edges + nodes) ulps per round
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val edges = base ++ base.map { case (s, d) => (d, s) }
    val r = ranks(edges, 5)
    val total = r.values.sum
    val n = r.size
    assert(total <= n * 1000000L, s"mass created: $total > ${n * 1000000L}")
    assert(total >= n * 1000000L - 5 * (edges.size + n),
      s"mass lost beyond floor truncation: $total")
  }

  test("damping 1000000 removes the teleport term; 0 freezes ranks at the base") {
    val edges = Seq((1L, 2L), (2L, 1L))
    val full = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 3,
      dampingPpm = 1000000L).collect().map(_.getLong(1)).toSeq
    assert(full.forall(_ == 1000000L), s"got $full")
    // damping 0: rank' = base = 1e6 regardless of the graph
    val none = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 3,
      dampingPpm = 0L).collect().map(_.getLong(1)).toSeq
    assert(none.forall(_ == 1000000L), s"got $none")
  }

  test("weighted star: hand-computed iteration, and w=1 equals unweighted") {
    // hub a -> b (w=3), a -> c (w=1); leaves return with w=1
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pageRank(e, "src", "dst", 1, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // a gets 1e6 + 1e6; b gets 1e6*3 DIV 4 = 750000; c gets 250000
    assert(r == Map(1L -> 1850000L, 2L -> 787500L, 3L -> 362500L), s"got $r")
    // all-ones weights must be bit-identical to the unweighted path
    val ones = e.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val a = Graph.pageRank(ones, "src", "dst", 3, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = Graph.pageRank(ones, "src", "dst", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b, s"weighted(1) $a != unweighted $b")
    // zero/negative weights fail loudly
    val bad = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    val ex = intercept[Exception](
      Graph.pageRank(bad, "src", "dst", 1, weightCol = Some("w")).collect())
    assert(ex.getMessage.contains("positive"), ex.getMessage)
  }

  test("a horizon crossing the cut boundary equals the fully lazy run") {
    // 12 iterations with cutEvery=8 materializes mid-run; cutEvery=100
    // stays one lazy plan — the cadence must never change the numbers
    val e = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    def run(cut: Int) = Graph.pageRank(e, "src", "dst", 12, cutEvery = cut)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(8) == run(100), "cut cadence changed PageRank values")
  }

  test("triangleCounts: K4, a triangle-free square, and messy duplicate input") {
    def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: every node sits in C(3,2) = 3 of the 4 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(counts(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a 4-cycle has no triangles at all
    assert(counts(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))).isEmpty)
    // reversed duplicates + self-loops must not inflate anything
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (1L, 3L))
    assert(counts(messy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"${counts(messy)}")
  }

  test("triangleCounts agrees with the brute-force triple join on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 300).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val brute = (for {
      (a, b) <- und; (c, d) <- und if a == c && b < d
      if und.contains((b, d))
    } yield Seq(a, b, d)).flatten.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val got = Graph.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute, s"missing=${brute.toSet -- got.toSet} extra=${got.toSet -- brute.toSet}")
  }

  test("iteration and damping bounds are validated") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(e, "src", "dst", 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", 1, dampingPpm = 1000001L))
  }

  test("personalized PageRank: restart mass pinned to seeds, hand-computed") {
    // star a=1 hub, leaves 2,3 (bidirected); seed = {2}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    def ppr(seedIds: Seq[Long], iters: Int) =
      Graph.pageRank(edges, "src", "dst", iters,
          seeds = Some(seedIds.toDF("node")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // init: r(2)=1e6, r(1)=r(3)=0
    // iter1: node1 gets contribs r(2)/1 + r(3)/1 = 1e6 -> 0 + 850000*1e6 DIV 1e6 = 850000
    //        node2: seed base 150000 + contrib r(1)/2=0 -> 150000; node3: 0
    val r1 = ppr(Seq(2L), 1)
    assert(r1 == Map(1L -> 850000L, 2L -> 150000L, 3L -> 0L), s"got $r1")
    // iter2: node1 <- r2+r3 = 150000 -> 850000*150000 DIV 1e6 = 127500
    //        node2 <- 150000 + 850000*(850000 DIV 2) DIV 1e6 = 150000+361250 = 511250
    //        node3 <- 850000*425000 DIV 1e6 = 361250
    val r2 = ppr(Seq(2L), 2)
    assert(r2 == Map(1L -> 127500L, 2L -> 511250L, 3L -> 361250L), s"got $r2")
    // seeding EVERY node is bit-identical to the global run
    val all = ppr(Seq(1L, 2L, 3L), 5)
    val global = Graph.pageRank(edges, "src", "dst", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == global, "all-seeds must equal unseeded bit-for-bit")
    // seed ids outside the graph are ignored, not ranked
    val ghost = ppr(Seq(2L, 99L), 1)
    assert(ghost == r1, s"ghost seed changed ranks: $ghost")
    // a multi-column seed frame is a loud error
    intercept[RuntimeException](Graph.pageRank(edges, "src", "dst", 1,
      seeds = Some(Seq((1L, 2L)).toDF("a", "b"))))
  }

  test("bipartiteProjection: weights count shared left nodes, hub guard excludes") {
    // orders 10,11 share parts; order 12 is a 3-part hub
    val edges = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 1L), (12L, 2L), (12L, 3L), (10L, 1L)) // duplicate edge collapses
    val got = Graph.bipartiteProjection(edges.toDF("o", "p"), "o", "p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 3L, 2L), (2L, 3L, 2L)), s"got $got")
    // maxDegree 2 drops orders 11 and 12 entirely: only order 10 projects
    val guarded = Graph.bipartiteProjection(edges.toDF("o", "p"), "o", "p",
        maxDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(guarded == Set((1L, 2L, 1L)), s"got $guarded")
    intercept[IllegalArgumentException](
      Graph.bipartiteProjection(edges.toDF("o", "p"), "o", "p", maxDegree = 0))
  }

  test("kCore: pendant chains peel in cascade, the core survives exactly") {
    // triangle {1,2,3} with pendant chain 3-4-5 (+ messy self-loop/dup)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (1L, 1L), (2L, 1L))
    def run(k: Int, rounds: Int) =
      Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 removes only 5 (deg 1); 4 still holds edge 3-4, so node 3
    // reports core_degree 3 — the cascade is NOT done in one round
    assert(run(2, 1) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L), s"got ${run(2, 1)}")
    // round 2 peels 4; the triangle is the exact 2-core
    assert(run(2, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got ${run(2, 2)}")
    // further rounds are a fixpoint
    assert(run(2, 8) == run(2, 2), "stable core must not change")
    // k=3: the triangle's degree-2 nodes all peel -> empty core
    assert(run(3, 8).isEmpty, s"got ${run(3, 8)}")
    // K4 survives k=3 intact
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val core4 = Graph.kCore(k4.toDF("src", "dst"), "src", "dst", 3, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core4")
    intercept[IllegalArgumentException](
      Graph.kCore(edges.toDF("src", "dst"), "src", "dst", 0))
  }

  test("labelPropagation: two bridged triangles, four hand-computed rounds") {
    // triangles {1,2,3} and {10,11,12}, bridge 3-10; messy input: a
    // self-loop, a duplicate, and a reversed edge must all collapse
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (12L, 10L), (3L, 10L), (1L, 1L), (2L, 3L), (3L, 2L))
    def run(iters: Int, cut: Int = 8) =
      Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", iters,
        cutEvery = cut).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: every vote count is 1 -> min neighbor id everywhere
    assert(run(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 10L -> 3L,
      11L -> 10L, 12L -> 10L), s"got ${run(1)}")
    // round 4: stable two-community split, labels = 1 and 3 (the bridge
    // node's id wins the right triangle via the bridge)
    val r4 = run(4)
    assert(r4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L,
      11L -> 3L, 12L -> 3L), s"got $r4")
    // cut cadence must never change the labels
    assert(run(5, cut = 2) == run(5, cut = 100),
      "cut cadence changed label propagation values")
    intercept[IllegalArgumentException](
      Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", 0))
  }

  private def sp(edges: Seq[(Long, Long)], seeds: Seq[Long],
                 rounds: Int): Map[Long, Long] =
    Graph.shortestPaths(edges.toDF("src", "dst"), "src", "dst",
      seeds.toDF("node"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("degreeProfile: log2 buckets with hygiene — dup/reversed edges collapse, self-loops drop") {
    // star center 1 with leaves 2..5 (degree 4 → bucket 3), leaves
    // degree 1 → bucket 1; messy input: duplicates, reversal, self-loop
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (1L, 5L),
      (1L, 5L), (3L, 3L)).toDF("src", "dst")
    val got = Graph.degreeProfile(e, "src", "dst")
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 800000L, 1L, 1L),   // four leaves at degree 1
      (3L, 1L, 200000L, 4L, 4L)),  // the hub at degree 4
      s"$got")
  }

  test("reciprocity: mutual pairs counted both ways, self-loops dropped, empty → no rows") {
    // a↔b mutual (2 reciprocal edges), a→c one-way, d→d self-loop
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 4L), (1L, 2L))
      .toDF("src", "dst")
    val got = Graph.reciprocity(e, "src", "dst")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 2L, 666666L)), s"$got")
    assert(Graph.reciprocity(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
      .collect().isEmpty, "empty edge set emits zero rows")
  }

  private def tr(edges: Seq[(Long, Long, Long)], seeds: Seq[(Long, Long)],
                 rounds: Int): Map[Long, Long] =
    Graph.temporalReachability(edges.toDF("src", "dst", "t"), "src", "dst", "t",
      seeds.toDF("node", "t0"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("temporalReachability: influence never flows backwards in time") {
    // a→b fires at 5; the early b→c edge at 3 fired BEFORE b was reached
    // and must not carry; the later one at 7 does
    val e = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 3L, 7L))
    assert(tr(e, Seq((1L, 0L)), 5) == Map(1L -> 0L, 2L -> 5L, 3L -> 7L))
    // static reachability would claim c at "distance 2" regardless —
    // drop the late edge and c becomes unreachable entirely
    assert(tr(e.take(2), Seq((1L, 0L)), 5) == Map(1L -> 0L, 2L -> 5L))
  }

  test("temporalReachability: equal-time hops chain; seed time gates the first hop") {
    val e = Seq((1L, 2L, 5L), (2L, 3L, 5L))
    assert(tr(e, Seq((1L, 0L)), 5) == Map(1L -> 0L, 2L -> 5L, 3L -> 5L),
      "same-tick propagation is instantaneous by contract")
    // a seed that starts AFTER the only outgoing edge fired reaches nothing
    assert(tr(e, Seq((1L, 6L)), 5) == Map(1L -> 6L))
  }

  test("temporalReachability: earliest arrival wins across paths; duplicate seeds take min t0") {
    // two routes to 4: via 2 arriving at 9, via 3 arriving at 6
    val e = Seq((1L, 2L, 2L), (2L, 4L, 9L), (1L, 3L, 4L), (3L, 4L, 6L))
    assert(tr(e, Seq((1L, 0L)), 5) ==
      Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 6L))
    // duplicate seed rows: min t0 wins; ghost seed 99 (not in the graph)
    // is ignored
    assert(tr(e, Seq((1L, 8L), (1L, 0L), (99L, 0L)), 5) ==
      Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 6L))
  }

  test("harmonicCentrality: hand-computed path-graph sums, horizon bound, components isolate") {
    import spark.implicits._
    // bidirected path 1-2-3-4 plus the isolated pair 5-6; nSeeds covers
    // every node so all distances are exact
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val h = Graph.harmonicCentrality(edges, "src", "dst", nSeeds = 6, rounds = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // node 1: d = 1,2,3 → 1e6 + 5e5 + 333333; node 2: 1,1,2 → 25e5
    assert(h(1L) == ((3L, 1833333L)), s"node1 ${h.get(1L)}")
    assert(h(2L) == ((3L, 2500000L)), s"node2 ${h.get(2L)}")
    // the isolated pair only sees each other — components never leak
    assert(h(5L) == ((1L, 1000000L)) && h(6L) == ((1L, 1000000L)))
    // horizon 1: endpoints reach exactly their neighbor
    val h1 = Graph.harmonicCentrality(edges, "src", "dst", nSeeds = 6, rounds = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h1(1L) == ((1L, 1000000L)), s"horizon-1 node1 ${h1.get(1L)}")
    assert(h1(2L) == ((2L, 2000000L)), s"horizon-1 node2 ${h1.get(2L)}")
  }

  test("closenessCentrality: hand-computed path-graph means, horizon bound, components isolate") {
    import spark.implicits._
    // same fixture as the harmonic test: bidirected path 1-2-3-4 plus
    // the isolated pair 5-6; nSeeds covers every node → exact distances
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val c = Graph.closenessCentrality(edges, "src", "dst", nSeeds = 6, rounds = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // node 1: d = 1,2,3 → 3·1e6 DIV 6 = 5e5; node 2: 1,1,2 → 3e6 DIV 4 = 75e4
    assert(c(1L) == ((3L, 500000L)), s"node1 ${c.get(1L)}")
    assert(c(2L) == ((3L, 750000L)), s"node2 ${c.get(2L)}")
    // the isolated pair only sees each other — components never leak
    assert(c(5L) == ((1L, 1000000L)) && c(6L) == ((1L, 1000000L)))
    // horizon 1: endpoints reach exactly their neighbor at distance 1
    val c1 = Graph.closenessCentrality(edges, "src", "dst", nSeeds = 6, rounds = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c1(1L) == ((1L, 1000000L)), s"horizon-1 node1 ${c1.get(1L)}")
    // two neighbors at distance 1: mean distance 1 → c_ppm = 2e6 DIV 2
    assert(c1(2L) == ((2L, 1000000L)), s"horizon-1 node2 ${c1.get(2L)}")
  }

  /** Independent reference for the Louvain local-move recurrence: the
    * scaled gain 2m·k_ic − k_i·(tot_c − k_i·[own]) in BigInt, argmax by
    * (score, stay, −community), synchronous rounds. */
  private def bruteLouvain(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val adj = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = adj.groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
    val m2 = adj.size.toLong
    var lab: Map[Long, Long] = adj.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val tot = lab.toSeq.groupBy(_._2)
        .map { case (c, xs) => c -> xs.map(x => deg(x._1)).sum }
      lab = lab.keys.map { n =>
        val kic = adj.filter(_._1 == n).groupBy(e => lab(e._2))
          .map { case (c, xs) => c -> xs.size.toLong }
        val best = (kic.keySet + lab(n)).toSeq.map { c =>
          val own = c == lab(n)
          val s = BigInt(m2) * BigInt(kic.getOrElse(c, 0L)) -
            BigInt(deg(n)) * (tot(c) - (if (own) deg(n) else 0L))
          (s, if (own) 1 else 0, -c)
        }.max(Ordering.Tuple3(Ordering.BigInt, Ordering.Int, Ordering.Long))
        n -> -best._3
      }.toMap
    }
    lab
  }

  /** Kruskal with union-find under the (w, a, b) total key — the
    * independent MSF reference (unique forest under distinct keys). */
  private def bruteMst(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val canon = edges.map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map { case ((a, b), es) => (a, b, es.map(_._3).min) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    canon.flatMap { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(math.max(ra, rb)) = math.min(ra, rb); Some((a, b, w)) }
    }.toSet
  }

  test("minimumSpanningForest: hand square, disconnected forest, duplicate/self-loop hygiene, Kruskal parity") {
    import spark.implicits._
    def msf(edges: Seq[(Long, Long, Long)]) =
      Graph.minimumSpanningForest(edges.toDF("src", "dst", "w"), "src", "dst", "w")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // square 1-2-3-4 with one heavy diagonal: drop the heaviest cycle edge
    val square = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (4L, 1L, 4L), (1L, 3L, 9L))
    assert(msf(square) == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)), s"${msf(square)}")
    // two components: a forest, one tree each
    val forest = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 7L))
    assert(msf(forest) == Set((2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 7L)))
    // duplicates keep the cheapest; reversed duplicates canonicalize;
    // self-loops vanish
    val messy = Seq((1L, 2L, 9L), (2L, 1L, 4L), (2L, 2L, 1L), (2L, 3L, 5L))
    assert(msf(messy) == Set((1L, 2L, 4L), (2L, 3L, 5L)))
    // equal weights resolved by the (w, a, b) key — matches Kruskal on
    // the same key, both on ties and at random
    val ties = Seq((1L, 2L, 7L), (2L, 3L, 7L), (1L, 3L, 7L))
    assert(msf(ties) == bruteMst(ties))
    val rand = (1 to 80).map { i =>
      val h = graft.functions.Mix.splitmix64(0x3157L + i)
      ((h % 25).abs + 1, (graft.functions.Mix.splitmix64(h) % 25).abs + 1,
        (graft.functions.Mix.splitmix64(h + 7) % 50).abs + 1)
    }.filter(e => e._1 != e._2)
    assert(msf(rand) == bruteMst(rand), "randomized Kruskal parity")
  }

  test("louvainMoves: disjoint triangles converge to one community each; brute parity") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val got = Graph.louvainMoves(tri.toDF("src", "dst"), "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == bruteLouvain(tri, 2), s"got $got")
    // hand-simulated: round 1 shuffles singleton labels, round 2 pulls
    // each triangle onto one community — and it is STABLE (round 3 equal)
    assert(got(1L) == got(2L) && got(2L) == got(3L), s"left triangle split: $got")
    assert(got(4L) == got(5L) && got(5L) == got(6L), s"right triangle split: $got")
    assert(got(1L) != got(4L), "disjoint triangles must not merge")
    val r3 = Graph.louvainMoves(tri.toDF("src", "dst"), "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == got, "converged partition must be stable one round later")
  }

  test("louvainMoves: bridged triangles + randomized graph match the brute replay exactly") {
    import spark.implicits._
    // the bridge makes synchronous moves oscillate (documented caveat) —
    // the contract is exact parity with the recurrence, not convergence
    val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    for (r <- 1 to 4) {
      val got = Graph.louvainMoves(bridged.toDF("src", "dst"), "src", "dst", rounds = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == bruteLouvain(bridged, r), s"round $r diverged")
    }
    val rand = (1 to 60).map { i =>
      val h = graft.functions.Mix.splitmix64(0x107a1L + i)
      ((h % 20).abs + 1, (graft.functions.Mix.splitmix64(h) % 20).abs + 1)
    }.filter(e => e._1 != e._2)
    val got = Graph.louvainMoves(rand.toDF("src", "dst").repartition(9),
        "src", "dst", rounds = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == bruteLouvain(rand, 3))
  }

  test("betweennessCentrality: hand-computed pendant diamond — d brokers") {
    import spark.implicits._
    // undirected diamond a(1)-b(2), a-c(3), b-d(4), c-d + pendant d-e(5);
    // nSeeds covers every node. Hand Brandes in ppm (per seed, then sum):
    //   seed a: σ(d)=2, σ(e)=2 → δ(d) = 2·1e6 DIV 2 = 1e6;
    //           δ(b) = δ(c) = 1·(1e6+1e6) DIV 2 = 1e6
    //   seed b: δ(a) = 1e6 DIV 2 = 5e5; δ(d) = [c: 1e6 DIV 2] + [e: 1e6] = 15e5
    //   seed c: symmetric to b
    //   seed d: δ(b) = δ(c) = 1e6 DIV 2 = 5e5
    //   seed e: δ(d) = 2·[σ(d)·(1e6+δ(b or c)) DIV σ(b or c)] = 2·15e5 = 3e6;
    //           δ(b) = δ(c) = 1·1e6 DIV 2 = 5e5
    // totals: a = 1e6 (2 seeds), b = c = 2e6 (3), d = 7e6 (4); e interior
    // to nothing → absent
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val bc = Graph.betweennessCentrality(edges, "src", "dst", nSeeds = 5, rounds = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bc == Map(
      1L -> ((2L, 1000000L)),
      2L -> ((3L, 2000000L)),
      3L -> ((3L, 2000000L)),
      4L -> ((4L, 7000000L))), s"got $bc")
  }

  test("betweennessCentrality: direction respected; horizon truncates; no interior → empty") {
    import spark.implicits._
    // DIRECTED chain 1→2→3: only seed 1 sees an interior node
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val bc = Graph.betweennessCentrality(chain, "src", "dst", nSeeds = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bc == Map(2L -> ((1L, 1000000L))), s"got $bc")
    // horizon 1: no level-2 nodes anywhere → empty result, schema intact
    val h1 = Graph.betweennessCentrality(chain, "src", "dst", nSeeds = 3, rounds = 1)
    assert(h1.columns.toSeq == Seq("node", "n_seed_paths", "bc_ppm"))
    assert(h1.count() == 0)
    // duplicate + self-loop edges collapse before σ counting
    val messy = Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L)).toDF("src", "dst")
    val bcm = Graph.betweennessCentrality(messy, "src", "dst", nSeeds = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bcm == Map(2L -> ((1L, 1000000L))), s"got $bcm")
  }

  test("shortestPaths: BFS hop distances on a chain, horizon-bounded reach") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(sp(chain, Seq(1L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // a 2-round horizon reaches exactly 2 hops
    assert(sp(chain, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("shortestPaths: multi-source min over seeds; unreachable nodes absent") {
    // directed chain 1→2→3→4→5 plus 5→4 and upstream-only node 9→1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 4L), (9L, 1L))
    val d = sp(e, Seq(1L, 5L), 10)
    // 4 is 1 hop from seed 5 (beats 3 hops from seed 1); 9 has no row
    assert(d == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L),
      s"got $d")
  }

  test("shortestPaths: a cheap 2-hop route beats the expensive direct edge") {
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    def run(r: Int) = Graph.shortestPaths(e, "src", "dst",
        Seq(1L).toDF("node"), r, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round 1 holds the ≤1-hop min: the direct edge at cost 10
    assert(run(1) == Map(1L -> 0L, 2L -> 10L, 3L -> 1L), s"got ${run(1)}")
    // a later round must IMPROVE the already-reached node 2 via 3
    assert(run(5) == Map(1L -> 0L, 2L -> 2L, 3L -> 1L), s"got ${run(5)}")
  }

  test("shortestPaths: all-ones weights are bit-identical to the unweighted path") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L))
    val ones = base.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w")
    val a = Graph.shortestPaths(ones, "src", "dst", Seq(1L).toDF("node"), 4,
      weightCol = Some("w")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == sp(base, Seq(1L), 4), "weighted(1) differs from unweighted")
  }

  test("shortestPaths: ghost seeds ignored; seed/weight/rounds validation") {
    assert(sp(Seq((1L, 2L)), Seq(1L, 42L), 3) == Map(1L -> 0L, 2L -> 1L))
    intercept[RuntimeException](Graph.shortestPaths(
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
      Seq((1L, 2L)).toDF("a", "b"), 3))
    val z = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    intercept[Exception](Graph.shortestPaths(z, "src", "dst",
      Seq(1L).toDF("node"), 2, weightCol = Some("w")).collect())
    intercept[IllegalArgumentException](Graph.shortestPaths(
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", Seq(1L).toDF("node"), 0))
  }

  test("ancestorClosure + hierarchyRollup: hand tree, DAG diamond, loud cycle") {
    // tree: 1←2,3; 2←4; values id·1.00
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 2L)).toDF("c", "p")
    val closure = Graph.ancestorClosure(edges, "c", "p")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(closure == Set((2L, 1L), (3L, 1L), (4L, 2L), (4L, 1L)), s"$closure")
    val nodes = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("id", "v")
    val roll = Graph.hierarchyRollup(nodes, "id", "v", edges, "c", "p")
      .orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(roll == Seq((1L, 4L, 1000L), (2L, 2L, 600L),
      (3L, 1L, 300L), (4L, 1L, 400L)), s"$roll")
    // DAG diamond: 4 reaches 1 via both 2 and 3 — the pair appears ONCE
    val dag = Seq((2L, 1L), (3L, 1L), (4L, 2L), (4L, 3L)).toDF("c", "p")
    val dc = Graph.ancestorClosure(dag, "c", "p")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dc.count(_ == ((4L, 1L))) <= 1 && dc.contains((4L, 1L)))
    // and the rollup counts node 4 once under node 1, not twice
    val dr = Graph.hierarchyRollup(nodes, "id", "v", dag, "c", "p")
      .where($"node" === 1L).head
    assert((dr.getLong(1), dr.getLong(2)) == ((4L, 1000L)), s"$dr")
    // a cycle must fail loudly, not loop
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("c", "p")
    val e = intercept[IllegalArgumentException](
      Graph.ancestorClosure(cyc, "c", "p", maxDepth = 5))
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("modularity: two bridged triangles score the textbook 0.357, loud on unlabeled") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("node", "label")
    val got = Graph.modularity(e, labels, "src", "dst", "node", "label")
      .orderBy("community")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // per community: (4·7·3 − 7²)·10⁶ DIV (4·7²) = 35·10⁶ DIV 196 = 178571
    assert(got == Seq((10L, 3L, 3L, 7L, 178571L), (20L, 3L, 3L, 7L, 178571L)), s"$got")
    // an edge with an unlabeled endpoint must fail loudly, not drop
    val partial = labels.where($"node" =!= 6L)
    intercept[Exception](
      Graph.modularity(e, partial, "src", "dst", "node", "label").collect())
    // a doubly-labeled node takes its smallest label deterministically
    val dup = labels.union(Seq((1L, 99L)).toDF("node", "label"))
    val d1 = Graph.modularity(e, dup, "src", "dst", "node", "label")
      .orderBy("community").collect()
    assert(d1.map(_.getLong(0)).toSeq == Seq(10L, 20L), s"${d1.toSeq}")
  }

  test("clusteringCoefficient: exact ppm, leaves excluded, triangle-free wedge = 0") {
    // triangle 1-2-3 with pendant 4 on node 3; separate wedge 6-5-7
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (5L, 6L), (5L, 7L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(e, "src", "dst")
      .orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1000000L), // closed pair: coefficient 1
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L),  // 2·1·10⁶ DIV (3·2)
      (5L, 2L, 0L, 0L)        // wedge center, no triangle: present, 0
      // 4, 6, 7: degree 1 — excluded, not reported as 0
    ), s"got $got")
  }

  test("hits: one hand-computed round on a tiny bipartite graph") {
    // 1→3, 2→3, 2→4; N = 4, h0 = 1e6 everywhere
    // araw: 3 ← 2e6, 4 ← 1e6; Σ = 3e6
    //   a = raw·4·1e6 DIV 3e6 → a(3) = 2666666, a(4) = 1333333
    // hraw: 1 ← a(3) = 2666666, 2 ← a(3)+a(4) = 3999999; Σ = 6666665
    //   h = raw·4·1e6 DIV 6666665 → h(1) = 1600000, h(2) = 2400000 (exact)
    val e = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val got = Graph.hits(e, "src", "dst", iterations = 1)
      .orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 1600000L, 0L),
      (2L, 2400000L, 0L),
      (3L, 0L, 2666666L),
      (4L, 0L, 1333333L)), s"got $got")
  }

  test("hits: duplicate and reversed edges count once each direction") {
    // duplicate 1→3 collapses; 3→1 is a distinct directed edge
    val e = Seq((1L, 3L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val clean = Seq((1L, 3L), (3L, 1L)).toDF("src", "dst")
    val a = Graph.hits(e, "src", "dst", 2).orderBy("node").collect().toSeq
    val b = Graph.hits(clean, "src", "dst", 2).orderBy("node").collect().toSeq
    assert(a == b, s"$a vs $b")
  }

  test("linkPrediction: path scores the endpoints, triangle is excluded, square ties") {
    // path 1-2-3: (1,3) common 1, deg 1+1, jaccard 1e6
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val gotP = Graph.linkPrediction(path, "src", "dst", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(gotP == Seq((1L, 3L, 1L, 1L, 1L, 1000000L)), s"got $gotP")
    // triangle: every distance-2 pair is already an edge — nothing
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.linkPrediction(tri, "src", "dst", k = 10).count() == 0)
    // square 1-2-3-4-1: (1,3) and (2,4) via two shared centers each
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val gotS = Graph.linkPrediction(sq, "src", "dst", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(5))).toSeq
    assert(gotS == Seq((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)), s"got $gotS")
  }

  test("kTruss: K4 survives 4-truss whole, bowtie cascades to empty, pendant peels") {
    // K4: every edge in exactly 2 triangles → 4-truss keeps all 6 edges
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF("src", "dst")
    val g1 = Graph.kTruss(k4, "src", "dst", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(g1.size == 6 && g1.forall(_._3 == 2L), s"$g1")
    // ...and 5-truss of K4 is empty (support 2 < 3)
    assert(Graph.kTruss(k4, "src", "dst", k = 5).count() == 0L)
    // bowtie (two triangles sharing edge 2-3): 4-truss CASCADES — round 1
    // leaves only (2,3) with support 2, round 2 removes it (support 0)
    val bow = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.kTruss(bow, "src", "dst", k = 4).count() == 0L)
    // 3-truss: pendant edge (support 0) peels, the triangle stays
    val triPend = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)).toDF("src", "dst")
    val g3 = Graph.kTruss(triPend, "src", "dst", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(g3 == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)), s"$g3")
    // exhausted rounds fail loudly rather than returning a truncated truss
    intercept[IllegalStateException] {
      Graph.kTruss(bow, "src", "dst", k = 4, rounds = 1)
    }
  }

  test("kTruss wedge-budget pre-flight: dense projection trips the guard; weight-thinned run completes") {
    // 60 baskets × 12 items drawn from 30 → a dense co-occurrence
    // projection (~C(30,2) edges); pairs co-occurring once dominate the
    // wedge volume but carry no truss signal — the thin-first shape
    val rnd = new scala.util.Random(7)
    val baskets = (1 to 60).flatMap(b =>
      rnd.shuffle((1 to 30).toList).take(12).map(i => (b.toLong, i.toLong)))
      .toDF("basket", "item")
    // no .cache(): the shared session's cache-hygiene spec asserts empty
    val proj = Graph.bipartiteProjection(baskets, "basket", "item")
    // K30-ish: every vertex degree ~29, m ~ 435, cap = isqrt(870) = 29 →
    // bound ~ 30·C(29,2) = 12 180 wedges. A budget below that trips…
    val e = intercept[IllegalStateException] {
      Graph.kTruss(proj, "a", "b", k = 5, maxWedgeBound = 1000L)
    }
    assert(e.getMessage.contains("wedge bound") &&
      e.getMessage.contains("thin"), e.getMessage)
    // …and the thinned projection (min co-occurrence weight — the knob
    // the guard names) fits the SAME budget and peels to completion
    val thinned = proj.where($"weight" >= 13) // keep only strong co-occurrence
    val out = Graph.kTruss(thinned, "a", "b", k = 3, maxWedgeBound = 1000L)
    assert(out.collect().forall(_.getLong(2) >= 1L)) // supports ≥ k−2
    // the default budget admits the dense run (sf-scale graphs pass)
    assert(Graph.kTruss(proj, "a", "b", k = 5).count() >= 0L)
  }

  test("linkPrediction agrees with brute-force neighborhood overlap on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 150).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val got = Graph.linkPrediction(edges.toDF("src", "dst"), "src", "dst",
        k = 1000, maxDegree = 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // brute force: adjacency sets, all non-adjacent pairs sharing >= 1 nbr
    val und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    und.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val nodes = adj.keys.toSeq.sorted
    val expect = (for {
      a <- nodes; b <- nodes if a < b && !und.contains((a, b))
      cn = (adj(a) & adj(b)).size if cn > 0
    } yield {
      val (da, db) = (adj(a).size.toLong, adj(b).size.toLong)
      (a, b) -> (cn.toLong, da, db, cn.toLong * 1000000L / (da + db - cn))
    }).toMap
    assert(got == expect,
      s"only-got=${got.keySet -- expect.keySet} only-exp=${expect.keySet -- got.keySet}")
  }

  test("assortativity: star = -1e6 exactly, regular graph = NULL (no fake zero)") {
    // star 0-{1,2,3}: every edge pairs degree 3 with degree 1 → r = −1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val g1 = Graph.assortativity(star, "src", "dst").collect().head
    assert(g1.getLong(0) == 3L && g1.getLong(1) == -1000000L, s"$g1")
    // 4-cycle: degree-regular → zero variance → undefined, NULL not 0
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val g2 = Graph.assortativity(cyc, "src", "dst").collect().head
    assert(g2.getLong(0) == 4L && g2.isNullAt(1), s"$g2")
    // empty edges → zero rows
    assert(Graph.assortativity(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst").count() == 0L)
  }

  test("linkPrediction: hub centers beyond maxDegree generate no candidates") {
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graph.linkPrediction(star, "src", "dst", k = 10, maxDegree = 3).count() == 0)
    // at maxDegree 5 the center is kept: C(5,2) = 10 leaf pairs
    assert(Graph.linkPrediction(star, "src", "dst", k = 100, maxDegree = 5).count() == 10)
  }

  test("connectedComponents: min-id partition over a forest; direction ignored; self-loop keeps an isolate") {
    // a 9-node path written HIGH→LOW (direction must not matter), a
    // 2-node edge, and a self-loop isolate
    val path = (9L to 2L by -1L).map(i => (i, i - 1))
    val edges = (path ++ Seq((20L, 21L), (30L, 30L))).toDF("src", "dst")
    val got = Graph.connectedComponents(edges, "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val exp = (1L to 9L).map(_ -> 1L) ++ Seq(20L -> 20L, 21L -> 20L, 30L -> 30L)
    assert(got == exp, s"$got")
  }

  test("louvain: contraction level merges what single-level moves cannot, modularity non-decreasing") {
    // a 6-clique chain: cliques {1..4},{11..14},{21..24},{31..34},... —
    // single bridges between consecutive cliques. Level 0 finds the
    // cliques; the contracted level may merge neighbors; modularity of
    // the unfolded partition must be >= the single-level one.
    def k4(base: Long) = for {
      i <- 0L to 3L; j <- (i + 1) to 3L
    } yield (base + i, base + j)
    val cliques = Seq(1L, 11L, 21L, 31L, 41L, 51L).flatMap(k4)
    val bridges = Seq((4L, 11L), (14L, 21L), (24L, 31L), (34L, 41L), (44L, 51L))
    val e = (cliques ++ bridges).toDF("src", "dst")
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      Graph.modularity(e, labels, "src", "dst", "node", "community")
        .agg(org.apache.spark.sql.functions.sum("q_ppm"))
        .collect().head.getLong(0)
    val single = Graph.louvainMoves(e, "src", "dst", rounds = 3)
    val multi = Graph.louvain(e, "src", "dst", roundsPerLevel = 3, levels = 2)
    val qs = q(single)
    val qm = q(multi)
    assert(qm >= qs, s"multi-level Q $qm < single-level Q $qs")
    // level-2 output must still cover every node exactly once
    assert(multi.count() == 24L && multi.select("node").distinct().count() == 24L)
  }

  test("louvain levels=1 equals louvainMoves exactly") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L)).toDF("src", "dst")
    val a = Graph.louvain(e, "src", "dst", roundsPerLevel = 3, levels = 1)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Graph.louvainMoves(e, "src", "dst", rounds = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, s"$a vs $b")
  }

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.stronglyConnectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("scc: cycle + tail — the cycle is one component, the tail is singletons") {
    // 1→2→3→1 cycle with tail 3→4→5
    val got = sccOf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L), s"$got")
  }

  test("scc: two cycles bridged one-way stay separate components") {
    // {1,2} cycle → bridge 2→10 → {10,11} cycle; no way back
    val got = sccOf(Seq((1L, 2L), (2L, 1L), (2L, 10L), (10L, 11L), (11L, 10L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L), s"$got")
    // closing the bridge merges everything into one SCC
    val merged = sccOf(Seq((1L, 2L), (2L, 1L), (2L, 10L), (10L, 11L),
      (11L, 10L), (11L, 1L)))
    assert(merged == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L), s"$merged")
  }

  test("scc: a DAG is all singletons whichever way ids run") {
    // ids DESCENDING along the edges — the peel must not conflate
    // forward reach with the undirected component (which would be one)
    val got = sccOf(Seq((5L, 4L), (4L, 3L), (5L, 3L), (3L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L), s"$got")
  }

  test("scc: TRIM prepass is output-identical at every trimRounds setting") {
    // periphery-heavy shape: a 3-cycle core with an incoming tail
    // (9→8→1), an outgoing tail (3→4→5→6), and an isolated 2-cycle —
    // trim retires the tails layer by layer, the color pass gets the rest
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (9L, 8L), (8L, 1L),
      (3L, 4L), (4L, 5L), (5L, 6L), (20L, 21L), (21L, 20L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 8L -> 8L, 9L -> 9L, 20L -> 20L, 21L -> 20L)
    for (tr <- Seq(0, 1, 3, 8)) {
      val got = Graph.stronglyConnectedComponents(
          edges.toDF("src", "dst"), "src", "dst", trimRounds = tr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trimRounds=$tr: $got")
    }
  }

  test("condensation: levels are longest-path depth over the SCC quotient DAG") {
    // {1,2} cycle → 3 → {4,5} cycle → 6, plus a shortcut 3 → 6: the
    // longest path decides 6's level (3, not 2)
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 4L),
      (5L, 6L), (3L, 6L)).toDF("src", "dst")
    val got = Graph.condensationLevels(e, "src", "dst")
      .orderBy("scc").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L), (3L, 1L, 1L), (4L, 2L, 2L), (6L, 1L, 3L)),
      got.toString)
    // an all-one-SCC graph condenses to a single level-0 node
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val one = Graph.condensationLevels(cyc, "src", "dst")
      .as[(Long, Long, Long)].collect().toSeq
    assert(one == Seq((1L, 3L, 0L)), one.toString)
  }

  test("scc: peel budget failure is loud, direction-reversed duplicate edges collapse") {
    // a 4-deep condensation chain in min-label order needs 4 peels
    // (edges run HIGH→LOW, so every live SCC's forward-min is the
    // not-yet-peeled smaller component): maxPeels = 1 must throw
    // rather than truncate
    val chain = Seq((7L, 8L), (8L, 7L), (8L, 5L), (5L, 6L), (6L, 5L),
      (6L, 3L), (3L, 4L), (4L, 3L), (4L, 1L), (1L, 2L), (2L, 1L))
    val e = chain.toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.stronglyConnectedComponents(e, "src", "dst", maxPeels = 1).count()
    }
    assert(ex.getMessage.contains("peel"), ex.getMessage)
    val ok = Graph.stronglyConnectedComponents(e, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L,
      6L -> 5L, 7L -> 7L, 8L -> 7L), s"$ok")
  }
}
