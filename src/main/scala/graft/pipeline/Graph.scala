package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames. Like
  * [[Dedup.connectedComponents]], the edge table is shuffled onto the
  * per-round join key ONCE and every iteration reuses that layout — at
  * 100 TB the edges are the big side, and not re-exchanging them per
  * round is the difference between O(rounds) and O(1) passes. */
object Graph {

  /** PageRank in INTEGER fixed-point (ppm) arithmetic — every rank is an
    * exact integer, so a run is bit-replayable by any engine that floors
    * integer division (oracle-gated vs DuckDB; float PageRank drifts a
    * ulp per iteration per engine). Semantics per iteration:
    *
    *   contrib(edge s→d) = rank(s) DIV outdeg(s)            (floor)
    *   rank'(v) = (1e6 − dampingPpm)
    *            + dampingPpm · Σ_{s→v} contrib DIV 1e6      (floor)
    *
    * starting from rank = 1 000 000 for every node that appears as a src
    * or dst. Runs a FIXED `iterations` count (PageRank converges
    * geometrically; a fixed horizon keeps the result a pure function of
    * the input — no float-epsilon stopping rule to drift). Dangling
    * nodes (no out-edges) keep receiving but stop forwarding mass — the
    * standard "mass drop" variant, chosen over global redistribution
    * because it needs no per-iteration global scalar; feed a bidirected
    * edge set if every node must forward.
    *
    * PERSONALIZED PageRank via `seeds` (Haveliwala 2002; the
    * random-walk-with-restart relevance used for seed-based retrieval /
    * recommendations): restart mass goes only to the seed node set and
    * ranks start there — see the inline note at the seed join for the
    * arithmetic; `None` keeps the global behavior.
    *
    * WEIGHTED edges via `weightCol` (positive INTEGER weights — trade
    * volume, link counts; a zero/negative weight fails the job loudly):
    * contrib(s→d) = rank(s)·w(s→d) DIV Σw(s). Unweighted is the w = 1
    * case of the same arithmetic, so the two paths can never drift.
    *
    * Overflow envelope (documented, not silently wrong): per-node
    * contributions sum in DECIMAL(38,0) — exact at any in-degree — and
    * the damped product stays ≤ 1e6·(1e6·|V|), within decimal(38,0) for
    * any |V| a cluster can hold; the final rank is ≤ 1e6·|V|, cast back
    * to BIGINT (exact to |V| ≤ 9·10^12 nodes).
    *
    * Plan shape: edges+outdeg materialize partitioned by src once; each
    * iteration is ranks→(join on src, reusing the edge layout)→groupBy
    * dst→left join onto the node set (both sides hash-partitioned on the
    * node key — no extra exchange). Unlike connectedComponents (whose
    * self-join DOUBLES the plan per round), an iteration here references
    * the previous ranks once, so the logical plan grows LINEARLY — the
    * lineage is cut only every `cutEvery` rounds, letting Catalyst run a
    * whole stretch as one job instead of paying a materialize+action per
    * round. Output: `node, rank_ppm`. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPpm: Long = 850000L,
               cutEvery: Int = 8,
               weightCol: Option[String] = None,
               seeds: Option[DataFrame] = None): DataFrame = {
    require(cutEvery >= 1, s"cutEvery must be >= 1, got $cutEvery")
    require(iterations >= 1 && iterations <= 1000,
      s"iterations must be in [1, 1000], got $iterations")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L,
      s"dampingPpm must be in [0, 1000000], got $dampingPpm")
    // a silent cast("long") on string ids would NULL every node and
    // return one garbage row; a DoubleType weight would pass the >= 1
    // guard and TRUNCATE (1.7 -> 1), silently changing every rank
    Search.requireIntegralId(edges, srcCol, "pageRank", role = "src id")
    Search.requireIntegralId(edges, dstCol, "pageRank", role = "dst id")
    weightCol.foreach(c =>
      Search.requireIntegralId(edges, c, "pageRank", role = "weight"))
    val w = weightCol.map { c =>
      // the guard lives inside the consumed column (prune-safe)
      when(col(c).cast("long") >= 1L, col(c).cast("long"))
        .otherwise(raise_error(lit(
          s"pageRank: weight column '$c' must be a positive integer")))
    }.getOrElse(lit(1L))
    // e0 is materialized unconditionally: it feeds THREE different
    // exchange keys (the node set's repartition(node), the out-degree
    // rollup, the per-round repartition(src)) — ReuseExchange dedups
    // identical exchanges, not the shared subtree UNDER different ones,
    // so a caller-side edge JOIN (orders⋈lineitem in the bench graph)
    // would re-derive once per key. One edge-sized pass instead.
    val e0 = Materialize.cut(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w")))
    // ej and nodes are materialized UNCONDITIONALLY (r16 optimization):
    // the short-horizon "one lazy job + ReuseExchange dedups the repeated
    // repartition subtrees" assumption does NOT hold under AQE — the
    // executed 5-iteration plan carried 44 Exchanges and ZERO
    // ReusedExchange nodes (plans/r16/graph_pagerank_before.txt), i.e.
    // the nodes distinct-union and the e0⋈deg edge join re-ran per
    // iteration. Two eager cuts buy O(1) derivations of both frames at
    // the cost of two extra jobs, a measured win from 2 iterations up.
    def stage(df: DataFrame): DataFrame = Materialize.cut(df)
    // PERSONALIZED teleport: with `seeds`, the (1 − d) restart mass lands
    // only on the seed set (single-column frame of node ids; tiny by
    // definition — a query/user context — so it broadcasts), and ranks
    // start AT the seeds. seeds = None ⇒ every node is a seed with init
    // 1e6 — exactly the global PageRank arithmetic, one code path, the
    // two modes can never drift. Seed ids not present in the edge set
    // have no row to rank and are ignored.
    val seeded = seeds.map { sd =>
      val sCol = sd.columns match {
        case Array(c) => c
        case cs => sys.error(s"seeds must have exactly one column, got ${cs.mkString(",")}")
      }
      Search.requireIntegralId(sd, sCol, "pageRank", role = "seed id")
      sd.select(col(sCol).cast("long").as("node")).distinct()
        .select(col("node"), lit(true).as("__seed"))
    }
    val nodeSet = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    val nodes = stage(
      seeded.fold(nodeSet.select(col("node"), lit(true).as("__seed"))) { sd =>
        nodeSet.join(broadcast(sd), Seq("node"), "left")
          .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
      }.repartition(col("node")))
    val deg = e0.groupBy("src").agg(sum(col("__w")).as("__sw"))
    // the ONE exchange the edges ever see: partitioned by src, the
    // per-round join key, with out-weight already attached
    val ej = stage(
      e0.join(deg, "src").repartition(col("src")))
    val basePpm = 1000000L - dampingPpm
    var ranks = nodes.select(col("node"),
      when(col("__seed"), lit(1000000L)).otherwise(lit(0L)).as("rank_ppm"))
    for (i <- 1 to iterations) {
      // decimal multiply: rank·w would overflow BIGINT at hub weights;
      // unweighted (w = 1) reduces to rank DIV Σ1 = rank DIV outdeg.
      // shuffle_hash hints: ranks/contribs are |V|-sized — at graph scale
      // they can never broadcast, and locally each AQE broadcast is a
      // driver collect round-trip PER ROUND (10 of them dominated the
      // measured cold run: 8.5 s → 2.2 s without); the hash join reuses
      // the edges' partitioning, so only the small side ever moves
      val contribs = ej.join(ranks.hint("shuffle_hash"),
          ej("src") === ranks("node"))
        .select(col("dst"),
          expr("CAST((CAST(rank_ppm AS DECIMAL(38,0)) * __w) DIV __sw AS BIGINT)")
            .as("__c"))
        .groupBy("dst")
        .agg(sum(col("__c").cast("decimal(38,0)")).as("__s"))
      val next = nodes.join(contribs.hint("shuffle_hash"),
        nodes("node") === contribs("dst"), "left")
        .select(nodes("node"),
          expr(s"CAST((CASE WHEN __seed THEN $basePpm ELSE 0 END) + ($dampingPpm * coalesce(__s, CAST(0 AS DECIMAL(38,0)))) DIV 1000000 AS BIGINT)")
            .as("rank_ppm"))
      ranks = if (i % cutEvery == 0 && i < iterations) Materialize.cut(next) else next
    }
    ranks
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected edge set — the near-linear community detector: every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its neighbors, ties broken by SMALLEST
    * label. Both rules are deterministic, so a fixed `iterations` horizon
    * makes the result a pure function of the input — bit-replayable by
    * the DuckDB oracle round for round (the classic randomized-order
    * variant is not). Self-loops dropped; duplicate/reversed edges
    * collapse to one undirected edge (one neighbor vote each way).
    * Synchronous updates can oscillate on bipartite-ish regions rather
    * than converge — standard for the synchronous variant; pick the
    * horizon as the community resolution knob, not a convergence bound.
    *
    * Plan shape mirrors [[pageRank]]: the adjacency (both directions of
    * each undirected edge) is shuffled onto the per-round join key ONCE;
    * each round is labels→(shuffle_hash join reusing that layout — label
    * frames are |V|-sized and can never broadcast at graph scale)→vote
    * count partial-aggregating map-side→per-node argmax as max(struct(
    * count, −label)) — an aggregate, not a window: no per-node sort, and
    * the tie rule rides the struct order. The logical plan grows linearly
    * (each round references the previous labels once), so lineage is cut
    * only every `cutEvery` rounds. Output: `node, label` (label = the
    * smallest node id that won the node's final vote). */
  /** EXACT connected components over an undirected edge list — the
    * graph-surface face of [[Dedup.connectedComponents]]'s hook+jump
    * fixpoint (path doubling, one edge exchange total, CHECKED
    * convergence that throws rather than returning truncated
    * components). Where [[labelPropagation]] runs a fixed number of
    * frequency-vote rounds (communities — dense regions), this runs min-
    * label to the true fixpoint: `component` = the smallest node id
    * reachable from the node, the canonical partition every reachability
    * question starts from.
    *
    * Edge direction is ignored; self-loops and multi-edges are harmless
    * for correctness (min is idempotent) but cost shuffle volume —
    * DISTINCT heavy edge builds upstream. Nodes are the edge endpoints;
    * an isolated node appears only via a self-loop row.
    *
    * Output: `node, component`. Plan: see Dedup.connectedComponents —
    * O(log diameter) rounds, edges shuffled once, per-round cost one
    * groupBy + one label self-join. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 40): DataFrame = {
    Search.requireIntegralId(edges, srcCol, "connectedComponents", role = "src id")
    Search.requireIntegralId(edges, dstCol, "connectedComponents", role = "dst id")
    val und = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    val ids = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
    Dedup.connectedComponents(ids, und, maxIters)
      .select(col("id").as("node"), col("group_id").as("component"))
  }

  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int, cutEvery: Int = 8): DataFrame = {
    require(cutEvery >= 1, s"cutEvery must be >= 1, got $cutEvery")
    require(iterations >= 1 && iterations <= 1000,
      s"iterations must be in [1, 1000], got $iterations")
    Search.requireIntegralId(edges, srcCol, "labelPropagation", role = "src id")
    Search.requireIntegralId(edges, dstCol, "labelPropagation", role = "dst id")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val und = e0.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    // the ONE exchange the adjacency ever sees: partitioned by nbr, the
    // per-round join key. r16: lazy shared-RDD checkpoint — left a plain
    // lazy frame, each round's vote join re-derived it (ReuseExchange
    // does not dedup the repeated subtrees under AQE — the pageRank
    // lesson); an eager cut paid a standalone driver action. The lazy
    // checkpoint computes once inside the caller's action. und feeds
    // both union arms, so it is shared the same way.
    val undS = Materialize.cutLazy(und)
    val adj = Materialize.cutLazy(
      undS.select(col("a").as("node"), col("b").as("nbr"))
        .union(undS.select(col("b").as("node"), col("a").as("nbr")))
        .repartition(col("nbr")))
    var labels = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (i <- 1 to iterations) {
      // explicit aliases: labels derives from adj on round 1, so the
      // unqualified columns would be an ambiguous self-join
      val votes = adj.as("__a").join(labels.as("__l").hint("shuffle_hash"),
          col("__a.nbr") === col("__l.node"))
        .select(col("__a.node").as("__n"), col("__l.label").as("label"))
        .groupBy("__n", "label").agg(count(lit(1)).as("__c"))
      val next = votes.groupBy("__n")
        .agg(max(struct(col("__c"), (-col("label")).as("__neg"))).as("__m"))
        .select(col("__n").as("node"), (-col("__m.__neg")).as("label"))
      labels = if (i % cutEvery == 0 && i < iterations) Materialize.cut(next) else next
    }
    labels
  }

  /** MINIMUM SPANNING FOREST by Borůvka's method ('26 — the distributed
    * MST algorithm: every component picks its cheapest incident cross
    * edge in parallel, components merge, repeat — halving components per
    * round, so O(log V) rounds of pure joins/aggregates where Kruskal's
    * sort-and-union-find is inherently sequential). The co-purchase
    * backbone / single-linkage dendrogram primitive the graph family
    * lacked.
    *
    * Determinism: edges canonicalize to (a < b) keeping the CHEAPEST
    * weight per pair, and selection orders by the DISTINCT total key
    * (w, a, b) — with distinct keys the MSF edge SET is unique (the
    * cut-property argument), so the output hash-gates no matter which
    * side picked the edge. Merging runs the exact hook+jump
    * [[connectedComponents]] fixpoint on the ≤#components selected-edge
    * graph (checked convergence — loud, never truncated). A graph that
    * still has cross edges after `maxRounds` fails loudly (components
    * at least halve per round — 16 covers 65536 components; raise it
    * for pathological inputs, never silently).
    *
    * Plan: edges deduped + materialized ONCE; per round two comp-label
    * joins against the node-sized comp frame, one min-struct aggregate
    * per incident side, and a comp-graph CC whose input shrinks
    * geometrically. Output: the forest edges `a, b, w`. */
  def minimumSpanningForest(edges: DataFrame, srcCol: String, dstCol: String,
                            weightCol: String, maxRounds: Int = 16): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in [1, 64], got $maxRounds")
    Search.requireIntegralId(edges, srcCol, "minimumSpanningForest", role = "src id")
    Search.requireIntegralId(edges, dstCol, "minimumSpanningForest", role = "dst id")
    Search.requireIntegralId(edges, weightCol, "minimumSpanningForest", role = "weight")
    // Materialization: this op PINS its intermediates with a managed
    // persist (flat plan + MEMORY_AND_DISK + eager count) and releases
    // them before returning, instead of the session Materialize strategy.
    // The nested contraction loop issues ~6 materializations per round;
    // under the default eager-localCheckpoint strategy each successive
    // checkpoint call in a session re-pays the accumulated RDD graph
    // (measured ~2.6x growth per call — 485 s at sf0.1 in checkpoint
    // calls vs 5 s of actual compute), while plain lazy frames here
    // re-evaluate 2^hops times through the pointer-doubling self-joins.
    // Managed persist is the one shape that is both flat and cheap; the
    // RETURNED frame is materialized under the session strategy and
    // references nothing pinned.
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def flat(df: DataFrame): DataFrame = {
      val f = org.apache.spark.sql.graftshim.GraftShim.flattenPlan(df)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += f
      f
    }
    // pin + row count in ONE driver action (r16 optimization: the old
    // loop paid pin's count() AND a separate isEmpty per frame)
    def pinN(df: DataFrame): (DataFrame, Long) = {
      val f = flat(df); (f, f.count())
    }
    try {
      val (e0, m0) = pinN(
        edges.select(
            least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
            greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"),
            col(weightCol).cast("long").as("w"))
          .where(col("a") =!= col("b"))
          .groupBy("a", "b").agg(min(col("w")).as("w")))
      // r16 optimization: the loop state is the CONTRACTED cross-edge set
      // (component-labeled, min edge per component pair), not a node→comp
      // table — the old shape re-joined the FULL e0 against comp twice
      // every round; this one relabels a frame that shrinks with the
      // component count and never touches e0 again. Keeping only the
      // min-(w,a,b) edge per component pair is pick-invariant: a dropped
      // parallel edge loses the per-component struct-min to the kept one
      // in every future round (both endpoints contract identically), so
      // the picked set — and the output — is bit-identical. A round picks
      // for every component with a cross edge, so "any pick left" ≡ "any
      // cross edge left" ≡ erCount > 0 — the er count from the relabel's
      // own pin action drives the loop and no sel/pick frame ever needs
      // its own counting action.
      var er = e0.select(col("a").as("__ca"), col("b").as("__cb"),
        col("w"), col("a"), col("b"))
      var erCount = m0
      val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var r = 0
      while (r < maxRounds && erCount != 0L) {
        r += 1
        val inc = er.select(col("__ca").as("__c"),
            struct(col("w"), col("a"), col("b"), col("__cb").as("__oc")).as("__e"))
          .union(er.select(col("__cb").as("__c"),
            struct(col("w"), col("a"), col("b"), col("__ca").as("__oc")).as("__e")))
        // lazily persisted (no eager count): the first pointer hop's job
        // materializes the cache, the final union reads it back
        val sel = flat(
          inc.groupBy("__c").agg(min(col("__e")).as("__m"))
            .select(col("__c"), col("__m.w").as("w"), col("__m.a").as("a"),
              col("__m.b").as("b"), col("__m.__oc").as("__oc")))
        picked += sel.select("a", "b", "w").distinct()
        // star contraction on the PICK graph: each component points at
        // the component its chosen edge reaches. Following picks, the
        // (w, a, b) keys are non-increasing and distinct, so the only
        // cycles are the MUTUAL-pick 2-cycles — trees hanging off root
        // pairs. Resolve the pair to its min id, then pointer-double to
        // the root (⌈log₂ depth⌉ self-joins; which representative ends
        // up labeling a group is irrelevant — selection depends only on
        // the PARTITION, so any canonical labeling replays). Loud cap.
        val pick = sel.select(col("__c"), col("__oc"))
        // ptr0 stays LAZY (a projection-join over the persisted sel, read
        // inside hop 1's job — cheaper than its own pin action), and the
        // component-sized self-joins are UNHINTED: AQE picks a broadcast
        // while the pointer table is tiny and falls back to a shuffle
        // join when it is not — the scale-adaptive choice (the frames
        // here shrink with the component count, unlike the |V|-sized
        // label frames the louvain loop pins to shuffle_hash). Measured
        // at sf0.1: forced shuffle_hash pointer hops cost ~3× the
        // adaptive choice (32.5 s → 11.8 s for the whole loop).
        var ptr = flat( // lazy persist: hop 1 computes the shared RDD once
          pick.as("p").join(pick.as("q"),
              col("p.__oc") === col("q.__c"))
            .select(col("p.__c").as("__c"),
              when(col("q.__oc") === col("p.__c"),
                least(col("p.__c"), col("p.__oc")))
                .otherwise(col("p.__oc")).as("__p")))
        var settled = false
        var hops = 0
        while (!settled && hops < 20) {
          hops += 1
          // one action per hop does BOTH the doubling step (p ∘ p) and
          // the settlement PROOF: a final single follow (z) rides the
          // same job, and `__more` flags rows whose advanced pointer is
          // not yet a root. Σ__more = 0 proves every __p1 is a root, so
          // the frame (whose __p equals __p1 then) is final — the old
          // shape needed a whole extra no-change hop to prove settlement.
          val step = ptr.as("x").join(ptr.as("y"),
              col("x.__p") === col("y.__c"), "left")
            .select(col("x.__c").as("__c"),
              coalesce(col("y.__p"), col("x.__p")).as("__p1"))
          val hop = flat(step.as("u").join(ptr.as("z"),
              col("u.__p1") === col("z.__c"), "left")
            .select(col("u.__c").as("__c"),
              coalesce(col("z.__p"), col("u.__p1")).as("__p"),
              (col("z.__p").isNotNull && col("z.__p") =!= col("u.__p1"))
                .as("__more")))
          val nMore = hop.agg(coalesce(sum(col("__more").cast("long")), lit(0L)))
            .collect()(0).getLong(0)
          if (nMore == 0L) settled = true
          ptr = hop.select("__c", "__p")
        }
        require(settled,
          "minimumSpanningForest: pick-graph pointer doubling did not settle " +
            "in 20 hops (depth > 2^20) — structurally impossible for a pick graph")
        // relabel the cross edges onto the contracted components; every
        // __ca/__cb has a cross edge, hence a pick, hence a ptr row —
        // the left join + coalesce is belt-and-braces, not semantics
        val pa = ptr.select(col("__c").as("__ca"), col("__p").as("__na"))
        val pb = ptr.select(col("__c").as("__cb"), col("__p").as("__nb"))
        val relabeled = er.join(pa, Seq("__ca"), "left").join(pb, Seq("__cb"), "left")
          .select(coalesce(col("__na"), col("__ca")).as("__xa"),
            coalesce(col("__nb"), col("__cb")).as("__xb"),
            col("w"), col("a"), col("b"))
          .where(col("__xa") =!= col("__xb"))
          .select(least(col("__xa"), col("__xb")).as("__ca"),
            greatest(col("__xa"), col("__xb")).as("__cb"),
            col("w"), col("a"), col("b"))
          .groupBy("__ca", "__cb")
          .agg(min(struct(col("w"), col("a"), col("b"))).as("__m"))
          .select(col("__ca"), col("__cb"), col("__m.w").as("w"),
            col("__m.a").as("a"), col("__m.b").as("b"))
        val (erNext, nEr) = pinN(relabeled)
        er = erNext
        erCount = nEr
      }
      // loud cap: components halve per selecting round, so hitting the
      // cap with cross edges left means the input defeated the budget
      require(erCount == 0L,
        s"minimumSpanningForest: cross edges remain after $maxRounds rounds — " +
          "raise maxRounds for this input")
      val spark = edges.sparkSession
      import spark.implicits._
      if (picked.isEmpty) Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
      else Materialize.cut(picked.reduce(_ union _).distinct())
    } finally pinned.foreach(_.unpersist())
  }

  /** LOUVAIN-style modularity-gain label moves (Blondel, Guillaume,
    * Lambiotte & Lefebvre, J. Stat. Mech. '08 — the local-move phase,
    * run SYNCHRONOUSLY for a fixed number of rounds): each round every
    * node considers its neighbors' communities plus staying put and
    * adopts the one maximizing the modularity gain
    *
    *   score(i → c) = 2m·k_{i,c} − k_i·(Σtot_c − k_i·[c = own])
    *
    * (the ΔQ numerator scaled by 4m² — argmax-equivalent, EXACT in
    * DECIMAL(38,0), so the assignment hash-gates). Ties prefer higher
    * score, then STAYING, then the smaller community id — all
    * deterministic. Where [[labelPropagation]] votes by neighbor
    * FREQUENCY, this optimizes Newman Q directly (degree-corrected: a
    * hub's pull is discounted by its community's total degree), which
    * is the standard answer when LP's plurality vote collapses unevenly
    * sized communities. Synchronous updates can oscillate on symmetric
    * structures (the LP caveat) — `rounds` is a documented budget, not
    * a convergence guarantee; callers read [[modularity]] to compare
    * partitions.
    *
    * Plan: canonical-undirected dedup, adjacency exchanged ONCE
    * (partitioned by nbr — the per-round join key), degree frame
    * materialized once; per round one shuffle_hash label join + two
    * bounded rollups (k_{i,c} candidates, community degree totals) and
    * one argmax aggregate — no windows, no cartesians; 2m crosses as a
    * one-row broadcast (the modularity convention). Output: `node,
    * community`. */
  def louvainMoves(edges: DataFrame, srcCol: String, dstCol: String,
                   rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 100, s"rounds must be in [1, 100], got $rounds")
    Search.requireIntegralId(edges, srcCol, "louvainMoves", role = "src id")
    Search.requireIntegralId(edges, dstCol, "louvainMoves", role = "dst id")
    val dec = "decimal(38,0)"
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val und = e0.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    val adj = Materialize.cutLazy(
      und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b").as("node"), col("a").as("nbr")))
        .repartition(col("nbr")))
    val m2 = Materialize.cutLazy(adj.agg(count(lit(1)).cast(dec).as("__m2")))
    // the label STATE carries the (constant) degree — (node, community,
    // __k) — so no round ever joins a separate degree frame: community
    // totals are one groupBy on the state, and the candidate chain reads
    // __k off the own-label join it needs anyway
    var labels = Materialize.cutLazy(
      adj.groupBy("node").agg(count(lit(1)).as("__k"))
        .select(col("node"), col("node").as("community"), col("__k")))
    for (i <- 1 to rounds) {
      // r16 optimization: community totals ride the LABEL frame (|V|-sized
      // joins on the community key), so the old per-round cand⋈tot join —
      // an |E|-sized exchange on the candidate-community key — and the
      // union-with-own-zero groupBy (a second |E| exchange on (n, c))
      // disappear. The own-community candidate is folded into an IN-ROW
      // struct compare after the argmax: for kic rows the candidates are
      // unchanged; the zero-kic own fallback is strictly below the own
      // kic row whenever one exists (score strictly increases in k_ic as
      // 2m > 0), so max(best-of-kic, fallback) picks exactly the old
      // winner with the old (score, stay, −community) tie order.
      // r17 (guide §2.4): the totals-joined label frame is computed ONCE
      // per round and CUT — it was a plain val read by BOTH the k_ic join
      // and the argmax own-join, and under AQE the repeated subtree
      // (community exchange + totals groupBy + join) ran twice. labC cuts
      // the community-partitioned labels so the totals groupBy and the
      // own-label join both ride ONE exchange (co-partitioned, no second
      // shuffle); labelsT re-cuts the result NODE-partitioned, which is
      // the key both consumers join on — the k_ic probe joins adj (nbr-
      // partitioned since birth) with no exchange on either side, and the
      // argmax join + final groupBy reuse the same partitioning. Per-round
      // |V|-frame exchanges: 2 (labels→community, labelsT→node) where the
      // old shape paid 4.
      val labC = Materialize.cutLazy(labels.repartition(col("community")))
      val tot = labC.groupBy(col("community"))
        .agg(sum(col("__k")).as("__tot"))
      val labelsT = Materialize.cutLazy(
        labC.join(tot.hint("shuffle_hash"), Seq("community"))
          .repartition(col("node")))
      val kic = adj.as("__a")
        .join(labelsT.as("__l").hint("shuffle_hash"),
          col("__a.nbr") === col("__l.node"))
        .select(col("__a.node").as("__n"), col("__l.community").as("__c"),
          col("__l.__tot").as("__ctot"))
        .groupBy("__n", "__c").agg(count(lit(1)).as("__kic"),
          max(col("__ctot")).as("__ctot")) // constant per community
      val scored = kic
        // shuffle_hash: the |V|-sized label frame auto-broadcasts at bench
        // scale otherwise (a driver collect round-trip EVERY round, the
        // pageRank-measured per-round-broadcast failure: A/B at sf0.1
        // read ~2x on graph_louvain) and can never broadcast at graph
        // scale
        .join(labelsT.select(col("node").as("__n"), col("community").as("__own"),
          col("__k"), col("__tot").as("__otot")).hint("shuffle_hash"), Seq("__n"))
        .crossJoin(broadcast(m2))
        .select(col("__n"), col("__k"), col("__own"), col("__otot"),
          struct(
            (col("__m2") * col("__kic").cast(dec)
              - col("__k").cast(dec)
                * (col("__ctot").cast(dec)
                   - when(col("__c") === col("__own"), col("__k").cast(dec))
                     .otherwise(lit(0).cast(dec)))).as("__s"),
            when(col("__c") === col("__own"), 1L).otherwise(0L).as("__stay"),
            (-col("__c")).as("__neg")).as("__cnd"))
        .groupBy("__n") // co-partitioned with the __n join — no exchange
        .agg(max(col("__cnd")).as("__b"),
          min(col("__k")).as("__k"), // constant per node — min = the value
          min(col("__own")).as("__own"), min(col("__otot")).as("__otot"))
      val fb = struct( // the own community at k_ic = 0 (2m·0 term vanishes)
        (lit(0).cast(dec) - col("__k").cast(dec)
          * (col("__otot").cast(dec) - col("__k").cast(dec))).as("__s"),
        lit(1L).as("__stay"), (-col("__own")).as("__neg"))
      val next = scored.select(col("__n").as("node"),
        when(col("__b") >= fb, -col("__b.__neg"))
          .otherwise(col("__own")).as("community"),
        col("__k"))
      // cutLazy EVERY round: the state is read three times per round
      // (totals, k_ic join, own join) — left PLAIN-lazy the chain
      // re-evaluates 3^r times (measured 14.6s vs 3.7s warm at sf0.01 for
      // r = 3), while an EAGER cut paid a driver action per round. The
      // lazy checkpoint is one shared RDD: all three readers reference the
      // same blocks, computed once inside the caller's single action (r16
      // — the MST flat-persist discipline applied to the move loops).
      labels = Materialize.cutLazy(next)
    }
    labels.select("node", "community")
  }

  /** FULL multi-level Louvain (r14) — [[louvainMoves]] plus the
    * AGGREGATION phase the r13 operator documented as missing (Blondel
    * et al. '08 §2: after local moves plateau, contract communities to
    * super-nodes — intra-community weight becomes a self-loop, inter-
    * community weight a weighted edge — and re-run moves on the
    * contracted graph; community quality keeps improving where the
    * single-level moves stall). `levels` bounds the level count,
    * `roundsPerLevel` the synchronous move rounds per level (both fixed
    * budgets — the louvainMoves determinism contract, bit-replayable by
    * the unrolled oracle).
    *
    * Weighted-move semantics (exact integers): k_i = Σ_nbr w(i,·) +
    * 2·self(i), k_{i,c} = Σ w to community c (self-loop excluded — it
    * follows the node, cancelling in the argmax), 2m = the GRAPH
    * invariant 2·Σw (total weight is conserved under contraction, so
    * one broadcast constant serves every level). Ties prefer higher
    * score, then staying, then the smaller community id. Super-nodes
    * isolated by contraction (no cross edges) never move — the unfold
    * keeps their assignment via a left-join coalesce.
    *
    * Plan: each level is the louvainMoves plan on a geometrically
    * smaller graph (the contraction is two label joins + two bounded
    * rollups); unfolding is one |V|-sized left join per level. Output:
    * `node, community` (communities keyed by super-node label chains —
    * final ids are level-top community labels). */
  def louvain(edges: DataFrame, srcCol: String, dstCol: String,
              roundsPerLevel: Int, levels: Int): DataFrame = {
    require(roundsPerLevel >= 1 && roundsPerLevel <= 100,
      s"roundsPerLevel must be in [1, 100], got $roundsPerLevel")
    require(levels >= 1 && levels <= 8, s"levels must be in [1, 8], got $levels")
    Search.requireIntegralId(edges, srcCol, "louvain", role = "src id")
    Search.requireIntegralId(edges, dstCol, "louvain", role = "dst id")
    val dec = "decimal(38,0)"
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val und = Materialize.cutLazy(
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    // the level-invariant 2m: total weight is conserved by contraction
    val m2 = Materialize.cutLazy(
      und.agg((count(lit(1)) * 2).cast(dec).as("__m2")))
    var wEdges = Materialize.cutLazy(und.select(col("a"), col("b"), lit(1L).as("w")))
    var selfW = und.select(col("a").as("node"), lit(0L).as("sw")).limit(0)
    var assign: DataFrame = null
    for (lvl <- 1 to levels) {
      val moves = Materialize.cutLazy(
        weightedLouvainMoves(wEdges, selfW, m2, roundsPerLevel))
      assign =
        if (lvl == 1) moves
        else Materialize.cutLazy(
          assign.join(moves
              .withColumnRenamed("node", "__sn")
              .withColumnRenamed("community", "__nc"),
            assign("community") === col("__sn"), "left")
            .select(col("node"),
              coalesce(col("__nc"), col("community")).as("community")))
      if (lvl < levels) {
        val la = moves.withColumnRenamed("node", "a")
          .withColumnRenamed("community", "__ca")
        val lb = moves.withColumnRenamed("node", "b")
          .withColumnRenamed("community", "__cb")
        val withC = Materialize.cutLazy(
          wEdges.join(la, Seq("a")).join(lb, Seq("b"))
            .select(col("__ca"), col("__cb"), col("w")))
        val intra = withC.where(col("__ca") === col("__cb"))
          .select(col("__ca").as("node"), col("w").as("sw"))
        // prior self-loops roll up into the new super-nodes
        val rolled = selfW.join(moves, Seq("node"))
          .select(col("community").as("node"), col("sw"))
        selfW = Materialize.cutLazy(
          intra.union(rolled).groupBy("node").agg(sum(col("sw")).as("sw")))
        wEdges = Materialize.cutLazy(
          withC.where(col("__ca") =!= col("__cb"))
            .select(least(col("__ca"), col("__cb")).as("a"),
              greatest(col("__ca"), col("__cb")).as("b"), col("w"))
            .groupBy("a", "b").agg(sum(col("w")).as("w")))
      }
    }
    assign
  }

  /** The [[louvainMoves]] round loop generalized to WEIGHTED graphs with
    * self-loops — the contracted-level workhorse of [[louvain]]. Same
    * score, ties, state discipline; counts become weight sums. */
  private def weightedLouvainMoves(wEdges: DataFrame, selfW: DataFrame,
                                   m2: DataFrame, rounds: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val adj = Materialize.cutLazy(
      wEdges.select(col("a").as("node"), col("b").as("nbr"), col("w"))
        .union(wEdges.select(col("b").as("node"), col("a").as("nbr"), col("w")))
        .repartition(col("nbr")))
    var labels = Materialize.cutLazy(
      adj.groupBy("node").agg(sum(col("w")).as("__kw"))
        .join(selfW, Seq("node"), "left")
        .select(col("node"), col("node").as("community"),
          (col("__kw") + lit(2L) * coalesce(col("sw"), lit(0L))).as("__k")))
    for (i <- 1 to rounds) {
      // r16 optimization: same restructure as [[louvainMoves]] — totals
      // ride the label frame, own-community fallback is an in-row struct
      // compare (see the unweighted loop for the equivalence argument;
      // here score strictly increases in k_ic because 2m = 2Σw > 0)
      // r17: same one-cut-per-round labelsT restructure as the unweighted
      // loop (see louvainMoves) — 2 |V| exchanges per round, not 4
      val labC = Materialize.cutLazy(labels.repartition(col("community")))
      val tot = labC.groupBy(col("community"))
        .agg(sum(col("__k")).as("__tot"))
      val labelsT = Materialize.cutLazy(
        labC.join(tot.hint("shuffle_hash"), Seq("community"))
          .repartition(col("node")))
      val kic = adj.as("__a")
        .join(labelsT.as("__l").hint("shuffle_hash"),
          col("__a.nbr") === col("__l.node"))
        .select(col("__a.node").as("__n"), col("__l.community").as("__c"),
          col("__a.w").as("__w"), col("__l.__tot").as("__ctot"))
        .groupBy("__n", "__c").agg(sum(col("__w")).as("__kic"),
          max(col("__ctot")).as("__ctot"))
      val scored = kic
        .join(labelsT.select(col("node").as("__n"), col("community").as("__own"),
          col("__k"), col("__tot").as("__otot")).hint("shuffle_hash"), Seq("__n"))
        .crossJoin(broadcast(m2))
        .select(col("__n"), col("__k"), col("__own"), col("__otot"),
          struct(
            (col("__m2") * col("__kic").cast(dec)
              - col("__k").cast(dec)
                * (col("__ctot").cast(dec)
                   - when(col("__c") === col("__own"), col("__k").cast(dec))
                     .otherwise(lit(0).cast(dec)))).as("__s"),
            when(col("__c") === col("__own"), 1L).otherwise(0L).as("__stay"),
            (-col("__c")).as("__neg")).as("__cnd"))
        .groupBy("__n")
        .agg(max(col("__cnd")).as("__b"),
          min(col("__k")).as("__k"),
          min(col("__own")).as("__own"), min(col("__otot")).as("__otot"))
      val fb = struct(
        (lit(0).cast(dec) - col("__k").cast(dec)
          * (col("__otot").cast(dec) - col("__k").cast(dec))).as("__s"),
        lit(1L).as("__stay"), (-col("__own")).as("__neg"))
      val next = scored.select(col("__n").as("node"),
        when(col("__b") >= fb, -col("__b.__neg"))
          .otherwise(col("__own")).as("community"),
        col("__k"))
      labels = Materialize.cutLazy(next)
    }
    labels.select("node", "community")
  }

  /** Weighted one-mode projection of a bipartite edge set — the standard
    * co-occurrence graph build (orders×parts → parts bought together,
    * users×items → items sharing users): for right-side nodes a < b,
    * `weight` = number of distinct left nodes linking both. The
    * co-purchase graphs the triangle/community queries analyze are
    * exactly this projection.
    *
    * Hub guard: a left node of degree d emits d(d−1)/2 pairs, so one
    * degenerate mega-hub (the "everyone bought shipping" item) detonates
    * the self-join with pairs that carry the LEAST signal. Left nodes
    * with degree > `maxDegree` are excluded — the LSH maxBucket
    * convention: bounded, deliberate recall loss on degenerate hubs
    * instead of an unbounded shuffle. Set it to the p99.9 left degree.
    *
    * Plan: edges deduped, hub-filtered (degree table partial-aggregates;
    * semi join), materialized ONCE partitioned on the left key — the
    * self-join reuses that one exchange on both sides — then one count
    * aggregate on (a, b). Output: (a, b, weight), a < b. */
  def bipartiteProjection(edges: DataFrame, leftCol: String, rightCol: String,
                          maxDegree: Int = 1000): DataFrame = {
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    Search.requireIntegralId(edges, leftCol, "bipartiteProjection", role = "left id")
    Search.requireIntegralId(edges, rightCol, "bipartiteProjection", role = "right id")
    val e = edges.select(col(leftCol).cast("long").as("l"),
      col(rightCol).cast("long").as("r")).distinct()
    val deg = e.groupBy("l").agg(count(lit(1)).as("__d"))
    val kept = Materialize.cut(
      e.join(deg.where(col("__d") <= maxDegree), Seq("l"), "left_semi")
        .repartition(col("l")))
    kept.as("x").join(kept.as("y"),
        col("x.l") === col("y.l") && col("x.r") < col("y.r"))
      .groupBy(col("x.r").as("a"), col("y.r").as("b"))
      .agg(count(lit(1)).as("weight"))
  }

  /** k-core decomposition by synchronous peeling (Seidman 1983; the
    * Batagelj-Zaveršnik distributed form): each round SIMULTANEOUSLY
    * removes every node whose degree in the surviving subgraph is < k,
    * until `rounds` rounds have run. Simultaneous removal is
    * deterministic (no peel order to drift), so a fixed horizon is
    * bit-replayable by the unrolled-CTE oracle; the k-core is the
    * fixpoint, and peeling removes ≥ 1 node per non-stable round, so
    * `rounds` ≥ the peel depth gives the exact core (pass rounds = a
    * horizon you can replay; the spec pins a case where the cascade
    * needs every round). Output: surviving `(node, core_degree)` —
    * degree within the k-core.
    *
    * The graph-analytics use in a data pipeline: spam/copy farms and
    * template families form dense cores that survive aggressive peeling;
    * the 3-core of a near-dup graph is a much higher-precision "farm"
    * signal than raw pair counts.
    *
    * Plan shape: each round's edge set references the previous round
    * TWICE (degree build + the two endpoint semi-joins), which would
    * double the logical plan per round — exactly the connectedComponents
    * self-join hazard — so every round's survivors are Materialize.cut
    * (the CC discipline, not the pageRank linear-growth one). Edges ship
    * as (a, b) longs; degrees partial-aggregate map-side. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 100, s"rounds must be in [1, 100], got $rounds")
    Search.requireIntegralId(edges, srcCol, "kCore", role = "src id")
    Search.requireIntegralId(edges, dstCol, "kCore", role = "dst id")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    var e = Materialize.cutLazy(
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    // fixpoint early-exit (the shortestPaths discipline): peeling only
    // REMOVES, so an unchanged edge count means no node fell below k and
    // every later round would rebuild identical degrees for nothing.
    // r16: each round's frame is a LAZY checkpoint whose count() is the
    // one materializing action (cut + count paid two driver actions per
    // round); the diamond readers (degree build + both semi-joins) share
    // the counted blocks
    var prev = e.count()
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      r += 1
      val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.where(col("d") >= k).select("n")
      e = Materialize.cutLazy(
        e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
          .select("a", "b"))
      val cnt = e.count()
      stable = cnt == prev
      prev = cnt
    }
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
      .where(col("core_degree") >= k)
  }

  /** Multi-source shortest paths by synchronous min-plus relaxation
    * (Bellman-Ford rounds; unit weights = plain breadth-first search —
    * the unweighted call IS the weighted arithmetic with w = 1, one code
    * path, the two modes can never drift). Every relaxation is integer
    * (`dist + w` over positive integer weights), so a fixed `rounds`
    * horizon is a pure function of the input and bit-replayable by the
    * unrolled-CTE oracle; after round r every node holds the EXACT
    * min-cost over paths of ≤ r hops, and the loop stops early once a
    * round improves nothing (at which point the ≤-hops qualifier is the
    * true shortest-path distance). Output: `node, dist` — reached nodes
    * only; unreachable-within-horizon nodes have no row.
    *
    * The data-pipeline use: hop distance from a trusted seed set (link
    * distance from curated domains, collaboration distance from verified
    * accounts) is a classic quality/trust prior — Fleiss/TrustRank-style
    * — and min-COST with weights prices tiered links.
    *
    * Seeds: one-column frame of node ids (dist 0). Tiny by definition —
    * a cohort/query context — but only ever joined, never collected.
    * Seed ids absent from the edge set are ignored (the pageRank seed
    * contract). Multi-column seed frames fail loudly.
    *
    * Plan shape: edges materialize partitioned by src ONCE (the
    * iterative-loop discipline — the 100 TB edge table is never
    * re-exchanged); each round relaxes only the FRONTIER (nodes improved
    * last round — the only nodes that can improve a neighbor), so round
    * cost is frontier-proportional, not |V|-proportional. Known dists
    * and candidates merge through a union + min aggregate; each round's
    * frames are `Materialize.cut` (the kCore diamond discipline: dists
    * is read twice per round) and a one-scalar `isEmpty` per round
    * detects the fixpoint. Frontier/dist frames are |reached|-sized —
    * `shuffle_hash` hinted, never a per-round broadcast collect. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    seeds: DataFrame, rounds: Int,
                    weightCol: Option[String] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 100,
      s"rounds must be in [1, 100], got $rounds")
    Search.requireIntegralId(edges, srcCol, "shortestPaths", role = "src id")
    Search.requireIntegralId(edges, dstCol, "shortestPaths", role = "dst id")
    weightCol.foreach(c =>
      Search.requireIntegralId(edges, c, "shortestPaths", role = "weight"))
    val w = weightCol.map { c =>
      // the guard lives inside the consumed column (prune-safe)
      when(col(c).cast("long") >= 1L, col(c).cast("long"))
        .otherwise(raise_error(lit(
          s"shortestPaths: weight column '$c' must be a positive integer")))
    }.getOrElse(lit(1L))
    // materialized first — feeds the node-set union (×2) and the
    // per-round edge frame under different exchanges (the pageRank rule)
    val e0 = Materialize.cut(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w")))
    val sCol = seeds.columns match {
      case Array(c) => c
      case cs => sys.error(
        s"seeds must have exactly one column, got ${cs.mkString(",")}")
    }
    Search.requireIntegralId(seeds, sCol, "shortestPaths", role = "seed id")
    val nodeSet = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    // the ONE exchange the edges ever see: partitioned by src, the
    // per-round relaxation key
    val ej = Materialize.cut(e0.repartition(col("src")))
    var dists = Materialize.cut(
      seeds.select(col(sCol).cast("long").as("node")).distinct()
        .join(nodeSet, Seq("node"), "left_semi")
        .select(col("node"), lit(0L).as("dist")))
    var frontier = dists
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      // relax every edge out of the frontier; min per destination
      val cand = ej.join(frontier.hint("shuffle_hash"),
          ej("src") === frontier("node"))
        .select(col("dst"), (col("dist") + col("__w")).as("__nd"))
        .groupBy("dst").agg(min(col("__nd")).as("__nd"))
      // ONE full-outer merge per round: the improved flag decides both the
      // next dists and the next frontier, so a round pays one join and one
      // materialize action where the (imp ⟕ dists, then dists ∪ imp) form
      // paid two of each — at a 100-round horizon that is 100 fewer
      // shuffles and 100 fewer eager actions for identical semantics
      val improved = col("__old").isNull ||
        (col("__nd").isNotNull && col("__nd") < col("__old"))
      // cutLazy + count: one job per hop (see landmarkDistances)
      val merged = Materialize.cutLazy(
        dists.withColumnRenamed("dist", "__old")
          .join(cand.hint("shuffle_hash"), col("node") === col("dst"), "full")
          .select(
            coalesce(col("node"), col("dst")).as("node"),
            when(improved, col("__nd")).otherwise(col("__old")).as("dist"),
            improved.as("__imp")))
      frontier = merged.where(col("__imp")).select("node", "dist")
      if (frontier.count() == 0L) done = true
      dists = merged.select("node", "dist")
    }
    dists
  }

  /** HARMONIC centrality from md5 LANDMARKS (r11) — the Eppstein–Wang
    * landmark estimator for the centrality family's missing
    * closeness-style member (exact closeness is all-pairs; PageRank
    * measures flow, not DISTANCE): `nSeeds` deterministic landmark
    * nodes (bottom-k by h60("hc:"∥node), node — the samplePerGroup key,
    * so the landmark SET replays in any engine), one multi-source BFS
    * with state keyed (node, landmark), then per node
    *
    *   h_ppm = Σ_{landmarks at dist d > 0 within `rounds`} ⌊10⁶ / d⌋
    *
    * — exact integers, so the ESTIMATE hash-gates even though it is an
    * estimate (the estimator contract: unbiased scaling to true
    * harmonic is ·(N−1)/nSeeds, the caller's multiplication; `rounds`
    * is the documented horizon like [[temporalReachability]]).
    *
    * Plan: the [[shortestPaths]] loop with a composite key — edges
    * shuffle onto src ONCE, per-round state ≤ nodes×nSeeds rows, one
    * full-outer merge per round, frontier-empty early exit. Output:
    * `node, n_reached, h_ppm` (nodes reached by ≥1 other landmark). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         nSeeds: Int = 8, rounds: Int = 6): DataFrame =
    landmarkDistances(edges, srcCol, dstCol, nSeeds, rounds,
        saltPrefix = "hc:", opName = "harmonicCentrality")
      .where(col("dist") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 DIV dist")).as("h_ppm"))

  /** CLOSENESS centrality from md5 landmarks (r13) — the Eppstein–Wang
    * landmark estimator aimed at the CLASSIC closeness readout
    * (Bavelas '50: reciprocal of the mean shortest-path distance) the
    * way [[harmonicCentrality]] covers Marchiori–Latora harmonic.
    * Harmonic sums reciprocals (robust to unreachable pairs but a
    * DIFFERENT ranking when distance spreads are wide); closeness is
    * what the social-network literature reports. Same deterministic
    * landmark contract with its own salt ("cc:"∥node — an independent
    * landmark draw, so the two estimators don't share sampling error),
    * same (node, landmark)-keyed multi-source BFS, then per node
    *
    *   c_ppm = n_reached·10⁶ DIV Σ_{landmarks at dist d > 0} d
    *
    * — exact integers, so the estimate hash-gates. Unreached landmarks
    * simply don't contribute (the Wasserman–Faust within-horizon
    * normalization); `rounds` is the documented horizon. Unbiased
    * scaling to true closeness is the caller's ·nSeeds/(N−1) on the
    * denominator, as with harmonic. Output: `node, n_reached, c_ppm`. */
  def closenessCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                          nSeeds: Int = 8, rounds: Int = 6): DataFrame =
    landmarkDistances(edges, srcCol, dstCol, nSeeds, rounds,
        saltPrefix = "cc:", opName = "closenessCentrality")
      .where(col("dist") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("__sd"))
      // integer DIV end-to-end (never IEEE): n·10⁶ ≤ 1024·10⁶ per node,
      // far inside BIGINT; DuckDB `//` replays the truncation exactly
      .select(col("node"), col("n_reached"),
        expr("n_reached * 1000000 DIV __sd").as("c_ppm"))

  /** Landmark ECCENTRICITY + diameter LOWER BOUND (r15) — the
    * BFS-budget pre-flight the iterative family itself needs: every
    * horizon parameter in this file (`rounds`, `maxHops`) is a guess
    * about how far the graph extends, and this measures it — per
    * deterministic landmark (the [[harmonicCentrality]] contract, its
    * own "ec:" salt), eccentricity(seed) = max BFS distance reached
    * within `rounds`; the max over seeds is the classic sampled
    * diameter lower bound (the Magnien–Latapy–Habib BFS-bound
    * lineage). A seed whose eccentricity EQUALS `rounds` says the
    * horizon clipped it — raise the budget; strictly below says the
    * component genuinely ends there. Exact integers, hash-gates.
    * Output: `seed, n_reached, eccentricity`, one row per landmark. */
  def landmarkEccentricity(edges: DataFrame, srcCol: String, dstCol: String,
                           nSeeds: Int = 8, rounds: Int = 6): DataFrame =
    landmarkDistances(edges, srcCol, dstCol, nSeeds, rounds,
        saltPrefix = "ec:", opName = "landmarkEccentricity")
      .where(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"), max(col("dist")).as("eccentricity"))

  /** Landmark multi-source BFS behind [[harmonicCentrality]],
    * [[closenessCentrality]] and [[landmarkEccentricity]]: `nSeeds`
    * deterministic landmarks (bottom-k by h60(saltPrefix∥node), node),
    * state keyed (node, landmark), edges shuffled onto src ONCE, one
    * full-outer merge per hop, one driver action per hop
    * ([[Materialize.cutLazy]]), frontier-empty early exit. Returns
    * `node, seed, dist` (dist 0 at the landmarks themselves — callers
    * filter). */
  private def landmarkDistances(edges: DataFrame, srcCol: String, dstCol: String,
                                nSeeds: Int, rounds: Int, saltPrefix: String,
                                opName: String): DataFrame = {
    require(nSeeds >= 1 && nSeeds <= 1024, s"nSeeds must be in [1, 1024], got $nSeeds")
    require(rounds >= 1 && rounds <= 100, s"rounds must be in [1, 100], got $rounds")
    Search.requireIntegralId(edges, srcCol, opName, role = "src id")
    Search.requireIntegralId(edges, dstCol, opName, role = "dst id")
    val e0 = Materialize.cut(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val seeds = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .withColumn("__h",
        conv(substring(md5(concat(lit(saltPrefix), col("node").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("__h"), col("node"))
      .limit(nSeeds)
      .select(col("node").as("seed"))
    val ej = Materialize.cut(e0.repartition(col("src")))
    var dists = Materialize.cut(
      seeds.select(col("seed").as("node"), col("seed"), lit(0L).as("dist")))
    var frontier = dists
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val cand = ej.join(frontier.hint("shuffle_hash"),
          ej("src") === frontier("node"))
        .select(col("dst"), col("seed"), (col("dist") + 1L).as("__nd"))
        .groupBy("dst", "seed").agg(min(col("__nd")).as("__nd"))
      val improved = col("__old").isNull ||
        (col("__nd").isNotNull && col("__nd") < col("__old"))
      // cutLazy + count (never isEmpty: limit-1 would short-circuit
      // before every partition persists) — one job per hop, not two
      val merged = Materialize.cutLazy(
        dists.withColumnRenamed("dist", "__old")
          .withColumnRenamed("seed", "__s")
          .join(cand.hint("shuffle_hash"),
            col("node") === col("dst") && col("__s") === col("seed"), "full")
          .select(
            coalesce(col("node"), col("dst")).as("node"),
            coalesce(col("__s"), col("seed")).as("seed"),
            when(improved, col("__nd")).otherwise(col("__old")).as("dist"),
            improved.as("__imp")))
      frontier = merged.where(col("__imp")).select("node", "seed", "dist")
      if (frontier.count() == 0L) done = true
      dists = merged.select("node", "seed", "dist")
    }
    dists
  }

  /** BETWEENNESS centrality, Brandes-sampled from md5 landmarks (Brandes
    * JMS'01 §4; sampling per Brandes–Pich '07) — the "which node BROKERS
    * flow" readout completing the centrality family (r12 verdict #5):
    * PageRank measures stationary flow, harmonic measures distance,
    * betweenness counts the shortest paths THROUGH a node. Exact Brandes
    * is all-sources; this runs the two Brandes passes from `nSeeds`
    * deterministic landmarks (bottom-k by h60("bc:"∥node) — the
    * [[harmonicCentrality]] landmark contract, so the seed SET replays
    * cross-engine), paths truncated at the `rounds` horizon (the
    * documented estimator contract; unbiased scaling to all-sources
    * betweenness is ·N/nSeeds, the caller's multiplication).
    *
    * Pass 1 (forward, level-synchronous BFS): per (node, seed), the BFS
    * level and the shortest-path COUNT σ — new level-r nodes are the
    * round's candidates anti-joined against the visited set, σ(v) =
    * Σ σ(u) over level-(r−1) in-neighbors u, summed in DECIMAL(38,0).
    *
    * Pass 2 (backward, dependency accumulation): from the deepest level
    * L down, δ(v) = Σ_{v→w, lvl(w)=lvl(v)+1} ⌊σ(v)·(10⁶ + δ(w)) / σ(w)⌋
    * — Brandes' recursion in ppm FIXED POINT with per-term floor
    * division, so every δ is an exact integer and the estimate
    * HASH-GATES (the pageRank/harmonic discipline; float Brandes drifts
    * a ulp per level per engine). bc_ppm(v) = Σ_seeds δ_seed(v).
    *
    * Exactness envelope, guarded LOUDLY in-column (the shortestPaths
    * weight-guard pattern): σ ≤ 10¹⁸ and δ ≤ 10¹⁸ keep the DECIMAL(38,0)
    * product σ·(10⁶+δ) < 10³⁷ and the DIV result in BIGINT; a graph
    * whose path counts overflow the envelope fails with a named error,
    * never wraps.
    *
    * Plan shape (r17): edges dedup'd then materialized TWICE up front —
    * src- and dst-partitioned (forward relaxes on src, backward joins
    * successors on dst: the HITS two-sided discipline) — so the loops
    * re-exchange nothing; per-round state ≤ nodes×nSeeds rows joins
    * shuffle_hash. The forward loop keeps ONE merged (node, seed, lvl,
    * σ) state frame updated by a full-outer merge per round (the
    * shortestPaths shape) — no per-level frames, no anti-join against a
    * growing visited union; the backward pass reads each level as a
    * filter over the one state checkpoint and runs ONE outer join +
    * co-partitioned rollup per level. Forward exits early on an empty
    * frontier; backward is ≤ L−1 bounded joins. Output: `node,
    * n_seed_paths (seeds with δ(node) > 0), bc_ppm`, interior nodes
    * only (δ > 0) — endpoints broker nothing. */
  def betweennessCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                            nSeeds: Int = 8, rounds: Int = 6): DataFrame = {
    require(nSeeds >= 1 && nSeeds <= 1024, s"nSeeds must be in [1, 1024], got $nSeeds")
    require(rounds >= 1 && rounds <= 100, s"rounds must be in [1, 100], got $rounds")
    Search.requireIntegralId(edges, srcCol, "betweennessCentrality", role = "src id")
    Search.requireIntegralId(edges, dstCol, "betweennessCentrality", role = "dst id")
    // distinct: a duplicated edge would double-count σ (multi-edges are
    // one adjacency for path counting); self-loops never lie on a
    // shortest path
    // r16: lazy checkpoints — the forward loop's per-round count()
    // actions materialize these on first use; no standalone cut jobs
    val e0 = Materialize.cutLazy(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .where(col("src") =!= col("dst")).distinct())
    val nodeSet = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    val seeds = nodeSet
      .withColumn("__h",
        conv(substring(md5(concat(lit("bc:"), col("node").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("__h"), col("node"))
      .limit(nSeeds)
      .select(col("node").as("seed"))
    val eSrc = Materialize.cutLazy(e0.repartition(col("src")))
    val eDst = Materialize.cutLazy(e0.repartition(col("dst")))

    // ---- forward: per (node, seed) BFS level + path count σ ------------
    // r17 (guide §2.4, verdict item 3 — the merged-frame visited set):
    // the loop state is ONE (node, seed, lvl, sigma) frame updated by a
    // full-outer merge per round — the shortestPaths loop shape — instead
    // of an anti-join against a lazy UNION of every previous level frame.
    // The union chain exchanged Σ|levels| rows per round ACROSS r scan
    // legs and its plan grew with the horizon (planning time is real: the
    // per-round cutLazy planning measured 0.8-1.4 s against 0.3-0.9 for
    // the merged shape); the merged state exchanges the same rows once,
    // through one frame of fixed plan shape. A node enters the state at
    // the first round it is a candidate, with that round's σ aggregate —
    // exactly the old per-level anti-join semantics; later candidate rows
    // for a seen (node, seed) are discarded by the coalesce (state wins).
    var state = Materialize.cutLazy(seeds.select(col("seed").as("node"), col("seed"),
      lit(0).as("lvl"), lit(1).cast("decimal(38,0)").as("sigma")))
    var frontier = state.select("node", "seed", "sigma")
    var deepest = 0
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val cand = eSrc.join(frontier.hint("shuffle_hash"),
          eSrc("src") === frontier("node"))
        .groupBy(col("dst"), col("seed"))
        .agg(sum(col("sigma")).cast("decimal(38,0)").as("sigma"))
      // cutLazy + count: the emptiness probe is the materializing job
      val merged = Materialize.cutLazy(
        state.withColumnRenamed("node", "__sn").withColumnRenamed("seed", "__ss")
          .withColumnRenamed("lvl", "__sl").withColumnRenamed("sigma", "__ssig")
          .join(cand.hint("shuffle_hash"),
            col("__sn") === col("dst") && col("__ss") === col("seed"), "full")
          .select(
            coalesce(col("__sn"), col("dst")).as("node"),
            coalesce(col("__ss"), col("seed")).as("seed"),
            coalesce(col("__sl"), lit(r)).as("lvl"),
            coalesce(col("__ssig"), col("sigma")).as("sigma"),
            col("__sn").isNull.as("__new")))
      frontier = merged.where(col("__new")).select("node", "seed", "sigma")
      // the filtered count scans every partition of the checkpoint —
      // the one materializing job per round (never isEmpty: limit-1
      // would short-circuit before every partition persists)
      if (frontier.count() == 0L) done = true else deepest = r
      state = merged.select("node", "seed", "lvl", "sigma")
    }
    def levelOf(l: Int): DataFrame =
      state.where(col("lvl") === l).select("node", "seed", "sigma")

    // ---- backward: Brandes dependency accumulation in ppm --------------
    val big = "1000000000000000000" // 10^18 — the documented envelope
    def guarded(c: org.apache.spark.sql.Column, what: String) =
      when(c <= expr(s"CAST($big AS DECIMAL(38,0))"), c)
        .otherwise(raise_error(lit(
          s"betweennessCentrality: $what exceeds 10^18 — path counts " +
            "overflow the integer envelope on this graph/horizon")))
    val spark = edges.sparkSession
    import spark.implicits._
    val emptyOut = Seq.empty[(Long, Long, Long)]
      .toDF("node", "n_seed_paths", "bc_ppm")
    if (deepest < 2) emptyOut // no interior node inside the horizon
    else {
      var deltaNext = levelOf(deepest).select(col("node"), col("seed"),
        col("sigma"), lit(0).cast("decimal(38,0)").as("delta"))
      val acc = scala.collection.mutable.ArrayBuffer[DataFrame]()
      for (l <- (deepest - 1) to 1 by -1) {
        val wSide = deltaNext.select(col("node").as("__wn"), col("seed").as("__ws"),
          guarded(col("sigma"), "sigma").as("__wsig"),
          guarded(col("delta"), "delta").as("__wd"))
        val contrib = eDst.join(wSide.hint("shuffle_hash"), eDst("dst") === col("__wn"))
          .select(col("src").as("__cn"), col("__ws").as("__cs"),
            expr("CAST(__wsig AS DECIMAL(19,0))").as("__wsig"),
            expr("CAST(1000000 AS DECIMAL(19,0)) + CAST(__wd AS DECIMAL(19,0))").as("__wval"))
        // r17 (guide §2.4): ONE left-outer join per level where two joins
        // ran before (terms = contrib ⋈ level INNER, then level ⋈ terms
        // LEFT to restore zero-δ nodes). The outer join emits the SAME
        // term rows (inner matches) plus one null-term row per
        // contribution-less (node, seed); the groupBy sums the same exact
        // integers (order-insensitive) and the all-null sum coalesces to
        // the old zero. σ is group-constant (it rides the level row), so
        // min(σ) = σ. The groupBy reuses the join's (node, seed)
        // partitioning — no extra exchange.
        val deltaL = Materialize.cutLazy(levelOf(l)
          .join(contrib.hint("shuffle_hash"),
            col("node") === col("__cn") && col("seed") === col("__cs"), "left")
          .select(col("node"), col("seed"), col("sigma"),
            // per-term floor DIV (BIGINT), re-widened to DECIMAL before the
            // sum — a LONG sum over many successors could wrap silently
            expr("CAST((CAST(sigma AS DECIMAL(19,0)) * __wval) DIV __wsig AS DECIMAL(28,0))").as("__t"))
          .groupBy(col("node"), col("seed"))
          .agg(min(col("sigma")).as("sigma"),
            coalesce(sum(col("__t")).cast("decimal(38,0)"),
              lit(0).cast("decimal(38,0)")).as("delta")))
        acc += deltaL
        deltaNext = deltaL
      }
      acc.reduce(_ union _)
        .where(col("delta") > 0)
        .groupBy("node")
        .agg(count(lit(1)).as("n_seed_paths"),
          sum(col("delta")).as("__bc"))
        .select(col("node"), col("n_seed_paths"),
          when(col("__bc") <= expr("CAST(9000000000000000000 AS DECIMAL(38,0))"),
            col("__bc").cast("long"))
            .otherwise(raise_error(lit(
              "betweennessCentrality: accumulated bc_ppm exceeds BIGINT")))
            .as("bc_ppm"))
    }
  }

  /** DEGREE-DISTRIBUTION profile in log₂ buckets — the "does this graph
    * have mega-hubs" pre-flight that decides which graph ops need their
    * skew guards (a heavy power-law tail is where naive wedge joins and
    * per-node broadcasts die): per bucket `b = bitlen(degree)` (degrees
    * 2^(b−1)..2^b−1), the node count, share ppm, and the bucket's
    * exact min/max degree. Undirected degrees over distinct edges
    * (self-loops dropped, duplicates/reversals collapsed — the
    * triangleCounts hygiene). Two partial-aggregated collapses: per-node
    * degrees, then ≤ 64 buckets. Output: `bucket, n_nodes, share_ppm,
    * min_degree, max_degree`. */
  def degreeProfile(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    Search.requireIntegralId(edges, srcCol, "degreeProfile", role = "src id")
    Search.requireIntegralId(edges, dstCol, "degreeProfile", role = "dst id")
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    val tot = deg.agg(count(lit(1)).as("__n"))
    deg.groupBy(expr("CAST(length(bin(__d)) AS BIGINT)").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("__d")).as("min_degree"), max(col("__d")).as("max_degree"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_nodes"),
        expr("CAST((n_nodes * 1000000) DIV __n AS BIGINT)").as("share_ppm"),
        col("min_degree"), col("max_degree"))
  }

  /** Directed-edge RECIPROCITY (Garlaschelli & Loffredo, PRL 2004): the
    * share of directed edges whose REVERSE also exists — the
    * relationship-symmetry readout (mutual follows vs broadcast accounts,
    * two-way trade vs one-way supply, reply-vs-ignore in messaging).
    * Distinct directed edges, self-loops dropped (trivially reciprocal —
    * counting them inflates the score); the reverse check is ONE
    * left-semi self-join on the swapped key, counts partial-aggregated.
    * Output one row: `n_edges, n_reciprocal, reciprocity_ppm`. Empty
    * edge set → zero rows (the ksTest convention). */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    Search.requireIntegralId(edges, srcCol, "reciprocity", role = "src id")
    Search.requireIntegralId(edges, dstCol, "reciprocity", role = "dst id")
    val e = Materialize.cutLazy( // shared by the self-join + both counts
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .where(col("src") =!= col("dst")).distinct())
    val rec = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(rec.agg(count(lit(1)).as("n_reciprocal"))))
      .where(col("n_edges") > 0)
      .select(col("n_edges"), col("n_reciprocal"),
        expr("CAST((n_reciprocal * 1000000) DIV n_edges AS BIGINT)")
          .as("reciprocity_ppm"))
  }

  /** TIME-RESPECTING earliest-arrival reachability (Holme & Saramäki,
    * Phys. Rep. 519, 2012 — temporal networks): each edge `(src, dst, t)`
    * is usable only if `src` was already reached at or before `t`, and a
    * node's value is the EARLIEST time any time-respecting path delivers
    * it. Static reachability over a temporal graph lies — it happily
    * routes influence backwards through edges that fired before the
    * source was reached; this is the contagion/influence/provenance
    * closure that doesn't ("which accounts could have seen the leak,
    * and when, given who-contacted-whom-WHEN").
    *
    * Semantics: `ea(seed) = t0` (its seed time); relaxation
    * `ea(dst) ≤ min{t : edge (src, dst, t), ea(src) ≤ t}`; equal-time
    * hops chain (propagation within one tick is instantaneous —
    * documented; shift edge times if a strict ordering is needed). The
    * fixpoint is monotone non-increasing integer times, so fixed rounds
    * + early exit are deterministic — bit-replayable like the
    * [[shortestPaths]] family, whose exact plan discipline this reuses:
    * edges materialized partitioned by src ONCE, frontier-proportional
    * rounds, one full-outer merge + `Materialize.cut` per round, one
    * scalar `isEmpty` fixpoint probe, shuffle_hash hints throughout.
    * `rounds` bounds HOPS (≤ r-hop earliest arrival; the early exit
    * makes it exact once a round improves nothing).
    *
    * Seeds: two-column frame `(node, t0)` — duplicate seed rows take the
    * min t0; seeds absent from the edge set are ignored (the pageRank
    * seed contract). Output: `node, earliest_t` — reached nodes only. */
  def temporalReachability(edges: DataFrame, srcCol: String, dstCol: String,
                           timeCol: String, seeds: DataFrame,
                           rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 100,
      s"rounds must be in [1, 100], got $rounds")
    Search.requireIntegralId(edges, srcCol, "temporalReachability", role = "src id")
    Search.requireIntegralId(edges, dstCol, "temporalReachability", role = "dst id")
    Search.requireIntegralId(edges, timeCol, "temporalReachability", role = "edge time")
    val e0 = Materialize.cutLazy(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(timeCol).cast("long").as("__t")))
    val (sNode, sT) = seeds.columns match {
      case Array(n, t) => (n, t)
      case cs => sys.error(
        s"seeds must have exactly (node, t0) columns, got ${cs.mkString(",")}")
    }
    Search.requireIntegralId(seeds, sNode, "temporalReachability", role = "seed id")
    Search.requireIntegralId(seeds, sT, "temporalReachability", role = "seed time")
    val nodeSet = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    val ej = Materialize.cutLazy(e0.repartition(col("src")))
    var ea = Materialize.cutLazy(
      seeds.select(col(sNode).cast("long").as("node"),
          col(sT).cast("long").as("ea"))
        .groupBy("node").agg(min(col("ea")).as("ea"))
        .join(nodeSet, Seq("node"), "left_semi"))
    var frontier = ea
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      // relax only time-respecting edges out of the frontier
      val cand = ej.join(frontier.hint("shuffle_hash"),
          ej("src") === frontier("node") && col("ea") <= ej("__t"))
        .select(col("dst"), col("__t").as("__nd"))
        .groupBy("dst").agg(min(col("__nd")).as("__nd"))
      val improved = col("__old").isNull ||
        (col("__nd").isNotNull && col("__nd") < col("__old"))
      // cutLazy + count (the shortestPaths discipline): the emptiness
      // probe is the round's one materializing job — the eager shape
      // paid a cut action AND an isEmpty per round
      val merged = Materialize.cutLazy(
        ea.withColumnRenamed("ea", "__old")
          .join(cand.hint("shuffle_hash"), col("node") === col("dst"), "full")
          .select(
            coalesce(col("node"), col("dst")).as("node"),
            when(improved, col("__nd")).otherwise(col("__old")).as("ea"),
            improved.as("__imp")))
      frontier = merged.where(col("__imp")).select("node", "ea")
      if (frontier.count() == 0L) done = true
      ea = merged.select("node", "ea")
    }
    ea.select(col("node"), col("ea").as("earliest_t"))
  }

  /** Per-node triangle counts over an undirected edge set (self-loops
    * dropped, duplicate/reversed edges collapsed): `node, n_triangles` —
    * the local clustering signal (spam-farm rings, copy networks,
    * community density).
    *
    * Degree-ordered orientation (Schank & Wagner 2005): every edge
    * points from its (degree, id)-SMALLER endpoint to the larger, and a
    * triangle is found exactly once as wedge u→v, u→w (v before w in the
    * same order) closed by edge v→w. The orientation bounds every node's
    * out-degree by O(√m), so the wedge join — the quadratic step in a
    * naive neighbor join — generates at most O(m^1.5) candidates TOTAL
    * regardless of hub skew: a 10^8-degree hub contributes wedges only
    * through edges where it is the LARGER endpoint. Three shuffles: the
    * orientation join (edges ⋈ degrees, broadcast-eligible per AQE), the
    * wedge self-join on u, and the closing semi join on (v, w); per-node
    * counts ride the corner explode's aggregate. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame =
    triangleCore(edges, srcCol, dstCol, "triangleCounts")._3

  /** Per-node LOCAL CLUSTERING COEFFICIENT: `2·T(v) / (d(v)·(d(v)−1))`
    * in integer ppm — how close each node's neighborhood is to a clique
    * (the boilerplate-ring / spam-farm density signal the raw triangle
    * count can't normalize: a hub in a sparse web has thousands of
    * triangles and a near-zero coefficient). Nodes of degree < 2 have no
    * defined coefficient and are EXCLUDED (emitting 0 would conflate
    * "leaf" with "locally tree-like"); triangle-free nodes of degree ≥ 2
    * report 0. The division is integral (`2·T·10⁶ DIV d(d−1)` — exact,
    * no float), overflow-safe to ~10¹² triangles/node.
    *
    * Same plan as [[triangleCounts]] plus one degree join (the degree
    * frame already exists from the orientation step — reused, not
    * recomputed). Output: `node, degree, n_triangles, coeff_ppm`. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val (_, deg, tri) = triangleCore(edges, srcCol, dstCol, "clusteringCoefficient")
    deg.where(col("d") >= 2)
      .join(tri, col("n") === tri("node"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff_ppm",
        expr("(2 * n_triangles * 1000000) DIV (degree * (degree - 1))"))
  }

  /** ANCESTOR CLOSURE of a parent-pointer hierarchy — the recursive-CTE
    * class Spark has no native operator for (org charts, bill-of-
    * materials, category trees): every (node, ancestor) pair, any
    * depth. Synchronous parent-chase rounds over a once-materialized
    * edge frame; each round joins only the still-advancing FRONTIER
    * (round cost ∝ pairs discovered that round, not the closure),
    * fixpoint by one `isEmpty` scalar per round, per-round
    * `Materialize.cut` (the shortestPaths discipline). DAG diamonds
    * dedup per round; a frontier still alive after `maxDepth` rounds
    * fails LOUDLY — a "hierarchy" with a cycle would otherwise loop
    * forever, and depth > maxDepth is corrupt data, not a deeper tree.
    * Self-loops and NULL endpoints are excluded. Output: `child, anc`. */
  def ancestorClosure(edges: DataFrame, childCol: String, parentCol: String,
                      maxDepth: Int = 32): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 200,
      s"maxDepth must be in [1, 200], got $maxDepth")
    Search.requireIntegralId(edges, childCol, "ancestorClosure", role = "child id")
    Search.requireIntegralId(edges, parentCol, "ancestorClosure", role = "parent id")
    // r16: lazy checkpoints — each chase round's count() is its one
    // materializing action (the eager shape paid a cut action AND an
    // isEmpty per round), and the closing union reads the cached rounds
    val e = Materialize.cutLazy(edges
      .select(col(childCol).cast("long").as("child"),
        col(parentCol).cast("long").as("parent"))
      .where(col("child").isNotNull && col("parent").isNotNull &&
        col("child") =!= col("parent"))
      .distinct())
    val up = e.select(col("child").as("anc"), col("parent").as("next"))
    var frontier = Materialize.cutLazy(
      e.select(col("child"), col("parent").as("anc")))
    var n = frontier.count()
    val rounds = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 1
    while (depth < maxDepth && n != 0L) {
      frontier = Materialize.cutLazy(frontier.join(up, Seq("anc"))
        .select(col("child"), col("next").as("anc")).distinct())
      n = frontier.count()
      rounds += frontier
      depth += 1
    }
    require(n == 0L,
      s"ancestorClosure: a chase is still advancing after $maxDepth rounds — " +
        "cycle in the hierarchy, or raise maxDepth")
    rounds.reduce(_ union _).distinct()
  }

  /** Hierarchical (subtree) ROLLUP over [[ancestorClosure]] — the
    * BOM-explosion / org-rollup aggregate: per node, the count and
    * cents-exact value sum of its ENTIRE subtree (self included).
    * Closure pairs join the node values once, one partial-aggregated
    * groupBy on the ancestor. Output: `node, n_subtree, subtree_cents`. */
  def hierarchyRollup(nodes: DataFrame, idCol: String, valueCol: String,
                      edges: DataFrame, childCol: String, parentCol: String,
                      maxDepth: Int = 32): DataFrame = {
    Search.requireIntegralId(nodes, idCol, "hierarchyRollup")
    val self = nodes.select(col(idCol).cast("long").as("child"))
      .withColumn("anc", col("child"))
    val pairs = ancestorClosure(edges, childCol, parentCol, maxDepth).union(self)
    val vals = nodes.select(col(idCol).cast("long").as("child"),
      floor(col(valueCol) * 100 + 0.5).cast("long").as("__cents"))
    pairs.join(vals, Seq("child"))
      .groupBy(col("anc").as("node"))
      .agg(count(lit(1)).as("n_subtree"), sum("__cents").as("subtree_cents"))
  }

  /** MODULARITY of a community assignment, per community, integer-exact:
    * the Newman Q decomposed as contribution_c = (4m·e_c − d_c²)·10⁶ DIV
    * 4m² (e_c = intra-community edges, d_c = community degree sum, m =
    * total undirected edges) — Σ contributions ≈ Q·10⁶. The quality
    * readout for [[labelPropagation]]'s output (did propagation find
    * structure, or noise? Q near 0 on a random split, substantially
    * positive on real communities) that turns "we ran community
    * detection" into a measurable claim. DECIMAL(38,0) keeps the
    * cross-multiplied form exact to ~10¹² edges.
    *
    * Plan: canonical-undirected dedup (one shuffle), two broadcast-
    * eligible label joins, partial-aggregated rollups to community
    * cardinality, and the one-row m aggregate broadcast-crossed in (the
    * bounded-cohort hint pattern — explicitly small by construction).
    * A node labeled more than once takes its SMALLEST label
    * (deterministic; [[labelPropagation]] emits unique nodes anyway);
    * unlabeled endpoints fail loudly in the consumed column — silently
    * dropping their edges would overstate Q. Output: `community,
    * n_nodes, intra_edges, degree_sum, q_ppm`. */
  def modularity(edges: DataFrame, labels: DataFrame, srcCol: String,
                 dstCol: String, nodeCol: String, labelCol: String): DataFrame = {
    Search.requireIntegralId(edges, srcCol, "modularity", role = "src id")
    Search.requireIntegralId(edges, dstCol, "modularity", role = "dst id")
    Search.requireIntegralId(labels, nodeCol, "modularity", role = "node id")
    Search.requireIntegralId(labels, labelCol, "modularity", role = "label")
    val dec = "decimal(38,0)"
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val und = Materialize.cutLazy(
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    // checkpointed: the label frame is read THREE times (both endpoint
    // joins + the community-size rollup), and `labels` is typically the
    // LAZY multi-round labelPropagation plan — without the checkpoint the
    // whole iteration chain re-evaluates per reference (measured: the
    // modularity bench query paid ~2.5× the LP cost). Node-sized. r16:
    // lazy checkpoints — every reader lives under the caller's single
    // action, which computes each shared RDD once with no standalone
    // cut jobs.
    val lab = Materialize.cutLazy(
      labels.select(col(nodeCol).cast("long").as("__n"),
          col(labelCol).cast("long").as("__l"))
        .groupBy("__n").agg(min("__l").as("__l")))
    def labelOf(side: String) = lab
      .withColumnRenamed("__n", side).withColumnRenamed("__l", s"__l$side")
    // checkpointed: total/intra/degree-sum all read this frame — without
    // it the edge⋈label join would run three times
    val withL = Materialize.cutLazy(und.join(labelOf("a"), Seq("a"), "left")
      .join(labelOf("b"), Seq("b"), "left")
      .select(
        when(col("__la").isNotNull && col("__lb").isNotNull,
          struct(col("__la"), col("__lb")))
          .otherwise(raise_error(concat(lit("modularity: unlabeled endpoint on edge ("),
            col("a").cast("string"), lit(", "), col("b").cast("string"), lit(")"))))
          .as("__ll"))
      .select(col("__ll.__la").as("__la"), col("__ll.__lb").as("__lb")))
    val total = withL.agg(count(lit(1)).cast(dec).as("__m"))
    val intra = withL.where(col("__la") === col("__lb"))
      .groupBy(col("__la").as("__l")).agg(count(lit(1)).as("intra_edges"))
    val degSum = withL.select(explode(array(col("__la"), col("__lb"))).as("__l"))
      .groupBy("__l").agg(count(lit(1)).as("degree_sum"))
    val nNodes = lab.groupBy("__l").agg(count(lit(1)).as("n_nodes"))
    nNodes.join(degSum, Seq("__l"), "left")
      .join(intra, Seq("__l"), "left")
      .crossJoin(broadcast(total))
      .select(col("__l").as("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        col("__m"),
        ((lit(4).cast(dec) * col("__m") * coalesce(col("intra_edges"), lit(0L)).cast(dec)
          - coalesce(col("degree_sum"), lit(0L)).cast(dec)
            * coalesce(col("degree_sum"), lit(0L)).cast(dec)) * lit(1000000).cast(dec))
          .as("__num"))
      .withColumn("q_ppm",
        expr("CAST(__num DIV (4 * __m * __m) AS BIGINT)"))
      .drop("__num", "__m")
  }

  /** Shared core of [[triangleCounts]] / [[clusteringCoefficient]]:
    * (canonical undirected edges, degree frame, per-node triangle
    * counts). */
  /** HITS hubs & authorities (Kleinberg '99) in INTEGER fixed-point:
    * per round, authority(v) = Σ_{u→v} hub(u) then hub(u) = Σ_{u→v}
    * authority(v) — each half-round rescaled to total mass N·10⁶ by
    * `raw·N·10⁶ DIV Σraw` (sum normalization replaces the classic L2
    * norm: no sqrt, every step floor-exact, a fixed horizon is a pure
    * function of the input and bit-replayable by the unrolled-CTE
    * oracle). The data-pipeline read: in a crawl/citation graph hubs
    * are the index/directory pages and authorities the canonical
    * sources — a quality prior orthogonal to PageRank's single score.
    * Duplicate edges collapse (one vote per distinct edge).
    *
    * Plan shape: the edge set is materialized TWICE up front — once
    * partitioned by src (the authority half-round's join key) and once
    * by dst (the hub half-round's) — and every round reuses those two
    * exchanges (the pageRank O(1)-edge-passes discipline, doubled
    * because HITS alternates join sides). The raw per-half-round sums
    * are `Materialize.cut` BEFORE normalization: the normalizer
    * references its input twice (the scalar Σ and the per-node
    * division), which would double the logical plan per half-round —
    * the kCore diamond hazard, cut the same way. Normalization scalars
    * ride one-row frames broadcast-crossed in (the modularity pattern);
    * score frames are |V|-sized and join shuffle_hash, never a
    * per-round driver collect. Magnitude: raw ≤ N·10⁶, so
    * raw·N·10⁶ ≤ 10³⁰ at a billion nodes — DECIMAL(38,0)-exact.
    *
    * Output: `node, hub_ppm, auth_ppm` — a node with no out-edges has
    * hub 0, no in-edges authority 0. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    Search.requireIntegralId(edges, srcCol, "hits", role = "src id")
    Search.requireIntegralId(edges, dstCol, "hits", role = "dst id")
    val dec = "decimal(38,0)"
    // r16 optimization: every materialization here is a LAZY checkpoint
    // (shared RDD, blocks computed once inside the caller's single
    // action) — the eager-cut shape paid 4 upfront + 2-per-iteration
    // driver actions for frames whose multiple readers all live in the
    // same downstream plan. e0 feeds both partitioned edge frames and
    // the node set; raw score frames are read twice (sum + join) per
    // normalization.
    val e0 = Materialize.cutLazy(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
    val eBySrc = Materialize.cutLazy(e0.repartition(col("src")))
    val eByDst = Materialize.cutLazy(e0.repartition(col("dst")))
    val nodes = Materialize.cutLazy(
      e0.select(col("src").as("node")).union(e0.select(col("dst").as("node")))
        .distinct().repartition(col("node")))
    val nTotal = nodes.agg(count(lit(1)).cast(dec).as("__nn"))
    def normalized(raw: DataFrame, outCol: String): DataFrame = {
      val tot = raw.agg(sum(col("__r")).as("__t"))
      nodes.join(raw.hint("shuffle_hash"), Seq("node"), "left")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(nTotal))
        .select(col("node"),
          expr(s"CAST((coalesce(__r, CAST(0 AS $dec)) * __nn * 1000000) DIV __t AS $dec)")
            .as(outCol))
    }
    var hub = nodes.select(col("node"), lit(1000000L).cast(dec).as("h"))
    var auth: DataFrame = hub.select(col("node"), col("h").as("a"))
    for (_ <- 1 to iterations) {
      val araw = Materialize.cutLazy(
        eBySrc.join(hub.hint("shuffle_hash"), eBySrc("src") === hub("node"))
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("__r")))
      auth = normalized(araw, "a")
      val hraw = Materialize.cutLazy(
        eByDst.join(auth.hint("shuffle_hash"), eByDst("dst") === auth("node"))
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("__r")))
      hub = normalized(hraw, "h")
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("h").cast("long").as("hub_ppm"),
        col("a").cast("long").as("auth_ppm"))
  }

  /** k-TRUSS decomposition (Cohen 2008) by synchronous edge peeling:
    * every round SIMULTANEOUSLY removes each edge supported by fewer
    * than k−2 triangles in the surviving subgraph, to a checked
    * fixpoint — the EDGE-cohesion refinement of [[kCore]]: a k-core
    * can be a loose star-of-stars, a k-truss edge sits in k−2 actual
    * triangles, so the surviving subgraph is the "everybody mutually
    * co-occurs" structure (spam/template farms, genuinely bundled
    * products) with far higher precision than degree alone.
    * Simultaneous removal is deterministic (no peel order), so the
    * fixpoint is a pure function of the input and replayable by an
    * unrolled-CTE oracle (peeling only removes — extra unrolled rounds
    * past the fixpoint are no-ops on both sides).
    *
    * Per round: triangles enumerate via the degree-ordered orientation
    * (the [[triangleCounts]] machinery — wedge volume O(m^1.5)
    * regardless of hub skew), each triangle credits its THREE edges,
    * edges below support k−2 leave, survivors `Materialize.cut` (each
    * round reads the previous frame several times — the kCore diamond
    * discipline) with one scalar count per round for the fixpoint
    * test. A graph still peeling after `rounds` rounds fails LOUDLY
    * (truncated trusses are corrupt output, the CC rule). Output: the
    * surviving edges `a, b, support` (support measured in the FINAL
    * subgraph, ≥ k−2 by construction).
    *
    * Per-round cost tracks the TRIANGLE volume, not the edge count
    * (SCALE_PROBE: a dense 290k-edge co-purchase projection peels 2×
    * slower than a 10×-smaller thinned one), so the op PRE-FLIGHTS the
    * oriented wedge volume before peeling: with degree-ordered
    * orientation, out-degree is ≤ min(d_v, ⌊√(2m)⌋) (a vertex of degree
    * > √(2m) points only at vertices of degree ≥ its own, of which
    * there are < √(2m)), so `Σ_v C(min(d_v, ⌊√(2m)⌋), 2)` bounds the
    * round's wedge join from the degree profile alone — one cheap
    * aggregate, no wedges materialized. A bound above `maxWedgeBound`
    * fails LOUDLY (the CC round-cap style) naming the bound: the fix
    * is the knob every truss user already owns — thin the projection
    * first (minimum co-occurrence weight, the bipartiteProjection hub
    * guard); k-truss is the PRECISION pass, not the reducer. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             rounds: Int = 32, maxWedgeBound: Long = 2000000000L): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k-2 triangle support), got $k")
    require(rounds >= 1 && rounds <= 100, s"rounds must be in [1, 100], got $rounds")
    require(maxWedgeBound >= 1, s"maxWedgeBound must be >= 1, got $maxWedgeBound")
    Search.requireIntegralId(edges, srcCol, "kTruss", role = "src id")
    Search.requireIntegralId(edges, dstCol, "kTruss", role = "dst id")
    val minSup = (k - 2).toLong
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    var e = Materialize.cutLazy( // materialized by the pre-flight count
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    // wedge-volume pre-flight off the (already materialized) input edges:
    // one degree collapse + one scalar — decimal sums (a power-law tail's
    // Σ d(d−1) overflows BIGINT long before the wedge join would die)
    val m = e.count()
    if (m > 0) {
      val cap = math.max(1L, math.sqrt(2.0 * m).toLong)
      val bound = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("__d"))
        .agg(sum(expr(
          s"CAST(least(__d, ${cap}L) * (least(__d, ${cap}L) - 1) AS DECIMAL(38,0))"))
          .as("__w"))
        .collect()(0).getDecimal(0)
      val wedgeBound = bound.toBigInteger.shiftRight(1) // Σ C(·,2) = Σ d(d−1) / 2
      if (wedgeBound.compareTo(java.math.BigInteger.valueOf(maxWedgeBound)) > 0)
        throw new IllegalStateException(
          s"kTruss: oriented wedge bound $wedgeBound exceeds maxWedgeBound " +
            s"$maxWedgeBound on $m edges — the projection is too dense to " +
            "peel as-is; thin it first (minimum co-occurrence weight, " +
            "bipartiteProjection's hub guard) or raise maxWedgeBound")
    }
    def supports(cur: DataFrame): DataFrame = {
      val deg = cur.select(col("a").as("n")).union(cur.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val oriented =
        cur.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
          .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
          .select(
            when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
              struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
              .otherwise(
                struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
              .as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      val wedges = oriented.as("x").join(oriented.as("y"),
          col("x.u") === col("y.u") &&
            (col("x.dv") < col("y.dv") ||
              (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
        .select(col("x.u").as("tu"), col("x.v").as("tv"), col("y.v").as("tw"))
      val tri = wedges.join(
        oriented.select(col("u").as("tv"), col("v").as("tw")), Seq("tv", "tw"),
        "left_semi")
      tri.select(explode(array(
          struct(least(col("tu"), col("tv")).as("a"), greatest(col("tu"), col("tv")).as("b")),
          struct(least(col("tu"), col("tw")).as("a"), greatest(col("tu"), col("tw")).as("b")),
          struct(least(col("tv"), col("tw")).as("a"), greatest(col("tv"), col("tw")).as("b"))))
          .as("__e"))
        .groupBy(col("__e.a").as("a"), col("__e.b").as("b"))
        .agg(count(lit(1)).as("support"))
    }
    var prev = m
    var stable = prev == 0L
    var finalSup: Option[DataFrame] = None
    var r = 0
    while (r < rounds && !stable) {
      r += 1
      // the round's qualified supports are checkpointed ONCE and read
      // twice (the peel semi-join and, on the stable round, the output) —
      // the stable round's pre-filter frame IS supports(final subgraph)
      // because nothing changed, so no closing triangle pass is needed.
      // r16: both frames are LAZY checkpoints and next.count() is the
      // round's one materializing action (the eager shape paid three
      // driver actions per peel round)
      val sup = Materialize.cutLazy(
        supports(e).where(col("support") >= minSup))
      val next = Materialize.cutLazy(e.join(sup, Seq("a", "b"), "left_semi"))
      val cnt = next.count()
      if (cnt == prev || cnt == 0L) { stable = true; finalSup = Some(sup) }
      e = next
      prev = cnt
    }
    if (!stable)
      throw new IllegalStateException(
        s"kTruss: still peeling after $rounds rounds — raise rounds")
    finalSup match {
      case Some(sup) => e.join(sup, Seq("a", "b"))
        .select(col("a"), col("b"), col("support"))
      case None => e.select(col("a"), col("b"), lit(0L).as("support")) // empty input
    }
  }

  /** Degree ASSORTATIVITY (Newman 2002): the Pearson correlation of
    * endpoint degrees over the undirected edge set — do hubs link to
    * hubs (assortative, r > 0: social/collab graphs) or to leaves
    * (disassortative, r < 0: web/spam/star topologies)? A one-number
    * topology fingerprint that separates "organic link structure" from
    * "farm" long before community detection runs.
    *
    * Each undirected edge contributes BOTH orientations (the standard
    * symmetrization), so x and y are identically distributed and the
    * correlation reduces to `r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)` —
    * fully integral moments in DECIMAL(38,0), IEEE double at ONE pinned
    * final division (the trend/correlation rule), half-up ppm. A
    * degree-regular graph has zero variance → r undefined → NULL
    * (never a fake 0 — "no preference" and "no signal" differ).
    * Self-loops dropped, duplicate/reversed edges collapse.
    *
    * Plan: canonical dedup (cut — read by the degree rollup and the
    * pair build), one degree join per side, one moment aggregate.
    * Output (one row): `m_edges, r_ppm`. */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    Search.requireIntegralId(edges, srcCol, "assortativity", role = "src id")
    Search.requireIntegralId(edges, dstCol, "assortativity", role = "dst id")
    val dec = "decimal(38,0)"
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    // r16: lazy checkpoints (und → degree build + pair join; deg → both
    // endpoint joins) — computed once under the caller's action
    val und = Materialize.cutLazy(
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    val deg = Materialize.cutLazy(
      und.select(col("a").as("n")).union(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")))
    val pairs = und
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "__da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "__db"), "b")
      .select(explode(array(
        struct(col("__da").as("x"), col("__db").as("y")),
        struct(col("__db").as("x"), col("__da").as("y")))).as("__p"))
      .select(col("__p.x").cast(dec).as("__x"), col("__p.y").cast(dec).as("__y"))
    pairs.agg(count(lit(1)).cast(dec).as("__nn"),
        sum(col("__x")).as("__sx"), sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .where(col("__nn").isNotNull && col("__nn") > 0)
      .select((col("__nn") / 2).cast("long").as("m_edges"),
        when(col("__nn") * col("__sxx") - col("__sx") * col("__sx") === 0,
          lit(null).cast("long"))
          .otherwise(floor(
            (col("__nn") * col("__sxy") - col("__sx") * col("__sx")).cast("double")
              / (col("__nn") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
              * 1e6 + 0.5).cast("long"))
          .as("r_ppm"))
  }

  /** Link prediction by neighborhood overlap: for every NON-adjacent
    * pair at distance 2, the common-neighbor count and the neighborhood
    * Jaccard `|N(a)∩N(b)|·10⁶ DIV (d(a)+d(b)−|∩|)` in integer ppm —
    * the classic "you may also like / these entities are probably the
    * same" candidate generator (Liben-Nowell & Kleinberg '03), top-k by
    * (jaccard, then common count, ties to smallest pair).
    *
    * Plan: wedge join through the shared neighbor — adjacency (both
    * directions of each undirected edge) is hub-filtered and
    * materialized ONCE partitioned on the center key, so the self-join
    * reuses a single exchange on both sides (the bipartiteProjection
    * discipline); existing edges leave via one anti join on the
    * canonical (a < b) pair; degrees join back from the one degree
    * frame; top-k is a `TakeOrdered`, never a global sort
    * materialization. Centers of degree > `maxDegree` are EXCLUDED
    * before the self-join (a degree-d center emits d(d−1)/2 candidate
    * pairs carrying the least signal — the LSH maxBucket convention:
    * bounded deliberate loss over an unbounded shuffle; pairs whose
    * ONLY shared neighbors are such hubs go unscored, and common
    * counts never include hub centers). Jaccard denominators use FULL
    * degrees. Self-loops dropped, duplicate/reversed edges collapse.
    *
    * Output: `a, b, common, deg_a, deg_b, jaccard_ppm` (k rows). */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, maxDegree: Int = 1000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    Search.requireIntegralId(edges, srcCol, "linkPrediction", role = "src id")
    Search.requireIntegralId(edges, dstCol, "linkPrediction", role = "dst id")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    // r16: lazy checkpoints — und feeds the degree build, both adjacency
    // arms, the anti-join and the final joins; deg is read three times;
    // kept is both wedge-join sides. All readers live under the caller's
    // single action, each shared RDD computes once, no standalone cuts.
    val und = Materialize.cutLazy(
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    val deg = Materialize.cutLazy(
      und.select(col("a").as("n")).union(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")))
    val adj = und.select(col("a").as("n"), col("b").as("nbr"))
      .union(und.select(col("b").as("n"), col("a").as("nbr")))
    val kept = Materialize.cutLazy(
      adj.join(deg.where(col("d") <= maxDegree), Seq("n"), "left_semi")
        .repartition(col("n")))
    val cand = kept.as("x").join(kept.as("y"),
        col("x.n") === col("y.n") && col("x.nbr") < col("y.nbr"))
      .groupBy(col("x.nbr").as("a"), col("y.nbr").as("b"))
      .agg(count(lit(1)).as("common"))
      .join(und, Seq("a", "b"), "left_anti")
    cand
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "deg_a"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "deg_b"), "b")
      .withColumn("jaccard_ppm",
        expr("(common * 1000000) DIV (deg_a + deg_b - common)"))
      .select("a", "b", "common", "deg_a", "deg_b", "jaccard_ppm")
      .orderBy(col("jaccard_ppm").desc, col("common").desc, col("a"), col("b"))
      .limit(k)
  }

  private def triangleCore(edges: DataFrame, srcCol: String, dstCol: String,
                           op: String): (DataFrame, DataFrame, DataFrame) = {
    Search.requireIntegralId(edges, srcCol, op, role = "src id")
    Search.requireIntegralId(edges, dstCol, op, role = "dst id")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    // canonical undirected edge (min, max), deduped. r16: lazy
    // checkpoints (shared RDDs, computed once under the caller's action)
    val und = Materialize.cutLazy(
      e0.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct())
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by (degree, id): u = smaller endpoint in that total order
    val oriented = Materialize.cutLazy(
      und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
            .otherwise(
              struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
            .as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    // wedges u→v, u→w with v before w in the (deg, id) order, closed by
    // the oriented edge v→w
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("u"), col("x.v").as("v"), col("y.v").as("w"))
    val triangles = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"),
      "left_semi")
    val tri = triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    (und, deg, tri)
  }

  /** DIRECTED strongly connected components (r14) — the link-graph
    * question [[connectedComponents]] cannot answer (it ignores
    * direction): crawl-frontier loops, citation cycles, mutual-follow
    * cores. Forward-backward COLORING (Orzan '04 / the FW-BW family —
    * the distributed SCC method; Tarjan's stack walk is inherently
    * sequential), peeled to a CHECKED fixpoint:
    *
    * per peel round, on the still-live subgraph:
    *   0. TRIM (Slota et al. IPDPS'14): nodes with zero in- or zero
    *      out-degree in the live subgraph lie on no cycle — retired as
    *      singleton SCCs for a semi-join job each round (`trimRounds`
    *      bounds the layers peeled; output-identical either way);
    *   1. color f(v) = MIN node id forward-reachable from v (min-label
    *      propagation against edge direction to a checked fixpoint —
    *      every SCC is monochrome, and the class label m has f(m) = m);
    *   2. forward reach FROM each pivot m within its color class (flag
    *      propagation along same-color edges to a checked fixpoint);
    *   3. reached nodes are exactly SCC(m) (v→*m by the color, m→*v by
    *      the reach) — assign scc = m, remove, repeat.
    *
    * The final label is CANONICAL: when v is assigned, every smaller
    * reachable node outside its SCC has already peeled away, so
    * f(v) = min(SCC(v)) — the same unique labeling any correct SCC
    * algorithm produces, which is what lets a generic DuckDB
    * mutual-reachability closure oracle-gate the output with no
    * round-structure replay.
    *
    * Budgets: `maxPeels` bounds peel rounds (needed rounds = depth of
    * the condensation DAG in min-label order — small for real link
    * graphs, whose mass sits in one giant SCC + shallow periphery);
    * `maxHops` bounds each propagation fixpoint (the live subgraph's
    * directed diameter). BOTH fail loudly on truncation — a truncated
    * SCC answer is silently wrong everywhere downstream.
    *
    * Plan: edges deduped + materialized ONCE; per peel the live edge
    * frame is cut once and each fixpoint hop is one shuffle_hash join +
    * one groupBy on node-sized frames (the [[shortestPaths]] loop
    * discipline — full-outer merge with an improved flag, one action per
    * hop). State never exceeds |live nodes| rows per frame. Output:
    * `node, scc` (scc = min node id of the component; isolated nodes
    * appear only if they carry a self-loop edge). */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
                                  dstCol: String, maxPeels: Int = 12,
                                  maxHops: Int = 40,
                                  trimRounds: Int = 3): DataFrame = {
    require(maxPeels >= 1 && maxPeels <= 64,
      s"maxPeels must be in [1, 64], got $maxPeels")
    require(maxHops >= 1 && maxHops <= 200,
      s"maxHops must be in [1, 200], got $maxHops")
    require(trimRounds >= 0 && trimRounds <= 64,
      s"trimRounds must be in [0, 64], got $trimRounds")
    Search.requireIntegralId(edges, srcCol, "stronglyConnectedComponents", role = "src id")
    Search.requireIntegralId(edges, dstCol, "stronglyConnectedComponents", role = "dst id")
    val e0 = Materialize.cut(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    var live = Materialize.cut(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    val spark = edges.sparkSession
    var acc: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("scc",
          org.apache.spark.sql.types.LongType, nullable = false))))
    var peel = 0
    var liveCount = live.count()
    while (liveCount > 0) {
      peel += 1
      if (peel > maxPeels) throw new IllegalStateException(
        s"stronglyConnectedComponents: $liveCount nodes unassigned after " +
          s"$maxPeels peel rounds — condensation deeper than the budget; " +
          "raise maxPeels (never truncate an SCC answer)")
      // ---- 0. TRIM prepass (Slota, Rajamanickam & Madduri IPDPS'14
      // FW-BW-Trim): a live node with zero in- or zero out-degree in
      // the live-induced subgraph lies on no cycle, so it is a
      // SINGLETON SCC with its canonical label = itself — retire it for
      // one semi-join job instead of a color-fixpoint seat. Rounds are
      // bounded (a long tail retires one layer per round); whatever the
      // budget leaves behind, the color pass below still handles —
      // trim is output-identical by construction, pure peel-cost relief
      // on periphery-heavy graphs.
      var trim = 0
      var trimming = trimRounds > 0
      while (trimming && liveCount > 0) {
        trim += 1
        val eT = Materialize.cutLazy(
          e0.join(live, e0("src") === live("node"), "left_semi")
            .join(live, e0("dst") === live("node"), "left_semi"))
        val core = Materialize.cutLazy(
          eT.select(col("src").as("node")).distinct()
            .join(eT.select(col("dst").as("node")).distinct(),
              Seq("node"), "left_semi"))
        val coreCount = core.count() // materializes eT + core, one job
        if (coreCount < liveCount) {
          // deferred: nothing reads the trimmed singletons until the
          // final acc cut, and eT/core blocks are already materialized
          acc = acc.union(
            live.join(core, Seq("node"), "left_anti")
              .select(col("node"), col("node").as("scc")))
          live = core
          liveCount = coreCount
        } else trimming = false
        if (trim >= trimRounds) trimming = false
      }
      // an empty post-trim live set falls through: the color/reach
      // passes are no-op jobs on empty frames and the outer loop exits
      val eL = Materialize.cut(
        e0.join(live, e0("src") === live("node"), "left_semi")
          .join(live, e0("dst") === live("node"), "left_semi"))
      // ---- 1. forward-min color to a checked fixpoint ----
      var f = live.select(col("node"), col("node").as("f"))
      var hop = 0
      var changed = 1L
      while (changed > 0) {
        hop += 1
        if (hop > maxHops) throw new IllegalStateException(
          s"stronglyConnectedComponents: color propagation not settled " +
            s"after $maxHops hops (peel $peel) — raise maxHops")
        val cand = eL.as("__e")
          .join(f.as("__f").hint("shuffle_hash"), col("__e.dst") === col("__f.node"))
          .groupBy(col("__e.src").as("node")).agg(min(col("__f.f")).as("__nf"))
        // cutLazy: the convergence count below is the materializing job
        val merged = Materialize.cutLazy(
          f.join(cand.hint("shuffle_hash"), Seq("node"), "left")
            .select(col("node"),
              least(col("f"), coalesce(col("__nf"), col("f"))).as("f"),
              (col("__nf").isNotNull && col("__nf") < col("f")).as("__imp")))
        changed = merged.where(col("__imp")).count()
        f = merged.select("node", "f")
      }
      // ---- 2. reach from pivots along same-color edges, checked ----
      val fe = Materialize.cut(
        eL.join(f.withColumnRenamed("node", "src").withColumnRenamed("f", "__fs"), Seq("src"))
          .join(f.withColumnRenamed("node", "dst").withColumnRenamed("f", "__fd"), Seq("dst"))
          .where(col("__fs") === col("__fd"))
          .select(col("src"), col("dst")))
      var reached = Materialize.cut(
        f.where(col("node") === col("f")).select(col("node")))
      var reachedCount = reached.count()
      hop = 0
      changed = 1L
      while (changed > 0) {
        hop += 1
        if (hop > maxHops) throw new IllegalStateException(
          s"stronglyConnectedComponents: pivot reach not settled after " +
            s"$maxHops hops (peel $peel) — raise maxHops")
        val nxt = fe.join(reached.hint("shuffle_hash"),
            fe("src") === reached("node"))
          .select(col("dst").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti")
        val grown = Materialize.cutLazy(reached.union(nxt))
        val grownCount = grown.count()
        changed = grownCount - reachedCount
        reachedCount = grownCount
        reached = grown
      }
      // both lazily cut: the ONE liveCount job computes (and persists)
      // newly as the anti-join's build side on the way to live
      val newly = Materialize.cutLazy(
        f.join(reached, Seq("node"), "left_semi")
          .select(col("node"), col("f").as("scc")))
      acc = acc.union(newly)
      live = Materialize.cutLazy(live.join(newly, Seq("node"), "left_anti"))
      liveCount = live.count()
    }
    Materialize.cut(acc)
  }

  /** DETERMINISTIC RANDOM WALKS (r14) — the DeepWalk/node2vec corpus
    * export (Perozzi et al. KDD'14): one fixed-length walk from every
    * node with out-edges, the sequences that graph-embedding trainers
    * consume as sentences. Steps are md5-DERIVED, not sampled: at step
    * t from node v on the walk started at s, the next hop is the
    * neighbor with rank `1 + h60("rw:"∥s∥":"∥t∥":"∥v) mod outdeg(v)`
    * (neighbors ranked by dst id) — a pure function of the input, so
    * the whole walk corpus hash-gates AND re-runs byte-identically on
    * resume (the samplePerGroup determinism argument applied to walk
    * sampling; statistically it is hash-uniform neighbor choice, which
    * is exactly what DeepWalk's uniform step wants). Walks reaching a
    * sink (no out-edges) stop early — their rows simply end.
    *
    * Plan: the ranked adjacency (rank + outdeg on ONE src-partitioned
    * window) materializes once; each step is one shuffle_hash join of
    * the walk frontier against it. Output rows are walk positions
    * `(start, step, node)` with step 0 = the start itself — output
    * size = Σ walk lengths, the export's intrinsic cost. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  walkLen: Int = 4, salt: String = "rw"): DataFrame = {
    require(walkLen >= 1 && walkLen <= 64,
      s"walkLen must be in [1, 64], got $walkLen")
    Search.requireIntegralId(edges, srcCol, "randomWalks", role = "src id")
    Search.requireIntegralId(edges, dstCol, "randomWalks", role = "dst id")
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val w = Window.partitionBy("src").orderBy("dst")
    // r16: lazy checkpoints throughout — the walk is a fixed-length
    // chain whose readers (next step's join + the closing union) all
    // live under the caller's action; no standalone cut jobs
    val nbrs = Materialize.cutLazy(
      e0.withColumn("__rank", row_number().over(w).cast("long"))
        .withColumn("__deg",
          count(lit(1)).over(Window.partitionBy("src")).cast("long")))
    def h60(start: org.apache.spark.sql.Column, t: Int,
            cur: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(concat(lit(salt), lit(":"),
        start.cast("string"), lit(":"), lit(t.toString), lit(":"),
        cur.cast("string"))), 1, 15), 16, 10).cast("long")
    var frontier = Materialize.cutLazy(
      nbrs.select(col("src").as("start")).distinct()
        .withColumn("cur", col("start")))
    var acc = frontier.select(col("start"), lit(0L).as("step"),
      col("cur").as("node"))
    for (t <- 1 to walkLen) {
      val nxt = Materialize.cutLazy(
        frontier.join(nbrs.hint("shuffle_hash"),
            frontier("cur") === nbrs("src") &&
              nbrs("__rank") === (h60(frontier("start"), t, frontier("cur"))
                % nbrs("__deg")) + 1L)
          .select(col("start"), col("dst").as("cur")))
      acc = acc.union(nxt.select(col("start"), lit(t.toLong).as("step"),
        col("cur").as("node")))
      frontier = nxt
    }
    acc
  }

  /** CONDENSATION of the directed graph (r14) — the SCC quotient DAG
    * with LONGEST-PATH levels: contract every strongly connected
    * component of [[stronglyConnectedComponents]] to one node, keep the
    * distinct cross-component edges, and assign each component its
    * topological DEPTH (0 = no incoming cross edges; else 1 + the max
    * level of its predecessors). The link-graph readout SCC alone
    * doesn't give: how DEEP the flow structure runs (crawl frontier
    * tiers, citation generations, dependency strata) and which
    * components are the sources/sinks of it.
    *
    * Levels by iterative max-relaxation to a CHECKED fixpoint: the
    * condensation is a DAG by construction, so the loop settles within
    * its depth; `maxLevels` is the loud budget (exceeding it would mean
    * a cycle survived the SCC pass — a correctness failure to surface,
    * never to absorb). Per round one shuffle_hash join of the
    * component-sized level frame against the condensed edges + one
    * groupBy — both orders of magnitude smaller than the input graph.
    * Output: one row per component — `scc, n_members, level`. */
  def condensationLevels(edges: DataFrame, srcCol: String, dstCol: String,
                         maxPeels: Int = 12, maxHops: Int = 40,
                         maxLevels: Int = 64): DataFrame = {
    require(maxLevels >= 1 && maxLevels <= 1024,
      s"maxLevels must be in [1, 1024], got $maxLevels")
    val scc = stronglyConnectedComponents(edges, srcCol, dstCol, maxPeels, maxHops)
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val ce = Materialize.cutLazy( // materialized by round 1's count
      e0.join(scc.withColumnRenamed("node", "src").withColumnRenamed("scc", "__cs"), Seq("src"))
        .join(scc.withColumnRenamed("node", "dst").withColumnRenamed("scc", "__cd"), Seq("dst"))
        .where(col("__cs") =!= col("__cd"))
        .select(col("__cs"), col("__cd")).distinct())
    var lvl = Materialize.cutLazy(
      scc.select(col("scc")).distinct().withColumn("level", lit(0L)))
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      if (round > maxLevels) throw new IllegalStateException(
        s"condensationLevels: levels still rising after $maxLevels rounds " +
          "— a cycle survived the SCC pass (correctness failure) or the " +
          "DAG is deeper than the budget; raise maxLevels")
      val cand = ce.join(lvl.hint("shuffle_hash"), ce("__cs") === lvl("scc"))
        .groupBy(col("__cd").as("scc"))
        .agg((max(col("level")) + 1L).as("__nl"))
      val merged = Materialize.cutLazy(
        lvl.join(cand.hint("shuffle_hash"), Seq("scc"), "left")
          .select(col("scc"),
            greatest(col("level"), coalesce(col("__nl"), col("level"))).as("level"),
            (col("__nl").isNotNull && col("__nl") > col("level")).as("__imp")))
      changed = merged.where(col("__imp")).count()
      lvl = merged.select("scc", "level")
    }
    scc.groupBy("scc").agg(count(lit(1)).as("n_members"))
      .join(lvl, Seq("scc"))
      .select("scc", "n_members", "level")
  }
}
