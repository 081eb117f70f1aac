package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShim => E}

import graft.functions.{CosineSim, Mix}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with the (small) query set broadcast —
  * one pass over the corpus, no corpus shuffle except the final per-query
  * top-k (a window over query_id). Scale path: random-hyperplane LSH
  * bucketing; corpus shuffles once on bucket id, queries probe their own
  * bucket per table. At 100 TB the corpus-side work is the budget — both
  * paths read the corpus exactly once.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column =
    E.column(CosineSim(E.expression(a), E.expression(b)))

  /** floor(1e9 × quantized cosine) — deterministic rank key. */
  def cosScaled(qa: Column, qb: Column): Column =
    floor(lit(1e9) * Dedup.quantizedCosine(qa, qb)).cast("long")

  private def qdot(a: Column, b: Column): Column =
    E.column(graft.functions.QuantizedDot(E.expression(a), E.expression(b)))

  /** √(q·q) as a per-ROW column: the norm factors of the cosine depend
    * on one side only, so the all-pairs ops hoist them out of the join —
    * one norm loop per row instead of two per PAIR (the dot stays per
    * pair; it is the irreducible work). Value-identical to computing the
    * norm inside [[cosScaled]]: same long self-dot, same sqrt double. */
  private def qnorm(q: Column): Column = sqrt(qdot(q, q).cast("double"))

  /** [[cosScaled]] with the per-row norms precomputed — bit-identical
    * (`dot/(na·nb)` over the same doubles), one loop per pair. */
  private def cosScaledPre(qa: Column, qb: Column, na: Column,
                           nb: Column): Column =
    floor(lit(1e9) * (qdot(qa, qb).cast("double") / (na * nb))).cast("long")

  /** Brute-force top-k neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cos_scaled). Deterministic:
    * quantized cosine + id tie-break. Queries are broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), Dedup.quantize(col(vecCol)).as("__qc"))
      .withColumn("__nc", qnorm(col("__qc")))
    val q = queries.select(col(idCol).as("query_id"), Dedup.quantize(col(vecCol)).as("__qq"))
      .withColumn("__nq", qnorm(col("__qq")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_scaled",
        cosScaledPre(col("__qq"), col("__qc"), col("__nq"), col("__nc")))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training data: for each query
    * id appearing in `positives`, the top-k corpus neighbors by exact
    * quantized cosine EXCLUDING the query itself and its known positives
    * — the highest-similarity non-matches are exactly the negatives a
    * retrieval/embedding model learns most from (in-batch random
    * negatives are trivially far at scale).
    *
    * `positives` is a directed pair frame (`queryCol`, `posCol`); it is
    * the labeled training set, so it is BOUNDED and both it and the
    * derived query-vector frame broadcast — the corpus is read once,
    * never shuffled except the bounded per-query top-k aggregate
    * ([[bruteForceTopK]]'s TopKPairs discipline: ≤ k entries per task
    * cross the shuffle). Exact by design (the mined negatives define the
    * training set — a recall miss here IS a label error); at corpus
    * scales where exact is too hot, block first (IVF/LSH) and pass the
    * candidate slice as `corpus`.
    *
    * Output: (query_id, rank, neighbor_id, cos_scaled), deterministic via
    * the quantized-cosine + smaller-id tie-break.
    *
    * `blocking`: optional candidate (`query_id`, `neighbor_id`) pairs
    * (e.g. [[ivfCandidates]] over the corpus with the query cohort as
    * queries) — scores only those pairs instead of query × corpus, the
    * path once the corpus outgrows the exhaustive scan; positives are
    * still excluded and the rerank is exact over the slice. */
  def hardNegatives(corpus: DataFrame, positives: DataFrame, idCol: String,
                    vecCol: String, queryCol: String, posCol: String,
                    k: Int, blocking: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Search.requireIntegralId(corpus, idCol, "hardNegatives")
    Search.requireIntegralId(positives, queryCol, "hardNegatives", role = "query id")
    Search.requireIntegralId(positives, posCol, "hardNegatives", role = "positive id")
    val pos = positives.select(col(queryCol).cast("long").as("query_id"),
      col(posCol).cast("long").as("neighbor_id")).distinct()
    val q = corpus.join(pos.select(col("query_id")).distinct(),
        col(idCol).cast("long") === col("query_id"), "left_semi")
      .select(col(idCol).cast("long").as("query_id"), Dedup.quantize(col(vecCol)).as("__qq"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      Dedup.quantize(col(vecCol)).as("__qc"))
    val scored = blocking match {
      case None =>
        c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .join(broadcast(pos), Seq("query_id", "neighbor_id"), "left_anti")
          .withColumn("cos_scaled", cosScaled(col("__qq"), col("__qc")))
      case Some(cands) if cands.columns.contains("cos_scaled") =>
        // pre-scored ([[ivfScoredPairs]] with the query cohort as queries):
        // restrict to the cohort (a self-probe candidate frame carries
        // every id as a query), exclude positives, rank — no per-pair
        // vector join
        cands.select(col("query_id").cast("long"),
            col("neighbor_id").cast("long"), col("cos_scaled").cast("long"))
          .where(col("query_id") =!= col("neighbor_id"))
          .distinct()
          .join(broadcast(pos.select("query_id").distinct()), Seq("query_id"), "left_semi")
          .join(broadcast(pos), Seq("query_id", "neighbor_id"), "left_anti")
      case Some(cands) =>
        cands.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
          .where(col("query_id") =!= col("neighbor_id"))
          .distinct()
          .join(broadcast(q), "query_id") // the labeled cohort stays bounded
          .join(c, "neighbor_id")
          .join(broadcast(pos), Seq("query_id", "neighbor_id"), "left_anti")
          .withColumn("cos_scaled", cosScaled(col("__qq"), col("__qc")))
    }
    topKPerQuery(scored, k)
  }

  /** Mutual top-1 nearest neighbors ACROSS two corpora — the parallel-pair
    * mining primitive (bitext mining per Artetxe & Schwenk 2019's
    * mutual-kNN criterion at k = 1, also the standard image↔caption and
    * duplicate-profile linker): pair (a, b) survives iff b is a's nearest
    * neighbor in `right` AND a is b's nearest in `left`. Mutuality is the
    * cheap high-precision filter — a hub vector that is "nearest" to
    * everything fails the reverse test and drops out, no tuned threshold
    * required.
    *
    * Exact quantized cosine (bit-replayable; ties by SMALLER id on both
    * directions). Both argmaxes are max(struct(cos, −id)) AGGREGATES over
    * the scored frame — k = 1 needs no TopKPairs state and no window sort;
    * partial aggregation reduces each task's slice to one struct per query
    * before the shuffle. The scored frame materializes once and feeds both
    * directions.
    *
    * Scale contract (the [[knnAccuracy]] convention): scoring is exact
    * all-pairs with the `left` cohort broadcast — right-sized for the
    * bounded cohorts mining jobs actually run (a language pair's candidate
    * slice, a day's crawl against a catalog) and GUARDED by
    * `maxUnblockedLeft` — a left cohort past the bound fails LOUDLY
    * before anything broadcasts (r15; a skipped `blocking` argument must
    * never silently broadcast a corpus). At corpus×corpus scale, block
    * first (IVF cells via [[assignClusters]], or LSH buckets) and
    * run this op per block — mined pairs are labels, so the final pairing
    * stays exact within blocks.
    *
    * Output: (id_a, id_b, cos_scaled), one row per mutual pair.
    *
    * `blocking`: an optional candidate-pair frame (`id_a`, `id_b`) — e.g.
    * [[ivfCrossCandidates]] in each direction, which is what
    * [[mutualNearestIvf]] wires up — that replaces the broadcast
    * all-pairs score with shuffle equi-joins over ONLY those pairs, the
    * corpus×corpus scale path. Argmaxes then run over the candidate
    * slice: exact whenever the blocking contains each side's true
    * nearest pair (planted-twin spec), recall-bounded otherwise. */
  def mutualNearest(left: DataFrame, right: DataFrame, idCol: String,
                    vecCol: String,
                    blocking: Option[DataFrame] = None,
                    maxUnblockedLeft: Int = 100000): DataFrame = {
    Search.requireIntegralId(left, idCol, "mutualNearest", role = "left id")
    Search.requireIntegralId(right, idCol, "mutualNearest", role = "right id")
    val a = left.select(col(idCol).cast("long").as("id_a"),
      Dedup.quantize(col(vecCol)).as("__qa"))
      .withColumn("__na", qnorm(col("__qa")))
    val b = right.select(col(idCol).cast("long").as("id_b"),
      Dedup.quantize(col(vecCol)).as("__qb"))
      .withColumn("__nb", qnorm(col("__qb")))
    // NULL cosines (a NULL vector, or the wrong-model-version join where
    // dimensions mismatch and zip_with NULL-pads the dot) must not reach
    // the argmax: max(struct(NULL, -id)) degenerates to min-id selection
    // and would emit garbage "pairs". Dropping them means a full
    // dimension mismatch yields an EMPTY result, and a corrupt vector
    // simply cannot pair — never id-order noise dressed as labels.
    val scored0 = blocking match {
      case None =>
        // LOUD size guard (r14 verdict: the unblocked default was the
        // API's one scale-killer shape — a caller who skips `blocking`
        // broadcasts an entire corpus). The probe is limit-bounded so
        // checking costs one capped scan, never a full count; the
        // failure names the scale paths (the maxChannels pattern).
        val probed = left.limit(maxUnblockedLeft + 1).count()
        require(probed <= maxUnblockedLeft,
          s"mutualNearest: blocking=None scores exact all-pairs with the " +
            s"left cohort BROADCAST, and the left side exceeds " +
            s"$maxUnblockedLeft rows — at corpus x corpus scale pass " +
            "`blocking` (ivfCrossCandidates / LSH buckets) or use " +
            "mutualNearestIvf; for a genuinely bounded cohort raise " +
            "maxUnblockedLeft explicitly")
        b.join(broadcast(a), lit(true))
          .select(col("id_a"), col("id_b"),
            cosScaledPre(col("__qa"), col("__qb"), col("__na"), col("__nb"))
              .as("cos_scaled"))
          .where(col("cos_scaled").isNotNull)
      case Some(cands) if cands.columns.contains("cos_scaled") =>
        // pre-scored candidates ([[ivfScoredPairs]]): pairs arrive 24
        // bytes wide and vectors never join per pair — the scale path
        cands.select(col("id_a").cast("long"), col("id_b").cast("long"),
          col("cos_scaled").cast("long")).distinct()
      case Some(cands) =>
        // unscored pair frame: score by joining the vectors back — fine
        // for modest candidate sets; at corpus scale pass SCORED pairs
        // (per-pair vector joins sort ~0.5 KB rows per candidate)
        cands.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .distinct()
          .join(a, "id_a").join(b, "id_b")
          .select(col("id_a"), col("id_b"),
            cosScaledPre(col("__qa"), col("__qb"), col("__na"), col("__nb"))
              .as("cos_scaled"))
          .where(col("cos_scaled").isNotNull)
    }
    val scored = Materialize.cutLazy(scored0)
    val bestRight = scored.groupBy("id_a")
      .agg(max(struct(col("cos_scaled"), (-col("id_b")).as("__n"))).as("__m"))
      .select(col("id_a"), (-col("__m.__n")).as("id_b"),
        col("__m.cos_scaled").as("cos_scaled"))
    val bestLeft = scored.groupBy("id_b")
      .agg(max(struct(col("cos_scaled"), (-col("id_a")).as("__n"))).as("__m"))
      .select((-col("__m.__n")).as("id_a"), col("id_b"))
    bestRight.join(bestLeft, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("cos_scaled"))
  }

  /** [[mutualNearest]] at corpus×corpus scale: IVF-blocked candidates
    * scored at the list join ([[ivfScoredPairs]]), mutuality over the
    * blocked slice. Candidates are the UNION of both directions' scored
    * probes — each side's argmax domain is covered by its OWN quantizer
    * (trained on the opposite corpus), so a pair survives exactly when
    * both probes find it; with tight clusters and nProbe lists covering
    * them this is ≡ exact (spec), and in general recall is the IVF probe
    * recall, not a mutuality artifact. Nothing broadcasts a corpus and no
    * vector is shipped per pair — the plan a 1000-executor pair-mining
    * job needs. */
  def mutualNearestIvf(left: DataFrame, right: DataFrame, idCol: String,
                       vecCol: String, nLists: Int = 64, nProbe: Int = 8,
                       sampleSize: Int = 10000, iters: Int = 10): DataFrame = {
    val fwd = ivfScoredPairs(right, left, idCol, vecCol, nLists, nProbe,
        sampleSize, iters, excludeSelf = false)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos_scaled"))
    val rev = ivfScoredPairs(left, right, idCol, vecCol, nLists, nProbe,
        sampleSize, iters, excludeSelf = false)
      .select(col("neighbor_id").as("id_a"), col("query_id").as("id_b"),
        col("cos_scaled"))
    // the two directions score identical bits for a shared pair (dot of
    // longs + commuting norm product), so the union dedupes on the row
    mutualNearest(left, right, idCol, vecCol,
      blocking = Some(fwd.union(rev)))
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram benchmark gate ([[TextAnalysis]] decontamination): flag every
    * corpus vector whose nearest BENCHMARK embedding clears a cosine
    * threshold — paraphrased/reformatted eval items that share no 8-gram
    * but embed next to their source. Exact by design (a decontamination
    * miss ships an eval item into training data): the benchmark side is
    * bounded by construction (an eval suite, thousands not billions) and
    * broadcasts; the corpus is read once, never shuffled except the
    * per-vector argmax (partial-aggregated — one struct per vector per
    * task). Same quantized-cosine bits as the whole embedding family, so
    * the verdict hash-gates; NULL cosines drop (the mutualNearest rule),
    * so a corpus vector of the wrong model version simply cannot match.
    * Output: `vec_id, bench_id (nearest, ties smaller id), cos_scaled,
    * contaminated`. */
  def semanticDecontam(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                       vecCol: String, thresholdScaled: Long): DataFrame = {
    Search.requireIntegralId(corpus, idCol, "semanticDecontam")
    Search.requireIntegralId(benchmark, idCol, "semanticDecontam", role = "benchmark id")
    val c = corpus.select(col(idCol).cast("long").as("vec_id"),
      Dedup.quantize(col(vecCol)).as("__qc"))
      .withColumn("__nc", qnorm(col("__qc")))
    val b = benchmark.select(col(idCol).cast("long").as("bench_id"),
      Dedup.quantize(col(vecCol)).as("__qb"))
      .withColumn("__nb", qnorm(col("__qb")))
    c.join(broadcast(b), lit(true))
      .select(col("vec_id"), col("bench_id"),
        cosScaledPre(col("__qc"), col("__qb"), col("__nc"), col("__nb")).as("__cos"))
      .where(col("__cos").isNotNull)
      .groupBy("vec_id")
      .agg(max(struct(col("__cos"), (-col("bench_id")).as("__n"))).as("__m"))
      .select(col("vec_id"), (-col("__m.__n")).as("bench_id"),
        col("__m.__cos").as("cos_scaled"),
        (col("__m.__cos") >= thresholdScaled).as("contaminated"))
  }

  /** Per-query top-k as a TWO-PHASE aggregation (TopKPairs under
    * ObjectHashAggregate): each task partial-aggregates its slice of a
    * query's scored rows down to ≤ k entries map-side, so only k-sized
    * states shuffle. The `row_number() OVER (PARTITION BY query_id)` form
    * this replaces shipped ALL scored rows of a query to one reducer —
    * for bruteForceTopK that was the whole corpus per query. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topAgg = E.column(graft.functions.TopKPairs(
      E.expression(col("cos_scaled").cast("long")),
      E.expression(col("neighbor_id").cast("long")), k).toAggregateExpression())
    scored
      .groupBy("query_id").agg(topAgg.as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as("neighbor_id"), col("__e.score").as("cos_scaled"))
  }

  /** LSH candidate pairs for [[lshTopKExact]] — exposed so callers (and
    * the recall spec) can measure candidate-set size against the N×Q
    * brute-force pair count. Buckets and margins are computed over the
    * QUANTIZED long vector against md5-h60-derived integer hyperplanes
    * ([[graft.functions.LshExactPlanes]]), so the whole candidate
    * generation — planes → dots → sign buckets → margin-ranked
    * multi-probe → bucket equi-join — replays in DuckDB. Corpus side: one
    * bucket per table per vector, one pass. Query side: multi-probe
    * (Lv et al., VLDB 2007), which buys recall on the query side only, so
    * the corpus is read and bucketed exactly once and the probe list is
    * broadcast. Candidates are deduped as bare id pairs before the
    * rerank joins vectors back. */
  def lshCandidatesExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, numTables: Int, numPlanes: Int,
                         dim: Int, probeBits: Int, probeRadius: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
        E.column(graft.functions.LshBucketsExact(
          E.expression(Dedup.quantize(col(vecCol))), numTables, numPlanes, dim)).as("__bs"))
      .select(col("neighbor_id"), posexplode(col("__bs")).as(Seq("table", "bucket")))
    val q = queries.select(col(idCol).as("query_id"),
        E.column(graft.functions.LshProbesExact(
          E.expression(Dedup.quantize(col(vecCol))), numTables, numPlanes, dim,
          probeBits, probeRadius)).as("__ps"))
      .select(col("query_id"), posexplode(col("__ps")).as(Seq("table", "__probes")))
      .select(col("query_id"), col("table"), explode(col("__probes")).as("bucket"))
    c.join(broadcast(q),
        c("table") === q("table") && c("bucket") === q("bucket") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
  }

  /** LSH-bucketed ANN (`ann_lsh_topk`): `numTables` independent hash
    * tables of `numPlanes` sign bits, query-side multi-probe
    * ([[lshCandidatesExact]]), candidates reranked by the shared
    * quantized cosine — every stage deterministic and DuckDB-replayable,
    * so the ranked output hash-gates. Output schema matches
    * bruteForceTopK; the recall floor is measured in PipelineSpec.
    *
    * Tuning at scale: numPlanes ≈ log2(corpus / target bucket size) — the
    * candidate fraction is ~(probes per table / 2^numPlanes) × numTables,
    * so planes must grow with the corpus; probeRadius then buys back the
    * per-table recall the extra planes cost. */
  def lshTopKExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, numTables: Int = 8,
                   numPlanes: Int = 10, dim: Int = 64,
                   probeBits: Int = 8, probeRadius: Int = 3): DataFrame = {
    val cands = lshCandidatesExact(corpus, queries, idCol, vecCol,
      numTables, numPlanes, dim, probeBits, probeRadius)
    rerank(cands, corpus, queries, idCol, vecCol, k)
  }

  /** Exact rerank of a (query_id, neighbor_id) candidate set: join the
    * vectors back (queries broadcast), score with the deterministic
    * quantized cosine, two-phase top-k. Shared tail of every ANN variant. */
  private def rerank(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     broadcastQueries: Boolean = true): DataFrame = {
    val qv0 = queries.select(col(idCol).as("query_id"), Dedup.quantize(col(vecCol)).as("__qq"))
    // broadcast only when the query cohort is bounded (the ANN top-k path);
    // blocked self-corpus ops rerank with queries = the WHOLE corpus, where
    // a broadcast would ship the corpus to every task — shuffle equi-join
    val qv = if (broadcastQueries) broadcast(qv0) else qv0
    val cv = corpus.select(col(idCol).as("neighbor_id"), Dedup.quantize(col(vecCol)).as("__qc"))
    val scored = cands
      .join(qv, "query_id")
      .join(cv, "neighbor_id")
      .withColumn("cos_scaled", cosScaled(col("__qq"), col("__qc")))
    topKPerQuery(scored, k)
  }

  // ---- IVF (inverted-file) ANN -----------------------------------------

  /** Deterministic driver-side SPHERICAL Lloyd k-means over a corpus
    * sample. The sample (a few MB) is the ONLY data that leaves the
    * executors; the resulting centroid table is a plan constant. Seeded
    * kmeans++-style init via splitmix64 → same centroids every run.
    *
    * Spherical, because assignment (NearestCentroids) probes by dot
    * product against unit-norm centroids — i.e. cosine. Training on raw
    * squared-Euclidean would optimize a different objective than the one
    * queries use (on unnormalized embeddings the two argmins diverge and
    * recall drops for a given nProbe). So: sample vectors are
    * unit-normalized before Lloyd, and centroids are re-normalized after
    * every mean update; on the unit sphere argmin ‖v−c‖² = argmax cos,
    * making training and assignment the same objective. */
  private[pipeline] def trainCentroids(sample: Array[Array[Float]], nLists: Int,
                                       iters: Int): Seq[Seq[Double]] = {
    require(sample.nonEmpty)
    val dim = sample.head.length
    val n = sample.length
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0) v else v.map(_ / norm)
    }
    val pts: Array[Array[Double]] = sample.map(v => unit(v.map(_.toDouble)))
    // init: distinct sample points picked by seeded hash
    val picked = scala.collection.mutable.LinkedHashSet[Int]()
    var s = 0L
    while (picked.size < math.min(nLists, n)) {
      picked += ((Mix.splitmix64(0xc3a7801dL + s) >>> 1) % n).toInt
      s += 1
    }
    var cents = picked.toArray.map(i => pts(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length, dim)(0.0)
      val counts = new Array[Int](cents.length)
      var i = 0
      while (i < n) {
        val v = pts(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c) // empty cluster: keep old centroid
        else unit(sums(c).map(_ / counts(c)))
      }
      it += 1
    }
    cents.map(_.toSeq).toSeq
  }

  /** Deterministic spherical-k-means cluster id per row — the IVF coarse
    * quantizer exposed standalone: the semantic blocking function for
    * [[Dedup.semanticDedup]], and useful on its own to shard a corpus by
    * content region. One driver-side training pass on a hash-spread
    * sample, then a single map-side assignment (plan-constant centroids);
    * the corpus is never shuffled. Output: (idCol, cluster). */
  def assignClusters(corpus: DataFrame, idCol: String, vecCol: String,
                     nClusters: Int = 64, sampleSize: Int = 10000,
                     iters: Int = 10): DataFrame = {
    val cents = trainCentroids(spreadSample(corpus, idCol, vecCol, sampleSize),
      nClusters, iters)
    corpus.select(col(idCol),
        E.column(graft.functions.NearestCentroids(
          E.expression(col(vecCol)), cents, 1)).as("__ls"))
      .select(col(idCol), col("__ls").getItem(0).as("cluster"))
  }

  /** [[assignClusters]]'s INTEGER-EXACT twin (r11): the
    * [[trainCentroidsExact]] quantizer exposed standalone — md5-h60
    * ("ivq:"∥id) spread sample, pure-long Lloyd on unit-quantized
    * vectors, [[graft.functions.NearestIntCentroids]] assignment with
    * smaller-id ties — so any op that BLOCKS on it (semanticDedup) can
    * hash-gate against a DuckDB unroll instead of rows-only. Rows whose
    * vector cannot be unit-quantized (NULL / zero norm / NaN-poisoned
    * quantization) take cluster −1: they cannot clear any cosine
    * threshold downstream, but they must not vanish from the corpus.
    * Output: (idCol, cluster). Same plan shape as [[assignClusters]]:
    * one TakeOrdered sample pass, driver Lloyd on ≤ sampleSize rows,
    * one map-side assignment — the corpus never shuffles. */
  def assignClustersExact(corpus: DataFrame, idCol: String, vecCol: String,
                          nClusters: Int = 64, sampleSize: Int = 10000,
                          iters: Int = 10): DataFrame = {
    val cents = trainCentroidsExact(
      spreadSampleUq(corpus, idCol, vecCol, sampleSize), nClusters, iters)
    corpus
      .withColumn("__uq", unitQuantizeFrom(Dedup.quantize(col(vecCol))))
      .withColumn("__ls", E.column(graft.functions.NearestIntCentroids(
        E.expression(col("__uq")), cents, 1)))
      .select(col(idCol),
        coalesce(col("__ls").getItem(0), lit(-1)).as("cluster"))
  }

  /** IVF candidate pairs: corpus assigned to its nearest centroid (one
    * map-side pass, `list` column), queries probe their `nProbe` nearest
    * lists. The centroid table is trained on `sampleSize` corpus rows
    * driver-side — the standard IVF coarse quantizer (FAISS-style),
    * deterministic here. Candidate fraction ≈ nProbe / nLists, so unlike
    * sign-LSH the pruning ratio is explicit and corpus-size-independent. */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nLists: Int = 64, nProbe: Int = 8,
                    sampleSize: Int = 10000, iters: Int = 10,
                    broadcastQueries: Boolean = true): DataFrame =
    // Training sample must be a SPREAD of the corpus, not its head: on real
    // corpora ingestion order correlates with content (crawl batches, source
    // shards), so `orderBy(id).limit(n)` would train centroids on one slice
    // of the distribution and recall would collapse (see spreadSample).
    // broadcastQueries=false = the self-probe blocking path, where the
    // "query" side is the whole corpus and the list join must shuffle.
    ivfCandidatesFrom(spreadSample(corpus, idCol, vecCol, sampleSize),
      corpus, queries, idCol, vecCol, nLists, nProbe, iters,
      broadcastQueries = broadcastQueries)

  /** The shared body of [[ivfCandidates]] and [[ivfCrossCandidates]],
    * which differ only in self-pair exclusion and in whether the query
    * side is broadcast. */
  private def ivfCandidatesFrom(sample: Array[Array[Float]], corpus: DataFrame,
                                queries: DataFrame, idCol: String, vecCol: String,
                                nLists: Int, nProbe: Int, iters: Int,
                                excludeSelf: Boolean = true,
                                broadcastQueries: Boolean = true): DataFrame = {
    val cents = trainCentroids(sample, nLists, iters)
    def assign(df: DataFrame, side: String, probes: Int): DataFrame =
      df.select(col(idCol).as(s"${side}_id"),
          E.column(graft.functions.NearestCentroids(
            E.expression(col(vecCol)), cents, probes)).as("__ls"))
        .select(col(s"${side}_id"), explode(col("__ls")).as("list"))
    val c = assign(corpus, "neighbor", 1)
    val q0 = assign(queries, "query", nProbe)
    val q = if (broadcastQueries) broadcast(q0) else q0
    val cond =
      if (excludeSelf) c("list") === q0("list") && col("query_id") =!= col("neighbor_id")
      else c("list") === q0("list")
    c.join(q, cond)
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
  }

  /** CROSS-corpus IVF candidate pairs — the blocking stage for the exact
    * embedding ops ([[mutualNearest]], [[hardNegatives]],
    * [[tripletMining]], [[knnLabelAccuracy]]) past their broadcast-cohort
    * contract. Differences from [[ivfCandidates]], both load-bearing:
    * equal ids are KEPT (in a cross-corpus pair (5, 5) names two distinct
    * objects — dropping it would silently unlink every id-aligned twin),
    * and the list join SHUFFLES instead of broadcasting the query side
    * (both sides are full corpora). Candidate fraction ≈ nProbe/nLists
    * per direction; raise nLists with corpus size so per-list candidate
    * blocks stay executor-bounded. */
  def ivfCrossCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, nLists: Int = 64, nProbe: Int = 8,
                         sampleSize: Int = 10000, iters: Int = 10): DataFrame =
    ivfCandidatesFrom(spreadSample(corpus, idCol, vecCol, sampleSize),
      corpus, queries, idCol, vecCol, nLists, nProbe, iters,
      excludeSelf = false, broadcastQueries = false)

  /** EXACT-SCORED IVF candidates — the blocking stage and the exact rerank
    * FUSED at the list join, which is the only plan shape that survives
    * corpus×corpus scale: each vector crosses the shuffle ONCE (corpus
    * rows keyed by their 1 list, query rows by their nProbe lists), both
    * vectors of a pair are co-located when the pair is born, the quantized
    * cosine is computed right there, and pairs leave the join as 24-byte
    * (ids, cos) rows. The naive alternative — emit unscored pairs, then
    * join vectors back per pair — ships a ~0.5 KB quantized vector through
    * a sort per CANDIDATE instead of per ROW and dies in external sort at
    * the first real corpus (measured: 40+ GB of sort spill at 200k×200k).
    *
    * Scoring is the same [[cosScaledPre]] bits as the exact ops (dot of
    * quantized longs is order-exact; norm product commutes bit-identically)
    * so a pair scored from either probing direction dedupes on the full
    * (ids, cos) row. NULL cosines drop here, preserving the mutualNearest
    * NULL contract. Output: `query_id, neighbor_id, cos_scaled`. */
  def ivfScoredPairs(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, nLists: Int = 64, nProbe: Int = 8,
                     sampleSize: Int = 10000, iters: Int = 10,
                     excludeSelf: Boolean = true): DataFrame = {
    val cents = trainCentroids(spreadSample(corpus, idCol, vecCol, sampleSize),
      nLists, iters)
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        Dedup.quantize(col(vecCol)).as("__qc"),
        E.column(graft.functions.NearestCentroids(
          E.expression(col(vecCol)), cents, 1)).getItem(0).as("list"))
      .withColumn("__nc", qnorm(col("__qc")))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        Dedup.quantize(col(vecCol)).as("__qq"),
        explode(E.column(graft.functions.NearestCentroids(
          E.expression(col(vecCol)), cents, nProbe))).as("list"))
      .withColumn("__nq", qnorm(col("__qq")))
    // shuffle-hash on the list key: no sort of vector-carrying rows, and
    // the wide join output is projected to 24-byte rows inside the stage
    val joined = c.hint("shuffle_hash").join(q, Seq("list"))
    val paired = if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
                 else joined
    paired.select(col("query_id"), col("neighbor_id"),
        cosScaledPre(col("__qq"), col("__qc"), col("__nq"), col("__nc")).as("cos_scaled"))
      .where(col("cos_scaled").isNotNull)
    // no dedup pass needed (r9): the pair stream is duplicate-free BY
    // CONSTRUCTION — each corpus row is keyed by exactly ONE list and a
    // query probes nProbe DISTINCT lists (NearestCentroids returns a
    // top-nProbe over distinct centroid ids), so a (query, neighbor)
    // pair can form at at most one list. The r8 `.distinct()` here was a
    // full extra pair-stream shuffle buying nothing.
  }

  /** [[ivfScoredPairs]] with the INTEGER-EXACT coarse quantizer — the
    * oracle-replayable twin. Same fused plan shape (vectors cross the
    * shuffle once per row, 24-byte pair rows leave the list join); the
    * difference is the quantizer: vectors are unit-quantized to integer
    * longs (`uq_i = qv_i·10⁶ DIV floor(√(qv·qv))` — one deterministic
    * sqrt of an exact integer, then truncating division, both
    * bit-identical across engines), the training sample is the
    * `sampleSize` rows with the smallest md5-h60("ivq:"∥id), and Lloyd
    * runs in pure long arithmetic (order-independent sums, `Σ DIV n`
    * updates, d² argmin with smaller-id ties) — so a DuckDB oracle can
    * replay sample → seeds → every Lloyd round → final assignment →
    * probing → cosine, and the blocked op hash-gates instead of
    * rows-only. Scoring is unchanged: the exact quantized cosine on the
    * FULL-precision qv (unit-quantization is only the blocking
    * geometry). */
  def ivfScoredPairsExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, nLists: Int = 64, nProbe: Int = 8,
                          sampleSize: Int = 10000, iters: Int = 10,
                          excludeSelf: Boolean = true): DataFrame = {
    val cents = trainCentroidsExact(
      spreadSampleUq(corpus, idCol, vecCol, sampleSize), nLists, iters)
    def side(df: DataFrame, idAs: String, vecAs: String,
             normAs: String, probes: Int): DataFrame =
      df.select(col(idCol).cast("long").as(idAs),
          Dedup.quantize(col(vecCol)).as(vecAs))
        .withColumn("__uq", unitQuantizeFrom(col(vecAs)))
        .where(col("__uq").isNotNull)
        .withColumn(normAs, qnorm(col(vecAs)))
        .withColumn("__ls", E.column(graft.functions.NearestIntCentroids(
          E.expression(col("__uq")), cents, probes)))
    val c = side(corpus, "neighbor_id", "__qc", "__nc", 1)
      .select(col("neighbor_id"), col("__qc"), col("__nc"),
        col("__ls").getItem(0).as("list"))
    val q = side(queries, "query_id", "__qq", "__nq", nProbe)
      .select(col("query_id"), col("__qq"), col("__nq"),
        explode(col("__ls")).as("list"))
    val joined = c.hint("shuffle_hash").join(q, Seq("list"))
    val paired = if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
                 else joined
    paired.select(col("query_id"), col("neighbor_id"),
        cosScaledPre(col("__qq"), col("__qc"), col("__nq"), col("__nc")).as("cos_scaled"))
      .where(col("cos_scaled").isNotNull)
    // duplicate-free by construction, same argument as [[ivfScoredPairs]]
  }

  /** `uq_i = qv_i·10⁶ DIV floor(√(qv·qv))` over a bigint-quantized
    * vector; NULL for the zero vector (nothing to normalize — the row
    * drops, the NULL-cosine contract). Exact-replayable: the only float
    * op is one correctly-rounded IEEE sqrt of an exact integer < 2⁵³. */
  private def unitQuantizeFrom(qv: Column): Column =
    E.column(graft.functions.UnitQuantize(E.expression(qv)))

  /** md5-derived 60-bit spread hash — the [[Clustering]] `h60` seeded
    * with the IVF salt: both engines replay the ordering with
    * `md5('ivq:' ∥ id)`, unlike `xxhash64` (Spark-only). */
  private def h60ivq(id: Column): Column =
    conv(substring(md5(concat(lit("ivq:"), id.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** [[spreadSample]]'s oracle-replayable twin: the `n` rows with the
    * smallest (md5-h60("ivq:"∥id), id), vectors returned UNIT-QUANTIZED
    * (zero-norm rows dropped BEFORE the cut, mirrored in SQL). Same
    * one-TakeOrdered shape — never a full sort, never a count job. */
  private def spreadSampleUq(corpus: DataFrame, idCol: String, vecCol: String,
                             n: Int): Array[Array[Long]] =
    corpus.where(col(vecCol).isNotNull)
      .select(unitQuantizeFrom(Dedup.quantize(col(vecCol))).as("__uq"),
        h60ivq(col(idCol)).as("__h"), col(idCol))
      .where(col("__uq").isNotNull)
      .orderBy(col("__h"), col(idCol))
      .limit(n)
      .collect().map(_.getSeq[Long](0).toArray)

  /** Driver-side Lloyd over UNIT-QUANTIZED long vectors in pure integer
    * arithmetic — [[trainCentroids]]'s oracle-replayable twin:
    *  - seeds = the first `nLists` sample vectors (the sample arrives in
    *    (h60, id) order, so seeds are the globally-smallest hashes and
    *    cluster id = hash rank, the [[Clustering]] convention);
    *  - assignment = exact long d² argmin, ties → smaller cluster id;
    *  - update = per-dim `Σ DIV n` (truncating, |Σ| ≤ n·10⁶ — long-safe
    *    to 10¹² sample rows), then RE-unit-quantized so d² argmin stays
    *    ≡ cosine argmax on the sphere (the spherical-k-means invariant
    *    [[trainCentroids]] keeps with float renormalization); empty
    *    clusters keep the previous centroid.
    * Every step is replayable in DuckDB (`//` and Spark `DIV` both
    * truncate toward zero; the sqrt is the one IEEE op). */
  private[pipeline] def trainCentroidsExact(sample: Array[Array[Long]],
                                            nLists: Int, iters: Int): Seq[Seq[Long]] = {
    require(sample.nonEmpty)
    val dim = sample.head.length
    val n = sample.length
    def unitQ(v: Array[Long]): Array[Long] = {
      var ss = 0L; var i = 0
      while (i < v.length) { ss += v(i) * v(i); i += 1 }
      val s = math.floor(math.sqrt(ss.toDouble)).toLong
      if (s <= 0L) v else v.map(x => x * 1000000L / s)
    }
    var cents: Array[Array[Long]] = sample.take(nLists).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length, dim)(0L)
      val counts = new Array[Long](cents.length)
      var i = 0
      while (i < n) {
        val v = sample(i)
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var d2 = 0L; var j = 0
          while (j < dim) { val t = v(j) - cent(j); d2 += t * t; j += 1 }
          if (d2 < bestD) { bestD = d2; best = c } // strict < = smaller-id ties
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else unitQ(sums(c).map(_ / counts(c)))
      }
      it += 1
    }
    cents.map(_.toSeq).toSeq
  }

  /** [[mutualNearestIvf]] on the INTEGER-EXACT quantizer
    * ([[ivfScoredPairsExact]]) — identical plan shape and recall
    * structure, but every stage from the training sample to the final
    * cosine is replayable integer arithmetic, so the query it backs
    * (`emb_mutual_pairs_blocked`) hash-gates against a DuckDB unroll
    * instead of rows-only. */
  def mutualNearestIvfExact(left: DataFrame, right: DataFrame, idCol: String,
                            vecCol: String, nLists: Int = 64, nProbe: Int = 8,
                            sampleSize: Int = 10000, iters: Int = 10): DataFrame = {
    val fwd = ivfScoredPairsExact(right, left, idCol, vecCol, nLists, nProbe,
        sampleSize, iters, excludeSelf = false)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos_scaled"))
    val rev = ivfScoredPairsExact(left, right, idCol, vecCol, nLists, nProbe,
        sampleSize, iters, excludeSelf = false)
      .select(col("neighbor_id").as("id_a"), col("query_id").as("id_b"),
        col("cos_scaled"))
    mutualNearest(left, right, idCol, vecCol,
      blocking = Some(fwd.union(rev)))
  }

  /** IVF ANN: coarse-quantizer blocking + exact rerank. Output schema
    * matches bruteForceTopK. On clustered corpora (the realistic case)
    * IVF prunes harder than sign-LSH at equal recall because the
    * partition follows the data's own density rather than fixed random
    * hyperplanes. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nLists: Int = 64, nProbe: Int = 8,
              sampleSize: Int = 10000, iters: Int = 10): DataFrame = {
    val cands = ivfCandidates(corpus, queries, idCol, vecCol, nLists, nProbe, sampleSize, iters)
    rerank(cands, corpus, queries, idCol, vecCol, k)
  }

  /** [[ivfTopK]] on the INTEGER-EXACT coarse quantizer
    * ([[ivfScoredPairsExact]] — the emb_mutual_pairs_blocked machinery):
    * identical plan shape, recall structure and output schema, but every
    * stage from the training sample to the final ranked cosine is
    * replayable integer/IEEE arithmetic — so the backing query
    * (`ann_ivf_topk`, r11) HASH-GATES against a full DuckDB unroll
    * instead of rows-only. The scored pairs come out of the fused list
    * join already cosine'd; the tail is the same bounded two-phase
    * top-k as every ANN variant. */
  def ivfTopKExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nLists: Int = 64, nProbe: Int = 8,
                   sampleSize: Int = 10000, iters: Int = 10): DataFrame =
    topKPerQuery(ivfScoredPairsExact(corpus, queries, idCol, vecCol,
      nLists, nProbe, sampleSize, iters, excludeSelf = true), k)

  // ---- PQ (product quantization) ANN -----------------------------------

  /** PQ codebooks — the Jégou et al. (TPAMI 2011) product quantizer in
    * integers: the sample arrives UNIT-QUANTIZED in (md5-h60, id) order
    * ([[spreadSampleUq]]) and is split into `m` contiguous subvectors;
    * per subspace — seeds = the first `ksub` sample subvectors (hash-rank
    * convention, like [[trainCentroidsExact]]'s seeds), assignment =
    * exact long d² argmin with smaller-code ties, update = per-dim
    * `Σ DIV n` truncating division, empty codes keep their previous
    * entry. Plain Euclidean Lloyd (no re-normalization — codebook
    * entries are subvector means), every step DuckDB-replayable.
    * Returns codebooks(subspace)(code)(component). */
  private[pipeline] def trainPqCodebooksExact(sample: Array[Array[Long]], m: Int,
                                              ksub: Int, iters: Int): Seq[Seq[Seq[Long]]] = {
    require(sample.nonEmpty && m >= 1)
    val dim = sample.head.length
    require(dim % m == 0, s"subspaces m=$m must divide dim=$dim")
    val dsub = dim / m
    val n = sample.length
    (0 until m).map { s =>
      val sub = sample.map(_.slice(s * dsub, (s + 1) * dsub))
      var cents: Array[Array[Long]] = sub.take(ksub).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length, dsub)(0L)
        val counts = new Array[Long](cents.length)
        var i = 0
        while (i < n) {
          val v = sub(i)
          var best = 0; var bestD = Long.MaxValue
          var c = 0
          while (c < cents.length) {
            val cent = cents(c)
            var d2 = 0L; var j = 0
            while (j < dsub) { val t = v(j) - cent(j); d2 += t * t; j += 1 }
            if (d2 < bestD) { bestD = d2; best = c } // strict < = smaller-code ties
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
          i += 1
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }
        it += 1
      }
      cents.map(_.toSeq).toSeq
    }.toSeq
  }

  /** ADC-scored (query, candidate) pairs: both sides unit-quantize
    * ([[unitQuantizeFrom]] — zero-norm rows drop, the NULL-cosine
    * contract), corpus compresses to integer codes
    * ([[graft.functions.PqCodesInt]]), queries precompute integer LUTs
    * ([[graft.functions.PqLutInt]]), and the ADC scan sums exact longs
    * ([[graft.functions.PqAdcLong]]): one corpus map, broadcast LUTs,
    * self pairs excluded. */
  private def pqScoreExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                           vecCol: String, books: Seq[Seq[Seq[Long]]],
                           ksub: Int): DataFrame = {
    val codes = corpus
      .select(col(idCol).as("neighbor_id"),
        unitQuantizeFrom(Dedup.quantize(col(vecCol))).as("__uq"))
      .where(col("__uq").isNotNull)
      .select(col("neighbor_id"),
        E.column(graft.functions.PqCodesInt(E.expression(col("__uq")), books)).as("__codes"))
    val luts = queries
      .select(col(idCol).as("query_id"),
        unitQuantizeFrom(Dedup.quantize(col(vecCol))).as("__uq"))
      .where(col("__uq").isNotNull)
      .select(col("query_id"),
        E.column(graft.functions.PqLutInt(E.expression(col("__uq")), books)).as("__lut"))
    codes.join(broadcast(luts), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_scaled", E.column(graft.functions.PqAdcLong(
        E.expression(col("__codes")), E.expression(col("__lut")), ksub)))
      .drop("__codes", "__lut")
  }

  /** PQ ANN (`ann_pq_topk`): an exhaustive ASYMMETRIC-DISTANCE scan over
    * compressed codes + exact rerank. md5-h60-ordered sample →
    * per-subspace pure-long Lloyd codebooks → integer codes / LUTs / ADC
    * shortlist (k·expand, (score DESC, id ASC) ties) → the shared exact
    * quantized-cosine rerank. Where IVF prunes ROWS, PQ shrinks BYTES: the
    * scan reads m codes per vector instead of dim components, and the
    * rerank touches raw vectors for only k·expand candidates per query.
    * Every stage replays in DuckDB, so the ranked output hash-gates; the
    * recall floor is measured in PipelineSpec. Quantization noise is
    * corpus-size-relative: grow m first, then expand. */
  def pqTopKExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, m: Int = 8, ksub: Int = 64,
                  sampleSize: Int = 10000, iters: Int = 10,
                  expand: Int = 8): DataFrame = {
    val books = trainPqCodebooksExact(
      spreadSampleUq(corpus, idCol, vecCol, sampleSize), m, ksub, iters)
    val scored = pqScoreExact(corpus, queries, idCol, vecCol, books, ksub)
    val shortlist = topKPerQuery(scored, k * expand)
      .select(col("query_id"), col("neighbor_id"))
    rerank(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** PCA-reduced ANN (`ann_pca_topk`) on the INTEGER-EXACT eigensolve
    * ([[PcaExact]]: integer scatter matrix → BigInt power iteration with
    * truncating-DIV rescale → integer Rayleigh deflation): one
    * bounded-state fit pass, a plan-constant projection map, a
    * reduced-space shortlist — bounding the work per scored pair like
    * PQ's ADC, r/d of a full dot — and an exact full-space rerank. Every
    * stage replays in DuckDB, so the backing query HASH-GATES against a
    * full CTE unroll. The reduced-space score is a proxy, so recall is
    * probabilistic; its floor is pinned in PcaSpec. Shortlist score
    * = integer dot of the r projected components (ties → neighbor id);
    * output schema = bruteForceTopK. */
  def pcaTopKExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, r: Int = 8, iters: Int = 20,
                   expand: Int = 8): DataFrame = {
    val model = PcaExact.fit(corpus, vecCol, r, iters)
    val pc = corpus.select(col(idCol).as("neighbor_id"),
      PcaExact.project(model, col(vecCol)).as("__pc"))
    val pq = queries.select(col(idCol).as("query_id"),
      PcaExact.project(model, col(vecCol)).as("__pq"))
    val scored = pc.join(broadcast(pq), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_scaled", qdot(col("__pq"), col("__pc")))
    val shortlist = topKPerQuery(scored, k * expand)
      .select(col("query_id"), col("neighbor_id"))
    rerank(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** Persisted IVF index: training + corpus assignment run ONCE and land
    * on storage; every later query job skips both. Layout under `dir`:
    *  - `centroids/` — (list, centroid array<double>) parquet;
    *  - `lists/` — (id, vec) parquet PARTITIONED BY `list`, so probing
    *    nProbe lists is a storage-level partition-pruned read: the scan
    *    touches nProbe/nLists of the corpus bytes — the on-disk analogue
    *    of FAISS's inverted file, expressed entirely through Spark's
    *    partitioned-parquet machinery (no custom format).
    * Same seeded training as [[ivfTopK]], so a fresh index + query equals
    * the in-job operator exactly (spec-pinned). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
                    nLists: Int = 64, sampleSize: Int = 10000, iters: Int = 10): Unit = {
    val spark = corpus.sparkSession
    val cents = trainCentroids(spreadSample(corpus, idCol, vecCol, sampleSize), nLists, iters)
    import scala.jdk.CollectionConverters._
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i, c)
    }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("list", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(centRows.asJava, centSchema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/centroids")
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        E.column(graft.functions.NearestCentroids(
          E.expression(col(vecCol)), cents, 1)).getItem(0).as("list"))
      .write.mode("overwrite").partitionBy("list").parquet(s"$dir/lists")
  }

  /** Append NEW vectors to a persisted [[buildIvfIndex]] index without
    * retraining: the stored centroids assign the batch (pure map) and its
    * rows land in the same `list=` partition dirs (append mode — existing
    * files untouched), so [[queryIvfIndex]] sees old and new vectors
    * through the same partition-pruned scan with zero query-path change.
    * The coarse quantizer is FROZEN — recall stays tied to how well the
    * original training sample covers the new distribution; on real drift
    * (a new embedding model, a new modality) REBUILD rather than append.
    * Same append-only contract as the postings index: ids must be new,
    * re-runs double-insert — gate upstream. */
  def appendIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                     dir: String): Unit = {
    val spark = batch.sparkSession
    val cents: Seq[Seq[Double]] = spark.read.parquet(s"$dir/centroids")
      .orderBy("list").collect().map(_.getSeq[Double](1)).toSeq
    batch.select(col(idCol).as("id"), col(vecCol).as("vec"),
        E.column(graft.functions.NearestCentroids(
          E.expression(col(vecCol)), cents, 1)).getItem(0).as("list"))
      .write.mode("append").partitionBy("list").parquet(s"$dir/lists")
  }

  /** Query a persisted IVF index: centroids load once (driver-side, KBs),
    * the probed lists arrive through a PARTITION-PRUNED scan of `lists/`,
    * and the exact rerank runs on just those rows. Output schema matches
    * bruteForceTopK. */
  def queryIvfIndex(queries: DataFrame, idCol: String, vecCol: String, dir: String,
                    k: Int, nProbe: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    val cents: Seq[Seq[Double]] = spark.read.parquet(s"$dir/centroids")
      .orderBy("list").collect().map(_.getSeq[Double](1)).toSeq
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        E.column(graft.functions.NearestCentroids(
          E.expression(col(vecCol)), cents, nProbe)).as("__ls"))
      .select(col("query_id"), col("__qv"), explode(col("__ls")).as("list"))
    val probedLists = probes.select("list").distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ queries × nProbe values, driver-small
    val lists = spark.read.parquet(s"$dir/lists")
      .where(col("list").isin(probedLists: _*)) // partition-pruned at the source
    val scored = lists.join(broadcast(probes), Seq("list"))
      .where(col("query_id") =!= col("id"))
      .withColumn("cos_scaled",
        cosScaled(Dedup.quantize(col("__qv")), Dedup.quantize(col("vec"))))
      .withColumnRenamed("id", "neighbor_id")
    // no dedup needed: a corpus vector lives in exactly one list, so each
    // (query, neighbor) pair joins through at most one probed list
    topKPerQuery(scored, k)
  }

  /** Deterministic spread sample: the `n` rows with the smallest
    * xxhash64(id) — one TakeOrdered pass, no count job, not the table head
    * (see ivfCandidates for why head samples are a trap). */
  private def spreadSample(corpus: DataFrame, idCol: String, vecCol: String,
                           n: Int): Array[Array[Float]] =
    corpus
      .select(col(vecCol), xxhash64(col(idCol)).as("__h"), col(idCol))
      .orderBy(col("__h"), col(idCol)) // id tie-break: deterministic under collisions
      .limit(n)
      .collect().map(_.getSeq[Float](0).toArray)

  /** Per-label embedding OUTLIERS: for each label, the `kPerLabel` vectors
    * least similar to their own label's centroid — the standard "find the
    * mislabeled / noise embeddings" curation sweep. Output: `label, rank,
    * vec_id, cos_scaled` (rank 1 = farthest; ties cos ASC then id ASC).
    *
    * EXACTNESS: vectors quantize to 1e6-scaled longs first
    * ([[Dedup.quantize]]); centroid components are integer sums divided
    * by the label count with TRUNCATING integer division (`DIV`, toward
    * zero — exactly DuckDB's `//`), and the final cosine is
    * [[Dedup.quantizedCosine]] over exact integers (+ IEEE sqrt, which is
    * correctly rounded) — bit-identical in any engine, so the sweep is
    * oracle hash-gated, where a float mean would drift by summation order.
    *
    * SCALE: centroids come from ONE partial-aggregating pass over the
    * (vec, component) posexplode — (labels × dim) rows of shuffled state
    * however big the corpus — and broadcast back (labels × dim longs, KBs
    * for any real label set); scoring is then a pure map, and ranking is
    * the bounded per-group [[graft.functions.TopKPairs]] — no window, no
    * per-label sort of the corpus. */
  def labelCentroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                            labelCol: String, kPerLabel: Int): DataFrame = {
    val q = emb.select(col(idCol), col(labelCol),
      Dedup.quantize(col(vecCol)).as("__qv"))
    val comps = q.select(col(labelCol), posexplode(col("__qv")).as(Seq("__p", "__x")))
      .groupBy(labelCol, "__p")
      .agg(sum("__x").as("__s"), count(lit(1)).as("__n"))
      .select(col(labelCol), col("__p"), expr("__s DIV __n").as("__c"))
    val centroids = comps.groupBy(labelCol)
      .agg(array_sort(collect_list(struct(col("__p"), col("__c")))).as("__pc"))
      .select(col(labelCol), expr("transform(__pc, e -> e.__c)").as("__cent"))
    val scored = q.join(broadcast(centroids), labelCol)
      .select(col(labelCol), col(idCol),
        floor(lit(1e9) * Dedup.quantizedCosine(col("__qv"), col("__cent")))
          .cast("long").as("cos_scaled"))
    graft.functions.TopKPairs.perGroup(
        scored.withColumn("__neg", -col("cos_scaled")),
        Seq(labelCol), "__neg", idCol, kPerLabel)
      .select(col(labelCol), col("rank"), col("id").as("vec_id"),
        (-col("score")).as("cos_scaled"))
  }

  /** Leave-one-out kNN label agreement — the standard embedding-quality
    * eval (an embedding whose neighbors disagree with its label won't
    * separate classes downstream either). Per vector: its k nearest
    * neighbors by exact quantized cosine (self excluded), the majority
    * neighbor label (ties → SMALLEST label — the labelPropagation
    * convention, via the same max(struct(count, −label)) aggregate), and
    * whether it matches. Output: (vec_id, label, predicted, correct).
    *
    * Scale note: leave-one-out is all-pairs O(n²) BY DEFINITION — this is
    * an EVALUATION op for the labeled sample (labeled sets are bounded by
    * labeling cost, not corpus size). For an eval set past brute-force
    * range, substitute [[ivfTopK]] for the neighbor stage; the vote and
    * verdict stages are unchanged. Labels must be integral (the argmax
    * negation trick) — enforced loudly. */
  /** Per-class PROTOTYPE exemplars: the k members nearest their class's
    * integer centroid by exact quantized cosine — the canonical
    * "show me what this cluster/label IS" selection (few-shot exemplar
    * picks, labeling-QA review queues, dataset cards). Centroid
    * components are `Σq_d DIV n` over the 10⁶-quantized components —
    * integer truncating division, identical in Spark (`DIV`) and DuckDB
    * (`//`) including negatives, so the centroid and every cosine
    * replay exactly.
    *
    * Plan: one posexplode → per-(label, dim) partial-aggregated sums →
    * per-label centroid arrays (labels × dims rows — tiny, broadcast
    * back), then a pure-map cosine against each member and the bounded
    * TopKPairs per-label top-k (≤ k entries per task cross the shuffle —
    * never a per-label sort of the corpus). NULL labels/vectors are
    * excluded. Component-sum magnitude: |q| ≤ ~10⁶ ⇒ exact to ~9·10¹²
    * rows per label in BIGINT. Output: `label, rank, vec_id,
    * cos_scaled`, ties to the smaller id. */
  def classPrototypes(emb: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = emb.where(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(labelCol).cast("long").as("label"),
        Dedup.quantize(col(vecCol)).as("__qc"))
    val sums = q.select(col("label"), posexplode(col("__qc")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val centroids = sums
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"),
        expr("s DIV n").as("c")))).as("__cs"))
      .select(col("label"), expr("transform(__cs, x -> x.c)").as("__qcent"))
    // zero-norm centroid guard: a label whose truncated integer centroid is
    // the all-zero vector (possible with opposite-sign members) would give
    // cosScaled a 0/0 = NaN, which Spark's cast folds to 0 while a SQL
    // replay errors casting NaN — emit NULL instead, so TopKPairs drops the
    // label's rows identically in both engines (pinned by spec)
    val scored = q.join(broadcast(centroids), Seq("label"))
      .select(col("label").as("query_id"), col("neighbor_id"),
        when(qdot(col("__qcent"), col("__qcent")) === 0, lit(null).cast("long"))
          .otherwise(cosScaled(col("__qc"), col("__qcent"))).as("cos_scaled"))
    topKPerQuery(scored, k)
      .select(col("query_id").as("label"), col("rank"),
        col("neighbor_id").as("vec_id"), col("cos_scaled"))
  }

  /** `blocking`: optional candidate (`query_id`, `neighbor_id`) pairs
    * ([[ivfCandidates]] with the corpus as its own query set) — the
    * leave-one-out scan then reranks only the candidate slice, with the
    * query side shuffle-joined (the whole corpus is the query cohort —
    * nothing broadcasts). */
  def knnLabelAccuracy(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, k: Int = 10,
                       blocking: Option[DataFrame] = None): DataFrame = {
    Search.requireIntegralId(emb, labelCol, "knnLabelAccuracy", role = "label")
    val topk = blocking match {
      case None => bruteForceTopK(emb, emb, idCol, vecCol, k)
      case Some(cands) if cands.columns.contains("cos_scaled") =>
        // pre-scored ([[ivfScoredPairs]] self-probe): straight to the
        // bounded per-query top-k — no per-pair vector join at all
        topKPerQuery(
          cands.select(col("query_id").cast("long"),
              col("neighbor_id").cast("long"), col("cos_scaled").cast("long"))
            .where(col("query_id") =!= col("neighbor_id")).distinct(), k)
      case Some(cands) => rerank(
        cands.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
          .where(col("query_id") =!= col("neighbor_id")).distinct(),
        emb, emb, idCol, vecCol, k, broadcastQueries = false)
    }
    val nbrLabels0 = emb.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("__nl"))
    // blocked mode = the corpus outgrew broadcasting; its label frame has too
    val nbrLabels = if (blocking.isDefined) nbrLabels0 else broadcast(nbrLabels0)
    val votes = topk.join(nbrLabels, Seq("neighbor_id"))
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__c"))
    val pred = votes.groupBy("query_id")
      .agg(max(struct(col("__c"), (-col("__nl")).as("__neg"))).as("__m"))
      .select(col("query_id").as("vec_id"), (-col("__m.__neg")).as("predicted"))
    emb.select(col(idCol).as("vec_id"), col(labelCol).cast("long").as("label"))
      .join(pred, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("predicted"),
        (col("predicted").isNotNull && col("predicted") === col("label")).as("correct"))
  }

  /** TRIPLET export for metric-learning finetunes: per anchor, the
    * nearest SAME-label vector (the positive) and the nearest
    * DIFFERENT-label vector (the hard negative — the non-match the
    * margin loss learns most from) by exact quantized cosine, ties to
    * the smaller id. One scored pass, TWO conditional argmax aggregates
    * (`max(when(same, struct))` — partial-aggregated, one struct per
    * anchor per task crosses the shuffle, no window sort). Anchors
    * lacking either side (singleton labels, a one-label corpus) DROP —
    * a triplet with a missing leg is not training data. Labels must be
    * integral (loud). Exact all-pairs BY DESIGN, like
    * [[knnLabelAccuracy]]: the labeled set is bounded by labeling cost;
    * past brute-force range, block first (IVF/LSH) and pass the
    * candidate slice. Output: `anchor_id, label, pos_id, pos_cos,
    * neg_id, neg_cos` (cos in the 1e9-scaled key space). */
  def tripletMining(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    blocking: Option[DataFrame] = None): DataFrame = {
    // `blocking`: optional candidate (query_id, neighbor_id) pairs
    // ([[ivfCandidates]] self-probe) — conditional argmaxes then run over
    // the candidate slice via shuffle equi-joins (nothing broadcasts).
    // Anchors whose slice lacks a same- or different-label candidate DROP,
    // same as the exact op's missing-leg rule; probe wide enough (nProbe)
    // that the true positive leg is in the slice (recall spec).
    Search.requireIntegralId(emb, idCol, "tripletMining")
    Search.requireIntegralId(emb, labelCol, "tripletMining", role = "label")
    val a = emb.select(col(idCol).cast("long").as("anchor_id"),
      col(labelCol).cast("long").as("label"), Dedup.quantize(col(vecCol)).as("__qa"))
      .withColumn("__na", qnorm(col("__qa")))
    val c = emb.select(col(idCol).cast("long").as("cand_id"),
      col(labelCol).cast("long").as("__cl"), Dedup.quantize(col(vecCol)).as("__qc"))
      .withColumn("__nc", qnorm(col("__qc")))
    val scoredPairs = blocking match {
      case None =>
        a.join(broadcast(c), col("anchor_id") =!= col("cand_id"))
          .select(col("anchor_id"), col("label"), col("cand_id"),
            (col("__cl") === col("label")).as("__same"),
            cosScaledPre(col("__qa"), col("__qc"), col("__na"), col("__nc")).as("__cos"))
      case Some(cands) if cands.columns.contains("cos_scaled") =>
        // pre-scored ([[ivfScoredPairs]] self-probe): only the 16-byte
        // label frames join back, never the vectors
        cands.select(col("query_id").cast("long").as("anchor_id"),
            col("neighbor_id").cast("long").as("cand_id"),
            col("cos_scaled").cast("long").as("__cos"))
          .where(col("anchor_id") =!= col("cand_id"))
          .distinct()
          .join(emb.select(col(idCol).cast("long").as("anchor_id"),
            col(labelCol).cast("long").as("label")), "anchor_id")
          .join(emb.select(col(idCol).cast("long").as("cand_id"),
            col(labelCol).cast("long").as("__cl")), "cand_id")
          .select(col("anchor_id"), col("label"), col("cand_id"),
            (col("__cl") === col("label")).as("__same"), col("__cos"))
      case Some(cands) =>
        cands.select(col("query_id").cast("long").as("anchor_id"),
            col("neighbor_id").cast("long").as("cand_id"))
          .where(col("anchor_id") =!= col("cand_id"))
          .distinct()
          .join(a, "anchor_id").join(c, "cand_id")
          .select(col("anchor_id"), col("label"), col("cand_id"),
            (col("__cl") === col("label")).as("__same"),
            cosScaledPre(col("__qa"), col("__qc"), col("__na"), col("__nc")).as("__cos"))
    }
    scoredPairs
      // NULL cosines (NULL / dimension-mismatched vectors) must not reach
      // the argmax — the mutualNearest rule: a wrong-model-version join
      // yields FEWER triplets, never id-order noise dressed as labels
      .where(col("__cos").isNotNull)
      .groupBy("anchor_id", "label")
      .agg(
        max(when(col("__same"),
          struct(col("__cos"), (-col("cand_id")).as("nid")))).as("__p"),
        max(when(!col("__same"),
          struct(col("__cos"), (-col("cand_id")).as("nid")))).as("__n"))
      .where(col("__p").isNotNull && col("__n").isNotNull)
      .select(col("anchor_id"), col("label"),
        (-col("__p.nid")).as("pos_id"), col("__p.__cos").as("pos_cos"),
        (-col("__n.nid")).as("neg_id"), col("__n.__cos").as("neg_cos"))
  }

  /** EMBEDDING DRIFT monitor between two corpus snapshots (yesterday's
    * batch vs today's, model v1 re-embeds vs v2): per deterministic
    * sign-bucket (the first `signDims` dimensions' sign pattern — a
    * fixed, engine-replayable partition of the sphere; no trained
    * centroids, so the monitor itself can't drift), the L1 distance
    * between the two sides' integer floor-div centroids. A re-embedded
    * or re-distributed corpus moves these centroids; matched snapshots
    * don't. All arithmetic quantized-integer ([[Dedup.quantize]]) —
    * exact, oracle-replayable.
    *
    * SCALE: one posexplode + ONE partial-aggregated groupBy — shuffled
    * state is (2^signDims × dim) longs regardless of corpus size; the
    * final per-bucket rollup is bucket-cardinality-sized. Buckets
    * present on only one side are EXCLUDED (no centroid to compare;
    * count deltas are [[Ledger]] territory). NULL vectors drop;
    * vectors shorter than `signDims` fail loudly in the consumed
    * column (prune-safe). Output: `bucket, n_a, n_b, drift_q` —
    * drift in quantized units (10⁻⁶ of cosine space per dim). */
  /** Per-DIMENSION embedding health audit — the dead/collapsed-dimension
    * detector: a dimension whose values barely vary carries no signal
    * (dead ReLU paths, truncated exports, a projection that collapsed),
    * and downstream cosine ops silently pay its bandwidth. One
    * posexplode + one partial-aggregated groupBy over the 10⁶-quantized
    * components; all moments in DECIMAL(38,0) so the audit is exact at
    * any corpus size, and the variance `((n·Σq² − (Σq)²) DIV n²`) comes
    * out a BIGINT bounded by max q² regardless of n. Output per dim:
    * `dim, n, q_min, q_max, q_mean, q_var, dead` (1 = constant). */
  def dimAudit(emb: DataFrame, vecCol: String): DataFrame = {
    emb.where(col(vecCol).isNotNull)
      .select(posexplode(Dedup.quantize(col(vecCol))).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("q_min"), max(col("v")).as("q_max"),
        sum(expr("CAST(v AS DECIMAL(38,0))")).as("__s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("__s2"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        col("q_min"), col("q_max"),
        expr("CAST(__s DIV n AS BIGINT)").as("q_mean"),
        expr("CAST((n * __s2 - __s * __s) DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("q_var"),
        when(col("q_min") === col("q_max"), 1L).otherwise(0L).as("dead"))
  }

  def centroidDrift(a: DataFrame, b: DataFrame, vecCol: String,
                    signDims: Int = 3): DataFrame =
    driftFromStates(signBucketState(a, vecCol, signDims),
      signBucketState(b, vecCol, signDims))

  /** The MERGEABLE state behind [[centroidDrift]]: per (sign-bucket,
    * dimension), the quantized component sum and the bucket's row count —
    * a monoid (merge = union + re-sum, the [[Maintenance.rollupState]]
    * contract), so a streaming snapshot folds per micro-batch into a
    * stored (2^signDims × dim)-row state and is never rescanned.
    * Output: `bucket, dim, s, n`. */
  def signBucketState(df: DataFrame, vecCol: String,
                      signDims: Int = 3): DataFrame = {
    require(signDims >= 1 && signDims <= 20,
      s"signDims must be in [1, 20], got $signDims")
    val bucketExpr = (0 until signDims).map(j =>
      when(element_at(col("__qv"), j + 1) >= 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)
    df.where(col(vecCol).isNotNull)
      .select(Dedup.quantize(col(vecCol)).as("__qv"))
      .withColumn("bucket",
        when(size(col("__qv")) >= signDims, bucketExpr)
          .otherwise(raise_error(concat(
            lit(s"centroidDrift: vector shorter than signDims=$signDims ("),
            size(col("__qv")).cast("string"), lit(" dims)")))))
      .select(col("bucket"), posexplode(col("__qv")).as(Seq("dim", "__x")))
      .groupBy("bucket", "dim")
      .agg(sum("__x").as("s"), count(lit(1)).as("n"))
  }

  /** Drift between two [[signBucketState]] frames (in-job or stored):
    * per bucket present on BOTH sides, the L1 gap between the integer
    * floor-div centroids. The states are bucket×dim-sized however big
    * the corpora — this comparison never touches a corpus. */
  def driftFromStates(a: DataFrame, b: DataFrame): DataFrame = {
    Seq(a, b).foreach(s =>
      require(Seq("bucket", "dim", "s", "n").forall(s.columns.contains),
        s"driftFromStates expects signBucketState frames (bucket, dim, s, n), " +
          s"got ${s.columns.mkString(",")}"))
    val an = a.select(col("bucket"), col("dim"),
      col("s").as("__sa"), col("n").as("__na"))
    val bn = b.select(col("bucket"), col("dim"),
      col("s").as("__sb"), col("n").as("__nb"))
    an.join(bn, Seq("bucket", "dim"))
      .withColumn("__ad", abs(expr("__sa DIV __na") - expr("__sb DIV __nb")))
      .groupBy("bucket")
      .agg(max("__na").as("n_a"), max("__nb").as("n_b"),
        sum("__ad").as("drift_q"))
      .select(col("bucket").cast("int").as("bucket"),
        col("n_a"), col("n_b"), col("drift_q"))
  }

  /** INT8 symmetric per-dimension quantization AUDIT — the pre-flight a
    * serving export runs before shipping embeddings as int8: per
    * dimension, the symmetric scale (max |value| on the house 10⁶
    * lattice), and the exact reconstruction-error profile of
    * `code = (q·127) DIV scale`, `recon = (code·scale) DIV 127`
    * (truncating division both ways — the whole audit replays
    * bit-for-bit in any engine). A dimension whose max_err dwarfs the
    * others is the one that doesn't survive int8.
    *
    * Output: `dim (1-based), n, scale, max_err, mean_err` (errors in
    * lattice units; a constant-zero dimension reads scale 0, errors 0).
    *
    * Plan: one posexplode → per-dim scale aggregate (|dims| rows,
    * broadcast back) → per-dim error aggregate. Both groupBys
    * partial-aggregate map-side to |dims| rows per task, so the
    * |dims|-group key is never a hot spot; the corpus is scanned twice
    * and never shuffled (only |dims|-sized partials move). Magnitude:
    * `q·127` needs |component| < 7·10¹⁶ lattice units (|x| < 7·10¹⁰ —
    * any sane embedding; ANSI-loud past it). */
  def int8QuantAudit(corpus: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val q = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .select((col("__d") + 1).cast("int").as("dim"),
        expr("CAST(floor(CAST(__x AS DOUBLE) * 1000000) AS BIGINT)").as("__q"))
    val scales = q.groupBy("dim").agg(max(abs(col("__q"))).as("scale"))
    q.join(broadcast(scales), "dim")
      .withColumn("__err",
        when(col("scale") === 0L, lit(0L))
          .otherwise(expr("abs((((__q * 127) DIV scale) * scale) DIV 127 - __q)")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), first(col("scale")).as("scale"),
        max(col("__err")).as("max_err"),
        expr("sum(__err) DIV count(1)").as("mean_err"))
      .select(col("dim"), col("n"), col("scale"), col("max_err"), col("mean_err"))
  }

  /** k-CENTER GREEDY CORESET (farthest-point traversal — the 2-approx
    * of Gonzalez '85, the coverage-sampling half of Sener & Savarese
    * '18's core-set selection): pick the point farthest from everything
    * picked so far, k times — the k vectors that COVER the embedding
    * space, where random sampling oversamples dense regions and misses
    * the tails. Distances are exact integer d² on the house 10⁶
    * lattice; ties break to the smaller id; the first center is the
    * smallest id (the empty-set tie rule). Points at d² = 0 from the
    * chosen set (exact duplicates) are never picked — a corpus with
    * fewer than k distinct vectors returns fewer than k rows.
    *
    * Output: `rank (1-based), vec_id, coverage_d2` — coverage_d2 is the
    * selected point's d² to the previously chosen set (NULL for rank 1);
    * the sequence is non-increasing and IS the coverage-radius curve.
    *
    * Plan: the corpus quantizes and materializes ONCE; each of the k
    * rounds is a pure-map `least(running_min, d²-to-literal-center)`
    * update (the new center ships as a plan-time constant — the
    * NearestCentroids convention) plus one bounded top-1 action. k
    * passes over the corpus, zero shuffles after the first
    * materialization; the result is a k-row driver artifact (bounded
    * like the centroid/codebook artifacts). */
  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1 && k <= 4096, s"k must be in [1, 4096], got $k")
    Search.requireIntegralId(corpus, idCol, "kCenterCoreset")
    val spark = corpus.sparkSession
    def d2To(center: Seq[Long]) = expr(
      s"aggregate(zip_with(qv, array(${center.mkString("L,")}L), " +
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
    val q0 = Materialize.cutLazy(corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("qv")))
    val firstRows = q0.orderBy("id").limit(1).select("id", "qv").collect()
    if (firstRows.isEmpty) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "rank INT, vec_id BIGINT, coverage_d2 BIGINT"))
    }
    def vecOf(r: org.apache.spark.sql.Row): Seq[Long] =
      r.getSeq[Long](r.fieldIndex("qv"))
    var chosen = Vector[(Int, Long, Option[Long])](
      (1, firstRows.head.getLong(0), None))
    var cur = Materialize.cutLazy(
      q0.withColumn("__mind", d2To(vecOf(firstRows.head))))
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val cand = cur.where(col("__mind") > 0)
        .orderBy(col("__mind").desc, col("id").asc)
        .limit(1).select("id", "__mind", "qv").collect()
      if (cand.isEmpty) exhausted = true
      else {
        val c = cand.head
        chosen :+= ((r, c.getLong(0), Some(c.getLong(1))))
        if (r < k)
          cur = Materialize.cutLazy(cur.withColumn("__mind",
            least(col("__mind"), d2To(vecOf(c)))))
        r += 1
      }
    }
    import spark.implicits._
    chosen.toDF("rank", "vec_id", "coverage_d2")
  }
}
