package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

/** Semantic tests for the LLM-pipeline operators: planted duplicates must
  * be found, approximate methods must hit measured recall floors, stubs
  * must preserve the real plumbing contract. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = SharedSpark.session
  import spark.implicits._

  private val base = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "a completely different document about spark catalyst optimizer internals"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (3L, "der schnelle braune fuchs springt über den faulen hund und ist nicht da"),
    (4L, "a completely different document about spark catalyst optimizer internals"), // exact dup of 1
    (5L, "le chat est dans la maison et le chien est pour le jardin"),
    (6L, "el gato es un animal y los perros son para la casa"),
    (7L, "totally unrelated content regarding quantum chromodynamics lattice simulations")
  ).toDF("doc_id", "text")

  test("exact dedup flags planted exact duplicate, keeps smallest id") {
    val out = Dedup.exact(base, "doc_id", "text")
    val dups = out.where($"is_duplicate").select("doc_id").as[Long].collect().toSet
    assert(dups == Set(4L))
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashDedupPairs(base, "doc_id", "text",
      threshold = 0.5, numHashes = 128, bands = 32, shingle = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)), s"expected (0,2) in $pairs")
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.contains((1L, 7L)))
  }

  test("simhash candidates block near-dups together") {
    val cands = Dedup.simhashCandidates(base, "doc_id", "text", shingle = 5, maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 4L))) // identical docs: hamming 0
  }

  test("simhash blocking finds EVERY pair within the guaranteed hamming radius") {
    // 40 perturbed variants of one document: many fingerprint pairs land
    // within hamming <= 3. The 6-choose-3 combinatorial blocking guarantees
    // each of them shares >= 1 clean key (Manku et al. pigeonhole), so the
    // candidate set must contain ALL of them — recall 1.0 inside the radius.
    // 40 suffix-perturbed variants of one document (r11: the md5-h60
    // distinct-shingle fingerprints spread more than the old multiplicity-
    // counting family, so word REPLACEMENT no longer lands pairs inside
    // radius 3 — a shared base plus a tiny unique suffix does, 134 pairs)
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet river valley"
    val docs = (0 until 40).map(i => (i.toLong, s"$base tk$i")).toDF("doc_id", "text")

    import org.apache.spark.sql.graftshim.{GraftShim => E}
    val fps = docs.select($"doc_id",
        E.column(graft.functions.SimHash64(E.expression($"text"), 5)).as("fp"))
      .as[(Long, Long)].collect().toMap
    val withinRadius = (for {
      a <- fps.keys; b <- fps.keys if a < b
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
    } yield (a, b)).toSet
    assert(withinRadius.nonEmpty, "test corpus produced no close fingerprints — weaken perturbation")

    val cands = Dedup.simhashCandidates(docs, "doc_id", "text", shingle = 5, maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(withinRadius.subsetOf(cands),
      s"missed guaranteed pairs: ${withinRadius -- cands}")
  }

  test("simhash degenerate buckets are dropped by the maxBucket skew guard") {
    val boiler = (0 until 30).map(i => (i.toLong, "identical boilerplate document body"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashCandidates(boiler, "doc_id", "text",
      shingle = 5, maxHamming = 3, maxBucket = 10)
    assert(capped.count() == 0, "30-doc degenerate bucket must be dropped at cap 10")
    val uncapped = Dedup.simhashCandidates(boiler, "doc_id", "text",
      shingle = 5, maxHamming = 3, maxBucket = 100)
    assert(uncapped.count() == 30L * 29 / 2)
  }

  test("repeated dedup calls leave nothing in the session cache manager") {
    import org.apache.spark.sql.graftshim.GraftShim
    (1 to 2).foreach { _ =>
      Dedup.minhashDedupPairs(base, "doc_id", "text", threshold = 0.5).count()
      Dedup.simhashCandidates(base, "doc_id", "text").count()
    }
    assert(GraftShim.cacheIsEmpty(spark),
      "pipeline ops must not accumulate CacheManager entries across calls")
  }

  test("exact jaccard verification values are sane") {
    val pairs = Seq((0L, 2L), (1L, 7L)).toDF("a", "b")
    val v = Dedup.verifyJaccard(pairs, base, "doc_id", "text", shingle = 5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(v((0L, 2L)) > 0.7)
    assert(v((1L, 7L)) < 0.1)
  }

  test("langid picks each planted language") {
    val out = base.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "en")
    assert(out(3L) == "de")
    assert(out(5L) == "fr")
    assert(out(6L) == "es")
  }

  test("rolling fingerprint is whitespace/case insensitive but content sensitive") {
    val fp = TextAnalysis.fingerprints(
      Seq((0L, "Hello  World"), (1L, "hello world"), (2L, "hello worlds")).toDF("doc_id", "text"),
      "text").select("doc_id", "fp_rolling").as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L) != fp(2L))
  }

  test("ANN multi-probe LSH recall@10 >= 0.8 with candidates well under brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    val nCorpus = emb.count()
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopKExact(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    val nCands = Similarity.lshCandidatesExact(emb, queries, "vec_id", "embedding",
      numTables = 8, numPlanes = 10, dim = 64, probeBits = 8, probeRadius = 3).count()
    val bruteForcePairs = 10.0 * (nCorpus - 1)
    info(f"LSH recall@10 = $recall%.3f; candidates = $nCands of ${bruteForcePairs.toLong} brute-force pairs (${100 * nCands / bruteForcePairs}%.1f%%)")
    assert(recall >= 0.8, s"multi-probe recall $recall below the 0.8 floor — not a usable ANN")
    assert(nCands < bruteForcePairs * 0.7,
      s"candidate set $nCands examined most of the corpus — blocking is not doing its job")
  }

  test("bandingPrAudit: full-band recall 1.0 on planted dups; starved banding names its misses") {
    // filler docs pairwise dissimilar (each its own vocabulary), one
    // planted J≈0.9 pair — ground truth is exactly that pair
    val docs = (0L until 40L).map(i => (i,
        (0 until 10).map(j => s"tok${i}x$j").mkString(" "))) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog again and again today"),
        (101L, "the quick brown fox jumps over the lazy dog again and again todaX"))
    val df = docs.toDF("doc_id", "text")
    val r = Dedup.bandingPrAudit(df, "doc_id", "text").collect()(0)
    val (cand, truth, tp) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(truth == 1L, s"planted pair must be the only ground truth, got $truth")
    assert(r.getLong(4) == 1000000L, s"recall ${r.getLong(4)} — 16 bands must catch J≈0.9")
    assert(tp <= cand)
    // 1 band of 128 rows: a single 128-minhash full-signature match is
    // (almost) an exact-dup test — the planted 0.9-Jaccard pair misses,
    // and the audit SAYS so instead of the production path silently losing it
    val starved = Dedup.bandingPrAudit(df, "doc_id", "text",
      numHashes = 128, bands = 1).collect()(0)
    assert(starved.getLong(2) == 0L && !starved.isNullAt(4) && starved.getLong(4) == 0L,
      s"starved banding should read recall 0, got $starved")
  }

  test("giniConcentration: hand-computed even and skewed mixes") {
    val even = Seq(("a", "w"), ("b", "w"), ("c", "w")).toDF("source", "text")
    val e = TextAnalysis.giniConcentration(even, "source", "text").collect()(0)
    assert((e.getLong(0), e.getLong(1), e.getLong(2)) == ((3L, 3L, 0L)), e.toString)
    // weights 1, 1, 8 → (2·27 − 4·10)/(3·10) = 14/30 → 466666 ppm
    val skew = Seq(("a", "w"), ("b", "w"),
      ("c", "one two three four five six seven eight")).toDF("source", "text")
    val s = TextAnalysis.giniConcentration(skew, "source", "text").collect()(0)
    assert(s.getLong(2) == 466666L, s.toString)
  }

  test("lshTopKExact is deterministic across partition counts") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 5)
    def run(parts: Int) =
      Similarity.lshTopKExact(emb.repartition(parts), queries, "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Long)].collect().toSeq
    assert(run(3) == run(32))
  }

  test("ANN IVF recall@10 >= 0.8 on near-uniform vectors (ANN worst case)") {
    // the test embeddings are near-uniform (top-10 neighbor cosine ~0.3 vs
    // bulk ~0) — the hardest regime for any ANN; on clustered corpora the
    // same quantizer prunes far harder at equal recall
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    val nCorpus = emb.count()
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      nLists = 16, nProbe = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    val nCands = Similarity.ivfCandidates(emb, queries, "vec_id", "embedding",
      nLists = 16, nProbe = 10).count()
    info(f"IVF recall@10 = $recall%.3f; candidates = $nCands of ${10 * (nCorpus - 1)}")
    assert(recall >= 0.8, s"IVF recall $recall below 0.8")
    assert(nCands < 10 * (nCorpus - 1) * 0.75, s"IVF candidate set $nCands too large")
    // r11: the integer-exact quantizer variant (the oracle-replayable one
    // ann_ivf_topk registers) must hold the same floor on the same corpus
    val exactQ = Similarity.ivfTopKExact(emb, queries, "vec_id", "embedding", 10,
      nLists = 16, nProbe = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallE = (exact & exactQ).size.toDouble / exact.size
    info(f"ivfTopKExact recall@10 = $recallE%.3f")
    assert(recallE >= 0.8, s"ivfTopKExact recall $recallE below 0.8")
  }

  test("ANN PQ-ADC recall@10 >= 0.8 on near-uniform vectors (ANN worst case)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopKExact(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"PQ recall@10 = $recall%.3f (m=8, ksub=64, expand=8)")
    assert(recall >= 0.8, s"PQ recall $recall below 0.8")
  }

  test("pqTopKExact is deterministic across partition counts") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 5)
    def run(parts: Int) =
      Similarity.pqTopKExact(emb.repartition(parts), queries, "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Long)].collect().toSeq
    assert(run(3) == run(32))
  }

  test("PQ scan is deterministic and rerank output is exact-cosine ranked") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 3)
    val a = Similarity.pqTopKExact(emb, queries, "vec_id", "embedding", 5).collect().toSeq
    val b = Similarity.pqTopKExact(emb, queries, "vec_id", "embedding", 5).collect().toSeq
    assert(a.toSet == b.toSet, "hash-ordered PQ training must be run-deterministic")
    // the rerank recomputes exact quantized cosine, so scores must agree
    // with brute force wherever the neighbor survived quantization
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 50)
      .select("query_id", "neighbor_id", "cos_scaled")
      .as[(Long, Long, Long)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val pq = Similarity.pqTopKExact(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "cos_scaled")
      .as[(Long, Long, Long)].collect()
    pq.foreach { case (q, n, c) =>
      bf.get((q, n)).foreach(exactC => assert(exactC == c,
        s"rerank score for ($q,$n) must be the exact cosine: $c vs $exactC"))
    }
  }

  test("persisted IVF index equals the in-job operator and prunes partitions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 5)
    val dir = "target/ivf_index_spec"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nLists = 16)
    val fromIndex = Similarity.queryIvfIndex(queries, "vec_id", "embedding", dir,
      k = 10, nProbe = 10)
    val inJob = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      nLists = 16, nProbe = 10)
    assert(fromIndex.collect().toSet == inJob.collect().toSet,
      "index + query must reproduce the in-job operator exactly (same seeded training)")
    // the probed read must be partition-pruned at the source
    val plan = Similarity.queryIvfIndex(queries, "vec_id", "embedding", dir,
      k = 10, nProbe = 3).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list#") || plan.contains("PartitionFilters: [isnotnull(list"),
      s"probe scan not partition-pruned:\n$plan")
  }

  test("compactParquet folds a fragmented table into target-sized files, rows intact") {
    val src = "target/compact_spec_src"
    val dst = "target/compact_spec_dst"
    spark.range(0, 10000).toDF("id").repartition(40)
      .write.mode("overwrite").parquet(src)
    val (before, after, bytes) = Maintenance.compactParquet(spark, src, dst,
      targetBytes = bytesOfDir(src)) // target = whole table → 1 output file
    assert(before == 40 && after == 1 && bytes > 0)
    assert(spark.read.parquet(dst).count() == 10000)
    assert(spark.read.parquet(dst).agg(sum("id")).head.getLong(0) ==
      spark.read.parquet(src).agg(sum("id")).head.getLong(0))
  }

  private def bytesOfDir(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-")).map(_.length()).sum

  test("profile reports nulls, distincts, and extrema per column in one pass") {
    val df = Seq((1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]),
      (3L, Option("b"))).toDF("id", "s")
    val p = TextAnalysis.profile(df, Seq("id", "s"))
      .as[(String, Long, Long, Long, Option[String], Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(p("id") == ("id", 4L, 0L, 3L, Some("1"), Some("3")))
    assert(p("s") == ("s", 4L, 1L, 2L, Some("a"), Some("b")))
  }

  test("sourceFilter keeps exactly the docs of above-cutoff sources") {
    val df = Seq(
      (1L, "the and of to a in is that it for good long words here", "good"),
      (2L, "the and of to a in is that it for more quality text js", "good"),
      (3L, "zz", "bad"),
      (4L, "yy", "bad")).toDF("doc_id", "text", "source")
    val kept = TextAnalysis.sourceFilter(df, "doc_id", "text", "source", minMeanQuality = 400)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), "bad source (two near-empty docs) must drop entirely")
  }

  test("sourceFilter: NULL-source docs form their own group, kept or dropped together") {
    // a plain equi-join on source would silently drop every NULL-source
    // doc regardless of quality — the verdict join must be null-safe
    val good = "the and of to a in is that it for good long words here"
    val keep = Seq(
      (1L, good, null.asInstanceOf[String]),
      (2L, good, null.asInstanceOf[String]),
      (3L, "zz", "bad")).toDF("doc_id", "text", "source")
    val kept = TextAnalysis.sourceFilter(keep, "doc_id", "text", "source", minMeanQuality = 400)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), "high-quality NULL-source group must survive")
    val drop = Seq(
      (1L, "zz", null.asInstanceOf[String]),
      (2L, good, "good")).toDF("doc_id", "text", "source")
    val kept2 = TextAnalysis.sourceFilter(drop, "doc_id", "text", "source", minMeanQuality = 400)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(2L), "low-quality NULL-source group must drop entirely")
  }

  test("cross-corpus gates reject reserved column names instead of clobbering them") {
    val fresh = Seq((1L, "some text", 9L)).toDF("doc_id", "text", "__h")
    val ref = Seq((2L, "other text")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.crossCorpus(fresh, ref, "text")
    }
    val byBand = Seq((1L, "some text")).toDF("band", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashCrossCandidates(byBand, ref.toDF("band", "text"), "band", "text")
    }
  }

  test("connected components: long chain converges over many hook+jump rounds") {
    // a chain needing ~8 hook+jump rounds: every round's lazy cut is read
    // by the next round's hook, so the per-round lineage cut runs end to end
    val n = 120
    val ids = spark.range(n + 1).select($"id")
    val chain = spark.range(n).selectExpr("id AS a", "id + 1 AS b")
    val labels = Dedup.connectedComponents(ids.toDF(), chain)
      .as[(Long, Long)].collect()
    assert(labels.length == n + 1)
    assert(labels.forall(_._2 == 0L), "every chain member must fold to label 0")
  }

  test("semanticDedup flags within-cluster near-identical embeddings, keeps min id") {
    // three well-separated directions; ids 0/1 and 10/11 are planted
    // near-identical pairs (cos ≈ 0.99997), id 2 shares direction 0 but
    // is rotated well below the threshold, ids 20/21 are lone docs
    val dim = 8
    def v(dir: Int, eps: Float): Seq[Float] =
      Seq.tabulate(dim)(d => (if (d == dir) 1.0f else 0.0f) + (if (d == dir + 3) eps else 0.0f))
    val rot = Seq.tabulate(dim)(d => if (d == 0) 1.0f else if (d == 1) 0.5f else 0.0f)
    val emb = Seq(
      (0L, v(0, 0.000f)), (1L, v(0, 0.008f)), (2L, rot),
      (10L, v(1, 0.000f)), (11L, v(1, 0.008f)),
      (20L, v(2, 0.000f)), (21L, v(4, 0.000f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.995, nClusters = 3, sampleSize = 100)
      .orderBy("vec_id")
      .select("vec_id", "is_semantic_duplicate").as[(Long, Boolean)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 10L, 11L, 20L, 21L),
      "every doc must survive with a flag")
    val flagged = out.filter(_._2).map(_._1).toSet
    assert(flagged == Set(1L, 11L),
      s"exactly the larger id of each planted pair must be flagged, got $flagged")
    // over-cap clusters are SUB-SPLIT, not skipped: with maxCluster = 1
    // every multi-member cluster is over the cap — the old skip-guard
    // flagged NOTHING here; sub-splitting + the representative chain must
    // still catch both planted twin pairs
    val guarded = Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.995, nClusters = 3, sampleSize = 100, maxCluster = 1)
      .orderBy("vec_id")
      .select("vec_id", "is_semantic_duplicate").as[(Long, Boolean)].collect()
    assert(guarded.map(_._1).toSeq == Seq(0L, 1L, 2L, 10L, 11L, 20L, 21L),
      "every doc must survive the sub-split with a flag")
    val gFlagged = guarded.filter(_._2).map(_._1).toSet
    assert(gFlagged == Set(1L, 11L),
      s"sub-split must still flag the larger id of each planted pair, got $gFlagged")
  }

  test("semanticDedup chunk fallback: near-identical family flags all but the global min") {
    // 40 NEAR-identical vectors (bit-distinct — a per-id 1e-6 epsilon, cos
    // ≈ 1-1e-12 — so the exact-duplicate collapse leaves them alone) + 3
    // unrelated. k-means cannot usefully split near-ties, so the over-cap
    // block hits the depth cap and chunks by id; the representative chain
    // between chunk mins must flag every member except the global min.
    val dim = 8
    def same(i: Long) = Seq.tabulate(dim)(d =>
      (if (d == 3) 1.0f else 0.1f) + (if (d == 5) i * 1e-6f else 0.0f))
    // nClusters = 1 pins the family into ONE top-level cluster and
    // maxSplitDepth = 0 sends the over-cap block STRAIGHT to the hash-
    // chunk fallback (with k-means rounds allowed, the epsilon gradient
    // can legitimately sub-split it — a different path than this test
    // probes). Family-only corpus: every chunk min is a family member, so
    // the representative chain must flag all but the global min.
    val emb = (0L until 40L).map(i => (i, same(i))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.995, nClusters = 1, sampleSize = 100,
        maxCluster = 7, maxSplitDepth = 0)
      .select("vec_id", "is_semantic_duplicate").as[(Long, Boolean)].collect()
    assert(out.length == 40, "every doc must survive")
    val flagged = out.filter(_._2).map(_._1).toSet
    assert(flagged == (1L until 40L).toSet,
      s"all near-identical docs except the global min must flag, got $flagged")
  }

  test("semanticDedup exact-duplicate collapse: identical family never goes quadratic") {
    // 40 BIT-IDENTICAL vectors: the collapse flags 1..39 directly (cos
    // exactly 1) and only ONE representative enters the pairwise stage —
    // even with maxSplitDepth = 0 and an over-cap maxCluster the result is
    // exact. Zero vectors are exempt: self-cosine is not 1, so they must
    // never be collapsed into "duplicates" of each other.
    val dim = 8
    val same = Seq.tabulate(dim)(d => if (d == 3) 1.0f else 0.1f)
    val zero = Seq.fill(dim)(0.0f)
    // a NULL-element vector makes the collapse predicate three-valued:
    // without the coalesce pin such rows would vanish from BOTH branches.
    // r11 contract (quantized space): a NULL element quantizes to NULL,
    // the quantized cosine is NULL against ANYTHING, so null-element rows
    // are never collapsible and never flag — unknown data is not a
    // duplicate of anything (the pre-r11 float path read null elements as
    // 0.0 and flagged 203 against 202; the quantized semantics are the
    // ones the DuckDB oracle replays).
    val withNull = Seq.tabulate(dim)(d =>
      if (d == 0) null.asInstanceOf[java.lang.Float] else java.lang.Float.valueOf(0.5f))
    val emb = ((0L until 40L).map(i => (i, same.map(java.lang.Float.valueOf))) ++
        Seq((200L, zero.map(java.lang.Float.valueOf)), (201L, zero.map(java.lang.Float.valueOf)),
          (202L, withNull), (203L, withNull)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.995, nClusters = 2, sampleSize = 100,
        maxCluster = 5, maxSplitDepth = 0)
      .select("vec_id", "is_semantic_duplicate").as[(Long, Boolean)].collect()
    assert(out.length == 44, s"every doc must survive, incl. zero and NULL-element vectors: ${out.length}")
    val flagged = out.filter(_._2).map(_._1).toSet
    assert(flagged == (1L until 40L).toSet,
      s"identical members except the min must flag; zero and NULL-element vectors never flag: $flagged")
  }

  test("IVF recall survives a corpus whose head is one cluster (spread sample)") {
    // regression for the r2 finding: the training sample was the HEAD of
    // the table (orderBy(id).limit(n)); on a corpus where ingestion order
    // correlates with content, centroids degenerate to one region. Here
    // ids 0..999 are all cluster 0, the tail cycles clusters 1..3 — a
    // head sample would train all centroids on cluster 0 and recall for
    // tail queries would collapse; the hash-spread sample must not.
    val dim = 8
    val centers = Array.tabulate(4)(c => Array.tabulate(dim)(d =>
      if (d == 2 * c) 1.0f else if (d == 2 * c + 1) 0.5f else 0.0f))
    def vec(id: Long): Seq[Float] = {
      val c = if (id < 1000) 0 else 1 + (id % 3).toInt
      Seq.tabulate(dim) { d =>
        val h = graft.functions.Mix.splitmix64(id * 7919 + d)
        centers(c)(d) + (((h >>> 11) % 1000).toFloat / 10000f - 0.05f)
      }
    }
    val emb = (0L until 2000L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .localCheckpoint(true)
    val queries = emb.where($"vec_id" >= 1000 && $"vec_id" < 1005)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      nLists = 4, nProbe = 1, sampleSize = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"clustered-head IVF recall@10 = $recall%.3f")
    assert(recall >= 0.8, s"IVF recall $recall on clustered-head corpus — sample is biased")
  }

  test("IVF centroid training is deterministic") {
    val sample = Array.tabulate(100)(i => Array.tabulate(8)(d => (i * 31 + d).toFloat / 100f))
    val a = Similarity.trainCentroids(sample, 4, 5)
    val b = Similarity.trainCentroids(sample, 4, 5)
    assert(a == b)
    assert(a.length == 4 && a.head.length == 8)
  }

  test("topk is two-phase (partial aggregate, no per-query window) and window-equivalent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 3)
    val topk = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val plan = org.apache.spark.sql.graftshim.GraftShim.explainString(topk)
    assert(plan.contains("top_k_pairs"), "TopKPairs aggregate missing from plan")
    assert(!plan.contains("Window"), "per-query window (single-reducer top-k) still in plan")
    // value parity with the naive window formulation it replaced
    val c = emb.select($"vec_id".as("neighbor_id"), Dedup.quantize($"embedding").as("__qc"))
    val q = queries.select($"vec_id".as("query_id"), Dedup.quantize($"embedding").as("__qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_scaled".desc, $"neighbor_id")
    val viaWindow = c.join(q, $"query_id" =!= $"neighbor_id")
      .withColumn("cos_scaled", Similarity.cosScaled($"__qq", $"__qc"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= 5)
      .select("query_id", "rank", "neighbor_id", "cos_scaled")
      .as[(Long, Int, Long, Long)].collect().toSet
    val viaAgg = topk.as[(Long, Int, Long, Long)].collect().toSet
    assert(viaAgg == viaWindow)
  }

  test("brute force topk is deterministic and self-consistent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" === 0)
    val top = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5).collect()
    assert(top.length == 5)
    assert(top.map(_.getInt(1)).toSeq == Seq(1, 2, 3, 4, 5))
    val scores = top.map(_.getLong(3))
    assert(scores.sorted.reverse.toSeq == scores.toSeq) // descending
  }

  test("multimodal: real PNG/GIF payloads → real ImageIO decode of dims and frames") {
    // even id → PNG (1 frame); odd → animated GIF with 1 + id%4 frames
    val docs = Seq(2L, 3L, 5L).toDF("doc_id")
    val media = Multimodal.synthesizeImagePayloads(docs, "doc_id")
    assert(media.schema("payload").dataType.typeName == "binary")
    val meta = Multimodal.decodeMeta(spark, media).collect().map(m => m.doc_id -> m).toMap
    assert(meta(2L).media_type == "image/png" && meta(2L).n_frames == 1)
    assert(meta(3L).media_type == "image/gif" && meta(3L).n_frames == 4)
    assert(meta(5L).media_type == "image/gif" && meta(5L).n_frames == 2)
    assert(meta(3L).width == 19 && meta(3L).height == 37) // 16+3%64, 16+21%48
    assert(meta(2L).n_bytes > 0) // real encoder output, size not arithmetic
    val frames = Multimodal.sampleFrames(spark, media, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(frames == Set((2L, 0), (3L, 0), (3L, 2), (5L, 0)), s"$frames")
  }

  test("resolutionScreen: real decode, first-failing-rule attribution per planted geometry") {
    // id 0 → 16×16 (too_small); id 8 → 24×24 (keep, aspect 100);
    // id 56 → 72×24 (aspect 300 → extreme_aspect, min_side passes)
    val media = Multimodal.synthesizeImagePayloads(Seq(0L, 8L, 56L).toDF("doc_id"), "doc_id")
    val out = Multimodal.resolutionScreen(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getString(5) == "too_small" && !out(0L).getBoolean(6))
    assert(out(8L).isNullAt(5) && out(8L).getBoolean(6))
    assert(out(8L).getLong(4) == 100L)
    assert(out(56L).getString(5) == "extreme_aspect" && out(56L).getLong(4) == 300L)
  }

  test("grayDHash pins: horizontal-gradient PNG = all 63 bits; 1×1 tracking pixel = 0") {
    // gradient: every right neighbor strictly brighter → every comparison
    // bit fires → dhash = 2^63 − 1 (bit 63 reserved zero). The 1×1 pixel:
    // every grid cell clamps to the same pixel → no gradient → dhash = 0.
    import java.awt.image.BufferedImage
    val grad = new BufferedImage(9, 8, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 9) grad.getRaster.setSample(x, y, 0, x * 28)
    val px = new BufferedImage(1, 1, BufferedImage.TYPE_INT_RGB)
    px.setRGB(0, 0, 0x123456)
    val media = Seq((1L, Multimodal.encodePng(grad)), (2L, Multimodal.encodePng(px)))
      .toDF("doc_id", "payload")
    val got = Multimodal.grayDHash(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == Long.MaxValue, s"gradient dhash = ${got(1L)}")
    assert(got(2L) == 0L, s"tracking-pixel dhash = ${got(2L)}")
  }

  test("sobelEnergy pins: flat = 0, hand-computed step edge, 1×1 pixel reads 0/0") {
    import java.awt.image.BufferedImage
    val flat = new BufferedImage(5, 5, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 5; x <- 0 until 5) flat.getRaster.setSample(x, y, 0, 77)
    // 4×3 vertical step 0|0|255|255: both interior pixels see Gx = 4·255,
    // Gy = 0 → energy = 2040, mean = 2040 / 2 = 1020
    val step = new BufferedImage(4, 3, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 3; x <- 0 until 4)
      step.getRaster.setSample(x, y, 0, if (x >= 2) 255 else 0)
    val px = new BufferedImage(1, 1, BufferedImage.TYPE_BYTE_GRAY)
    val media = Seq((1L, Multimodal.encodePng(flat)), (2L, Multimodal.encodePng(step)),
      (3L, Multimodal.encodePng(px))).toDF("doc_id", "payload")
    val got = Multimodal.sobelEnergy(spark, media).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((5, 5, 0L, 0L)), s"flat image: ${got(1L)}")
    assert(got(2L) == ((4, 3, 2040L, 1020L)), s"step edge: ${got(2L)}")
    assert(got(3L) == ((1, 1, 0L, 0L)), s"tracking pixel: ${got(3L)}")
  }

  test("decodeLuma: R=G=B gray encoded as RGB recovers the gray value EXACTLY") {
    // the integer luma weights sum to 256: (77v + 150v + 29v) >> 8 = v
    import java.awt.image.BufferedImage
    val img = new BufferedImage(3, 1, BufferedImage.TYPE_INT_RGB)
    Seq(0, 127, 254).zipWithIndex.foreach { case (v, x) =>
      img.setRGB(x, 0, (v << 16) | (v << 8) | v)
    }
    val luma = Multimodal.decodeLuma(Multimodal.encodePng(img))
    assert(luma(0).toSeq == Seq(0, 127, 254), luma(0).toSeq.toString)
  }

  test("synthesizeGridPayloads → real decode → box downsample recovers the grid exactly") {
    val media = Multimodal.synthesizeGridPayloads(Seq(13L).toDF("doc_id"), "doc_id")
    val payload = media.collect()(0).getAs[Array[Byte]]("payload")
    val grid = Multimodal.boxGrid(Multimodal.decodeLuma(payload), gw = 9, gh = 8)
    assert(grid.toSeq == (0 until 72).map(Multimodal.gridCell(13L, _)), grid.toSeq.toString)
  }

  test("resizePixels: nearest-neighbor halving recovers replicated content; bounds + roundtrip") {
    // 18×16 = a 9×8 value grid replicated ×2; fitting into 9×8 samples the
    // even indices → recovers the grid bit-for-bit after PNG re-encode
    import java.awt.image.BufferedImage
    val src = new BufferedImage(18, 16, BufferedImage.TYPE_BYTE_GRAY)
    def cell(r: Int, c: Int): Int = (r * 9 + c * 131) % 256
    for (y <- 0 until 16; x <- 0 until 18)
      src.getRaster.setSample(x, y, 0, cell(y / 2, x / 2))
    val media = Seq((7L, Multimodal.encodePng(src))).toDF("doc_id", "payload")
    val out = Multimodal.resizePixels(spark, media, maxW = 9, maxH = 8).collect()(0)
    assert(out.getInt(2) == 9 && out.getInt(3) == 8, s"${out.getInt(2)}x${out.getInt(3)}")
    val luma = Multimodal.decodeLuma(out.getAs[Array[Byte]]("payload"))
    for (r <- 0 until 8; c <- 0 until 9)
      assert(luma(r)(c) == cell(r, c), s"cell ($r,$c): ${luma(r)(c)} != ${cell(r, c)}")
    // never upscales
    val same = Multimodal.resizePixels(spark, media, maxW = 100, maxH = 100).collect()(0)
    assert(same.getInt(2) == 18 && same.getInt(3) == 16)
  }

  test("pcmStats: hand-packed 16-bit PCM with an extra LIST chunk — per-channel stats") {
    // 2 channels, 3 frames: ch0 = [100, -32768, 32767], ch1 = [0, 5, -5];
    // a 3-byte LIST chunk (odd length → pad byte) sits between fmt and
    // data to exercise the real chunk walk
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 16 + 8 + 4 + 8 + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(4 + 24 + 12 + 20)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(2); bb.putInt(8000); bb.putInt(32000)
    bb.putShort(4); bb.putShort(16)
    bb.put("LIST".getBytes("US-ASCII")); bb.putInt(3)
    bb.put(Array[Byte](1, 2, 3, 0)) // 3 payload bytes + odd-length pad
    bb.put("data".getBytes("US-ASCII")); bb.putInt(12)
    Seq(100, 0, -32768, 5, 32767, -5).foreach(s => bb.putShort(s.toShort))
    val media = Seq((42L, bb.array())).toDF("doc_id", "payload")
    val got = Multimodal.pcmStats(spark, media).orderBy("channel").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val sq0 = 100L * 100 + 32768L * 32768 + 32767L * 32767
    assert(got.toSeq == Seq(
      (0, 3L, 32768L, sq0, 2L * 1000000 / 3),
      (1, 3L, 5L, 50L, 0L)), got.toSeq.toString)
  }

  test("frameDHash: indexed-palette GIF frames decode losslessly; per-frame grids recovered") {
    // doc 14 → 1 + 14%3 = 3 frames; each frame's dHash must equal the
    // Scala replay of gridCellAt — proving the GIF round-trip is exact
    // through palette, LZW, and the per-frame reader
    val media = Multimodal.synthesizeGridGifPayloads(Seq(14L).toDF("doc_id"), "doc_id")
    val got = Multimodal.frameDHash(spark, media).orderBy("frame")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(0, 1, 2), s"$got")
    val expect = (0 until 3).map { f =>
      (0 until 63).foldLeft(0L) { (acc, b) =>
        val k = (b / 8) * 9 + (b % 8)
        if (Multimodal.gridCellAt(14L, f, k + 1) > Multimodal.gridCellAt(14L, f, k))
          acc | (1L << b) else acc
      }
    }
    assert(got.map(_._3) == expect, s"got ${got.map(_._3)}, expected $expect")
    // consecutive frames: one advanced perturbed cell → within 4 bits
    got.map(_._3).sliding(2).foreach { case Seq(x, y) =>
      assert(java.lang.Long.bitCount(x ^ y) <= 4)
    }
  }

  test("imageStats: min/max/mean luma off real decoded pixels, hand-computed") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(4, 2, BufferedImage.TYPE_BYTE_GRAY)
    val vals = Seq(10, 200, 30, 40, 50, 60, 70, 255)
    for ((v, idx) <- vals.zipWithIndex)
      img.getRaster.setSample(idx % 4, idx / 4, 0, v)
    val media = Seq((3L, Multimodal.encodePng(img))).toDF("doc_id", "payload")
    val r = Multimodal.imageStats(spark, media).collect()(0)
    assert((r.getInt(1), r.getInt(2)) == (4, 2))
    assert((r.getInt(3), r.getInt(4)) == (10, 255))
    assert(r.getLong(5) == vals.map(_.toLong).sum / 8, s"${r.getLong(5)}")
  }

  test("pcmSilence: planted lead/mid/tail runs + the all-silent channel edge") {
    // builder-parser agreement on planted structure: id 13 → lead 6,
    // tail 3, quiet mid run of 4 nonzero-but-small samples
    val media = Multimodal.synthesizeWavSilencePayloads(Seq(13L).toDF("doc_id"), "doc_id")
    val got = Multimodal.pcmSilence(spark, media, threshold = 256)
      .orderBy("channel").collect()
    val n = 80 + 13 % 100
    got.foreach { r =>
      val ch = r.getInt(1)
      val samples = (0 until n).map(i => Multimodal.pcmSilenceSample(13L, ch, i, n))
      val silent = samples.map(s => math.abs(s) < 256)
      assert(r.getLong(2) == n)
      assert(r.getLong(3) == silent.count(identity), s"n_silent ch $ch")
      assert(r.getLong(4) == silent.indexOf(false), s"lead ch $ch")
      assert(r.getLong(5) == silent.reverse.indexOf(false), s"tail ch $ch")
      val maxRun = silent.foldLeft((0, 0)) { case ((best, cur), s) =>
        if (s) (math.max(best, cur + 1), cur + 1) else (best, 0)
      }._1
      assert(r.getLong(6) == maxRun, s"max_run ch $ch")
      assert(r.getLong(4) >= 6 && r.getLong(6) >= 6, "planted lead present")
    }
    // all-silent payload: 4 zero frames, mono → lead = tail = max_run = n
    val bb = java.nio.ByteBuffer.allocate(44 + 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + 8)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000)
    bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(8)
    val quiet = Seq((9L, bb.array())).toDF("doc_id", "payload")
    val q = Multimodal.pcmSilence(spark, quiet).collect()(0)
    assert((q.getLong(2), q.getLong(3), q.getLong(4), q.getLong(5), q.getLong(6))
      == (4L, 4L, 4L, 4L, 4L), s"$q")
  }

  test("tolerant decode twins: planted garbage + truncated PNG reject with pinned classes; survivors identical to the loud pass") {
    val docs = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    val media = Multimodal.synthesizeGridPayloads(docs, "doc_id")
    val rows = media.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    assert(rows.forall(_._2.length > 64), "grid PNGs must outsize the truncation point")
    val planted = rows.map {
      case (1L, _) => (1L, Array[Byte](0x11) ++ Array.fill[Byte](16)(0x5a)) // no magic
      case (2L, p) => (2L, p.take(64)) // IHDR intact, IDAT missing
      case x => x
    }.toSeq.toDF("doc_id", "payload")

    // pixel pass: both plants reject with their deterministic classes
    val st = Multimodal.imageStatsTolerant(spark, planted).orderBy("doc_id").collect()
    assert(st.length == 4) // one row per input, nothing dropped
    val byId = st.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getString(6) == "no_reader" && byId(1L).isNullAt(1))
    assert(byId(2L).getString(6) == "IIOException" && byId(2L).isNullAt(5))
    // survivors bit-identical to the loud pass over the clean subset
    val clean = rows.filter(r => r._1 == 0L || r._1 == 3L).toSeq.toDF("doc_id", "payload")
    val loud = Multimodal.imageStats(spark, clean).orderBy("doc_id").collect()
    for ((l, id) <- loud.zip(Seq(0L, 3L))) {
      val t = byId(id)
      assert(t.isNullAt(6), s"doc $id must survive")
      assert((1 to 5).forall(i => l.get(i) == t.get(i)), s"doc $id: $l vs $t")
    }

    // metadata pass: the truncated PNG SURVIVES (header-only decode) —
    // the exact crawl behavior: meta green, pixels quarantined
    val mt = Multimodal.decodeMetaTolerant(spark, planted).orderBy("doc_id").collect()
    val mById = mt.map(r => r.getLong(0) -> r).toMap
    assert(mById(1L).getString(6) == "no_reader")
    assert(mById(1L).getLong(2) == 17L) // n_bytes accounted on rejects
    assert(mById(2L).isNullAt(6) && mById(2L).getInt(3) == 36 && mById(2L).getInt(4) == 32)
    assert(mById(0L).getString(1) == "image/png" && mById(0L).getInt(5) == 1)

    // dhash pass mirrors the stats contract
    val dh = Multimodal.grayDHashTolerant(spark, planted).orderBy("doc_id").collect()
    val dById = dh.map(r => r.getLong(0) -> r).toMap
    assert(dById(1L).getString(2) == "no_reader" && dById(1L).isNullAt(1))
    assert(dById(2L).getString(2) == "IIOException")
    val loudDh = Multimodal.grayDHash(spark, clean).orderBy("doc_id").collect()
    assert(dById(0L).getLong(1) == loudDh(0).getLong(1))
    assert(dById(3L).getLong(1) == loudDh(1).getLong(1))
  }

  test("sobelEnergyTolerant / pcmSilenceTolerant: the remaining decode passes share the reject contract") {
    // image side: garbage rejects as no_reader, survivors equal the loud pass
    val media = Multimodal.synthesizeGridPayloads(Seq(0L, 1L).toDF("doc_id"), "doc_id")
    val rows = media.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    val planted = rows.map {
      case (1L, _) => (1L, Array[Byte](0x11) ++ Array.fill[Byte](8)(0x2a))
      case x => x
    }.toSeq.toDF("doc_id", "payload")
    val sb = Multimodal.sobelEnergyTolerant(spark, planted).orderBy("doc_id").collect()
    assert(sb(1).getString(5) == "no_reader" && sb(1).isNullAt(3), sb.mkString(","))
    val loud = Multimodal.sobelEnergy(spark,
      rows.take(1).toSeq.toDF("doc_id", "payload")).collect()(0)
    assert(sb(0).isNullAt(5) && (1 to 4).forall(i => sb(0).get(i) == loud.get(i)),
      s"${sb(0)} vs $loud")
    // audio side: one bad_wav row per reject, survivors match per channel
    val wav = Multimodal.synthesizeWavSilencePayloads(Seq(13L).toDF("doc_id"), "doc_id")
    val wrows = wav.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    val wplanted = (wrows.toSeq :+ ((99L, "junk bytes".getBytes("US-ASCII"))))
      .toDF("doc_id", "payload")
    val got = Multimodal.pcmSilenceTolerant(spark, wplanted, threshold = 256)
      .orderBy("doc_id", "channel").collect()
    val (bad, ok) = got.partition(_.getLong(0) == 99L)
    assert(bad.length == 1 && bad(0).getString(7) == "bad_wav" && bad(0).isNullAt(1),
      bad.mkString(","))
    val loudW = Multimodal.pcmSilence(spark, wav, threshold = 256)
      .orderBy("channel").collect()
    assert(ok.length == loudW.length)
    for ((t, l) <- ok.zip(loudW))
      assert(t.isNullAt(7) && (1 to 6).forall(i => t.get(i) == l.get(i)), s"$t vs $l")
  }

  test("pcmStatsTolerant: non-RIFF payload rejects as ONE bad_wav row; survivors match the loud pass per channel") {
    val media = Multimodal.synthesizeWavPcmPayloads(Seq(9L, 10L).toDF("doc_id"), "doc_id")
    val rows = media.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    val planted = rows.map {
      case (10L, _) => (10L, "this is not audio at all".getBytes("US-ASCII"))
      case x => x
    }.toSeq.toDF("doc_id", "payload")
    val got = Multimodal.pcmStatsTolerant(spark, planted).orderBy("doc_id", "channel").collect()
    val (bad, ok) = got.partition(_.getLong(0) == 10L)
    assert(bad.length == 1 && bad(0).getString(6) == "bad_wav" && bad(0).isNullAt(1))
    val loud = Multimodal.pcmStats(spark,
      rows.filter(_._1 == 9L).toSeq.toDF("doc_id", "payload")).orderBy("channel").collect()
    assert(ok.length == loud.length) // doc 9: 2 channels
    for ((t, l) <- ok.zip(loud)) {
      assert(t.isNullAt(6))
      assert((1 to 5).forall(i => t.get(i) == l.get(i)), s"$t vs $l")
    }
  }

  test("JPEG battery: meta exact through the lossy codec; pixel metrics within tolerance bands") {
    // dims/format/frames survive JPEG exactly (hash-gateable); pixels are
    // deterministic but lossy — tolerance bands, not equality
    val docs = Seq(0L, 1L, 123L).toDF("doc_id")
    val media = Multimodal.synthesizeJpegPayloads(docs, "doc_id")
    val meta = Multimodal.decodeMeta(spark, media).collect().map(m => m.doc_id -> m).toMap
    for (id <- Seq(0L, 1L, 123L)) {
      assert(meta(id).media_type == "image/jpeg" && meta(id).n_frames == 1)
      assert(meta(id).width == (16 + id % 64).toInt, s"doc $id width")
      assert(meta(id).height == (16 + id * 7 % 48).toInt, s"doc $id height")
    }
    // mean luma within ±2 of the planted gradient's exact mean
    val st = Multimodal.imageStats(spark, media).collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 1L, 123L)) {
      val (w, h) = ((16 + id % 64).toInt, (16 + id * 7 % 48).toInt)
      assert(st(id).getInt(1) == w && st(id).getInt(2) == h)
      val exact = (for (y <- 0 until h; x <- 0 until w)
        yield ((x * 3 + y * 5 + id * 11) % 240).toLong).sum / (w * h)
      assert(math.abs(st(id).getLong(5) - exact) <= 2, s"doc $id mean ${st(id).getLong(5)} vs $exact")
    }
    // a horizontal gradient dHash survives the JPEG roundtrip within 8 bits
    import java.awt.image.BufferedImage
    val grad = new BufferedImage(36, 32, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 32; x <- 0 until 36) grad.getRaster.setSample(x, y, 0, x * 7)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grad, "jpg", bos)
    val jm = Seq((1L, bos.toByteArray)).toDF("doc_id", "payload")
    val dh = Multimodal.grayDHash(spark, jm).collect()(0).getLong(1)
    assert(java.lang.Long.bitCount(dh ^ (Long.MaxValue)) <= 8, s"dhash $dh drifted")
  }

  test("textRank: the hub word outranks the leaves; composition equals a manual pageRank") {
    // star corpus: "alpha" is the bigram hub — TextRank must put it first
    val docs = ((1 to 3).map(i => (i.toLong, "alpha beta")) ++
      (4 to 6).map(i => (i.toLong, "alpha gamma")) ++
      (7 to 9).map(i => (i.toLong, "alpha delta"))).toDF("doc_id", "text")
    val got = TextAnalysis.textRank(docs, "text", iterations = 3, minCount = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.head._1 == "alpha", s"hub must rank first: $got")
    assert(got.map(_._1).toSet == Set("alpha", "beta", "gamma", "delta"))
    assert(got == got.sortBy(t => (-t._2, t._1)), s"order contract: $got")
    // composition: the same ranks as calling pageRank on the hand-built
    // md5-id weighted graph (each bigram once per direction, count = 3)
    def h60(w: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"tr:$w".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)
    val ids = Seq("alpha", "beta", "gamma", "delta").map(w => w -> h60(w)).toMap
    val fe = Seq(("alpha", "beta", 3L), ("alpha", "gamma", 3L), ("alpha", "delta", 3L))
    val edges = (fe.map { case (a, b, n) => (ids(a), ids(b), n) } ++
      fe.map { case (a, b, n) => (ids(b), ids(a), n) }).toDF("src", "dst", "w")
    val manual = Graph.pageRank(edges, "src", "dst", 3, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.toMap == got.map { case (w, r) => w -> manual(ids(w)) }.toMap,
      s"textRank must equal pageRank over the hand graph: $got vs $manual")
    // k truncates deterministically
    assert(TextAnalysis.textRank(docs, "text", 3, 1, 2).count() == 2L)
  }

  test("pmiCollocations: hand-computed pmi64 incl. the negative over-expected case; minCount + tie order") {
    // controlled bigram corpus: N = 20; margins alpha·=15, delta·=5,
    // ·beta=15, ·gamma=5. (alpha, beta) co-occurs 10× yet reads NEGATIVE
    // pmi — independence expects 15·15/20 = 11.25 > 10 (the classic PMI
    // property a raw-count ranking misses)
    val docs = ((1 to 10).map(i => (i.toLong, "alpha beta")) ++
      (11 to 15).map(i => (i.toLong, "alpha gamma")) ++
      (16 to 20).map(i => (i.toLong, "delta beta"))).toDF("doc_id", "text")
    // lg64: lg(5)=208, lg(10)=272, lg(15)=312, lg(20)=336
    // pmi(alpha,gamma) = 208+336−312−208 = 24 = pmi(delta,beta)
    // pmi(alpha,beta)  = 272+336−312−312 = −16
    val got = TextAnalysis.pmiCollocations(docs, "text", minCount = 5, k = 5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("alpha", "gamma", 5L, 24L), ("delta", "beta", 5L, 24L),
      ("alpha", "beta", 10L, -16L)), got.toString)
    // the floor prunes pairs, not margins: raising it to 6 keeps only
    // (alpha, beta) with UNCHANGED margins hence the same −16
    val floored = TextAnalysis.pmiCollocations(docs, "text", minCount = 6, k = 5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(floored == Seq(("alpha", "beta", 10L, -16L)), floored.toString)
  }

  test("luhnAudit: classic valid PAN counts, off-by-one fails, length gate excludes 12/20-digit runs") {
    val docs = Seq(
      (1L, "paid with 4111111111111111 today"),          // Luhn-valid 16
      (2L, "paid with 4111111111111112 today"),          // one digit off
      (3L, "ref 123456789012 and 12345678901234567890"), // 12 + 20 digits: gated out
      (4L, "card 4111111111111111 then 79927398713 then 4111111111111112"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.luhnAudit(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got(0) == ((1L, 1L, 1L)), got.mkString(","))
    assert(got(1) == ((2L, 1L, 0L)), got.mkString(","))
    assert(got(2) == ((3L, 0L, 0L)), got.mkString(","))
    // doc 4: 79927398713 is Luhn-valid but 11 digits — length-gated out
    assert(got(3) == ((4L, 2L, 1L)), got.mkString(","))
    assert(got(4) == ((5L, 0L, 0L)), got.mkString(","))
  }

  test("ngramNovelty: all-new doc reads 1e6 ppm, re-crawl reads 0, mixed in between; short docs NULL") {
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // verbatim re-crawl
      (2L, "completely novel words nowhere in reference"),
      (3L, "the quick brown fox went somewhere else entirely"), // shared prefix
      (4L, "too short")).toDF("doc_id", "text") // 2 words < 3-gram
    val got = TextAnalysis.ngramNovelty(probe, "doc_id", "text", ref, "text", n = 3)
      .orderBy("doc_id").collect()
    assert(got(0).getLong(3) == 0L, s"${got(0)}")
    assert(got(1).getLong(3) == 1000000L, s"${got(1)}")
    val mixed = got(2)
    assert(mixed.getLong(1) > 0 && mixed.getLong(2) > 0 &&
      mixed.getLong(2) < mixed.getLong(1), s"$mixed")
    assert(got(3).getLong(1) == 0L && got(3).isNullAt(3), s"${got(3)}")
  }

  test("packChop: pieces tile every bin to exact capacity, cover every doc, and are partition-invariant") {
    val rnd = new scala.util.Random(3)
    val docs = (1L to 200L).map(id => (id, 1L + rnd.nextInt(40).toLong)).toDF("id", "n_toks")
    val out = TextAnalysis.packChop(docs, "id", "n_toks", capacity = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val inputByDoc = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc's pieces are contiguous from offset 0 and sum to its n
    for ((id, n) <- inputByDoc) {
      val pieces = out.filter(_._2 == id).sortBy(_._3)
      assert(pieces.map(_._5).sum == n, s"doc $id")
      assert(pieces.head._3 == 0L, s"doc $id starts at 0")
      assert(pieces.sliding(2).forall {
        case Array(a, b) => a._3 + a._5 == b._3 && b._1 == a._1 + 1
        case _ => true
      }, s"doc $id pieces contiguous across consecutive bins")
    }
    // every bin except the last tiles to exact capacity with no gaps
    val lastBin = out.map(_._1).max
    for ((bin, pieces) <- out.groupBy(_._1)) {
      val sorted = pieces.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"bin $bin starts at 0")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 + a._5 == b._4
        case _ => true
      }, s"bin $bin contiguous")
      if (bin != lastBin)
        assert(sorted.map(_._5).sum == 64L, s"bin $bin full")
    }
    assert(out.map(_._5).sum == inputByDoc.values.sum)
    // partition-invariance: 3-way vs 17-way repartition, identical rows
    val a = TextAnalysis.packChop(docs.repartition(3), "id", "n_toks", 64L)
      .collect().map(_.toSeq).toSet
    val b = TextAnalysis.packChop(docs.repartition(17), "id", "n_toks", 64L)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    // token-less docs are excluded
    val withZero = (docs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq :+ (999L, 0L))
      .toDF("id", "n_toks")
    assert(!TextAnalysis.packChop(withZero, "id", "n_toks", 64L)
      .collect().exists(_.getLong(1) == 999L))
  }

  test("pcmStats: builder-parser agreement with the planted sample arithmetic") {
    val media = Multimodal.synthesizeWavPcmPayloads(Seq(9L, 10L).toDF("doc_id"), "doc_id")
    val got = Multimodal.pcmStats(spark, media).orderBy("doc_id", "channel").collect()
    got.foreach { r =>
      val (id, ch, n) = (r.getLong(0), r.getInt(1), r.getLong(2))
      assert(n == 64 + id % 129, s"doc $id")
      val samples = (0 until n.toInt).map(i => Multimodal.pcmSample(id, ch, i).toLong)
      assert(r.getLong(3) == samples.map(math.abs).max, s"peak doc $id ch $ch")
      assert(r.getLong(4) == samples.map(s => s * s).sum, s"sum_sq doc $id ch $ch")
      val clip = samples.count(s => s == 32767 || s == -32768).toLong
      assert(r.getLong(5) == clip * 1000000 / n, s"clip doc $id ch $ch")
    }
    assert(got.length == 1 + 2) // doc 9 → 1+9%2 = 2 channels? (9%2=1 → 2ch); doc 10 → 1ch
  }

  test("connected components labels chains, stars, and singletons correctly") {
    val ids = spark.range(0, 20).toDF("id")
    // chain 0-1-2-3-4, star 10-{11,12,13}, pair 17-18; rest singletons
    val pairs = Seq((0L,1L),(1L,2L),(2L,3L),(3L,4L),(10L,11L),(10L,12L),(10L,13L),(17L,18L))
      .toDF("a", "b")
    val groups = Dedup.connectedComponents(ids, pairs, maxIters = 5)
      .as[(Long, Long)].collect().toMap
    (0L to 4L).foreach(i => assert(groups(i) == 0L, s"chain member $i"))
    Seq(10L, 11L, 12L, 13L).foreach(i => assert(groups(i) == 10L, s"star member $i"))
    assert(groups(17L) == 17L && groups(18L) == 17L)
    Seq(5L, 9L, 19L).foreach(i => assert(groups(i) == i, s"singleton $i"))
  }

  test("appendGroups: fold a batch into stored groups ≡ full recompute, incl. merges") {
    // stored corpus: ids 0..19; components {0,1,2}, {5,6}, rest singletons
    val aIds = spark.range(0, 20).toDF("id")
    val aPairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("a", "b")
    val stored = Dedup.connectedComponents(aIds, aPairs)
    // batch: 100..105. 100-101 a B×B pair; 102 joins stored group 0;
    // 104 BRIDGES stored groups 0 and 5 (the two-components merge case);
    // 103 joins group 5; 105 a singleton
    val bIds = Seq(100L, 101L, 102L, 103L, 104L, 105L).toDF("id")
    val bPairs = Seq((100L, 101L), (102L, 2L), (103L, 5L),
      (104L, 1L), (104L, 6L)).toDF("a", "b")
    val got = Dedup.appendGroups(stored, bIds, bPairs)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
        aIds.union(bIds), aPairs.union(bPairs))
      .as[(Long, Long)].collect().toMap
    assert(got == full, s"append ≠ recompute:\n  append=$got\n  full=$full")
    // the merge actually happened: 0,1,2,5,6,102,103,104 all in group 0
    Seq(0L, 1L, 2L, 5L, 6L, 102L, 103L, 104L).foreach(i =>
      assert(got(i) == 0L, s"member $i of the merged component"))
    assert(got(105L) == 105L && got(100L) == 100L && got(101L) == 100L)
    // untouched singletons pass through unchanged
    Seq(3L, 10L, 19L).foreach(i => assert(got(i) == i))
  }

  test("appendGroups: overlapping batch ids and unknown pair endpoints are loud") {
    val stored = Seq((1L, 1L), (2L, 1L)).toDF("id", "group_id")
    intercept[IllegalArgumentException] {
      Dedup.appendGroups(stored, Seq(2L, 50L).toDF("id"),
        Seq.empty[(Long, Long)].toDF("a", "b"))
    }
    val e = intercept[Exception] {
      Dedup.appendGroups(stored, Seq(50L).toDF("id"),
        Seq((50L, 999L)).toDF("a", "b")).collect()
    }
    assert(e.getMessage.contains("999") ||
      Option(e.getCause).exists(_.getMessage.contains("999")), s"$e")
  }

  test("group table lifecycle: seed + two appends ≡ full recompute (snapshots versioned)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_groups").toString
    val ids0 = spark.range(0, 10).toDF("id")
    val pairs0 = Seq((0L, 1L), (4L, 5L)).toDF("a", "b")
    val p0 = Dedup.writeGroupTable(ids0, pairs0, dir)
    val ids1 = Seq(20L, 21L).toDF("id")
    val pairs1 = Seq((20L, 1L)).toDF("a", "b")
    val p1 = Dedup.appendGroupTable(spark, p0, ids1, pairs1, dir, "v1")
    val ids2 = Seq(30L).toDF("id")
    val pairs2 = Seq((30L, 21L), (30L, 4L)).toDF("a", "b")
    val p2 = Dedup.appendGroupTable(spark, p1, ids2, pairs2, dir, "v2")
    val got = spark.read.parquet(p2).as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
        ids0.union(ids1).union(ids2),
        pairs0.union(pairs1).union(pairs2))
      .as[(Long, Long)].collect().toMap
    assert(got == full, s"lifecycle ≠ recompute:\n  got=$got\n  full=$full")
    // write-audit-publish: every snapshot still readable
    assert(spark.read.parquet(p0).count() == 10)
    assert(spark.read.parquet(p1).count() == 12)
  }

  test("connected components converges on a planted chain of diameter 120") {
    // the at-scale hazard VERDICT r2 flagged: a duplicate *chain* far longer
    // than any fixed round count covers. Path doubling needs ~log2(120)+1
    // rounds; the fixpoint check must stop there, and the result must put
    // all 121 nodes in group 0.
    val ids = spark.range(0, 121).toDF("id")
    val pairs = spark.range(0, 120).selectExpr("id AS a", "id + 1 AS b")
    val groups = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups.size == 121)
    assert(groups.values.forall(_ == 0L), "every chain member labeled with min id 0")
  }

  test("connected components throws rather than returning truncated groups at the cap") {
    val ids = spark.range(0, 40).toDF("id")
    val pairs = spark.range(0, 39).selectExpr("id AS a", "id + 1 AS b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(ids, pairs, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("still changing"))
  }

  test("rangeJoin matches points to intervals exactly, half-open, no nested loop") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 15L), (4L, 99L), (5L, 100L))
      .toDF("pid", "t")
    val intervals = Seq((10L, 0L, 10L), (20L, 10L, 20L), (30L, 5L, 6L), (40L, 0L, 100L))
      .toDF("iid", "s", "e")
    val out = Relational.rangeJoin(points, intervals, "t", "s", "e", bin = 4L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // half-open [s, e): t=10 joins [10,20) not [0,10); t=100 outside [0,100);
    // the 25-bin interval [0,100) matches each point exactly once
    assert(out == Set((1L, 10L), (1L, 30L), (1L, 40L), (2L, 20L), (2L, 40L),
      (3L, 20L), (3L, 40L), (4L, 40L)))
    val plan = Relational.rangeJoin(points, intervals, "t", "s", "e", bin = 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must stay an equi join on the bin:\n$plan")
  }

  test("rangeJoin ignores null and empty intervals and null points") {
    val points = Seq((1L, Option(5L)), (2L, Option.empty[Long])).toDF("pid", "t")
    val intervals = Seq((10L, Option(0L), Option(10L)), (20L, Option(5L), Option(5L)),
      (30L, Option.empty[Long], Option(10L))).toDF("iid", "s", "e")
    val out = Relational.rangeJoin(points, intervals, "t", "s", "e", bin = 4L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L)))
  }

  test("asofJoin picks the nearest preceding right row; ties inclusive, nulls carried") {
    val left = Seq((1L, 1L, 5L), (2L, 1L, 15L), (3L, 1L, 25L), (4L, 2L, 7L))
      .toDF("lid", "user", "t")
    val right = Seq(
      (10L, 1L, 10L, Option(1.5)),
      (11L, 1L, 15L, Option.empty[Double]), // tie with lid=2; null value must still match
      (12L, 2L, 20L, Option(9.9)))
      .toDF("rid", "user", "rt", "v")
    val out = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid", Seq("rid", "v"))
      .orderBy("lid")
      .select("lid", "rid_asof", "v_asof")
      .collect()
    assert(out(0).isNullAt(1), "t=5 has no preceding view")               // lid 1
    assert(out(1).getLong(1) == 11L && out(1).isNullAt(2), "tie at t=15") // lid 2
    assert(out(2).getLong(1) == 11L, "t=25 still latest right t=15")      // lid 3
    assert(out(3).isNullAt(1), "other user's right rows invisible")       // lid 4
  }

  test("asofJoin forward direction picks the earliest following right row") {
    val left = Seq((1L, 1L, 5L), (2L, 1L, 15L), (3L, 1L, 25L)).toDF("lid", "user", "t")
    val right = Seq((10L, 1L, 10L), (11L, 1L, 15L)).toDF("rid", "user", "rt")
    val out = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid",
        Seq("rid"), direction = "forward")
      .orderBy("lid").select("lid", "rid_asof").collect()
    assert(out(0).getLong(1) == 10L, "t=5 → next right at 10")
    assert(out(1).getLong(1) == 11L, "t=15 tie is inclusive")
    assert(out(2).isNullAt(1), "t=25 has no following right")
  }

  test("asofJoin tolerance: stale matches null out, fresh ones survive, both directions") {
    val left = Seq((1L, 1L, 100L), (2L, 1L, 200L)).toDF("lid", "user", "t")
    val right = Seq((10L, 1L, 95L), (11L, 1L, 120L)).toDF("rid", "user", "rt")
    // backward, tolerance 10: t=100 matches rt=95 (5 away); t=200's
    // latest right is rt=120 — 80 away, STALE → null, not the next-older
    val back = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid",
        Seq("rid"), tolerance = Some(lit(10L)))
      .orderBy("lid").select("lid", "rid_asof").collect()
    assert(back(0).getLong(1) == 10L && back(1).isNullAt(1), s"${back.toSeq}")
    // forward, tolerance 10: t=100's next right is rt=120 — too far
    val fwd = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid",
        Seq("rid"), direction = "forward", tolerance = Some(lit(10L)))
      .orderBy("lid").select("lid", "rid_asof").collect()
    assert(fwd(0).isNullAt(1) && fwd(1).isNullAt(1), s"${fwd.toSeq}")
    // no tolerance: bit-identical to the original op (the None default)
    val plain = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid",
        Seq("rid")).orderBy("lid").select("lid", "rid_asof").collect()
    assert(plain(0).getLong(1) == 10L && plain(1).getLong(1) == 11L)
    intercept[IllegalArgumentException](Relational.asofJoin(left, right,
      Seq("user"), "t", "rt", "rid", Seq("__mt")))
  }

  test("asofJoin nearest: smaller gap wins, exact ties go backward, tolerance per side") {
    val left = Seq((1L, 1L, 100L), (2L, 1L, 109L), (3L, 1L, 200L))
      .toDF("lid", "user", "t")
    val right = Seq((10L, 1L, 95L), (11L, 1L, 120L)).toDF("rid", "user", "rt")
    val out = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid",
        Seq("rid"), direction = "nearest")
      .orderBy("lid").select("lid", "rid_asof").collect()
    assert(out(0).getLong(1) == 10L, "t=100: 5 back beats 20 fwd")
    assert(out(1).getLong(1) == 11L, "t=109: 11 fwd beats 14 back")
    assert(out(2).getLong(1) == 11L, "t=200: only a backward side exists")
    // exact-gap tie: t=110 is 15 from both 95 and... craft 105/115
    val tie = Seq((1L, 1L, 110L)).toDF("lid", "user", "t")
    val r2 = Seq((20L, 1L, 105L), (21L, 1L, 115L)).toDF("rid", "user", "rt")
    assert(Relational.asofJoin(tie, r2, Seq("user"), "t", "rt", "rid",
      Seq("rid"), direction = "nearest").head.getLong(3) == 20L,
      "equal gaps resolve to the backward match")
    // tolerance rejects each side independently
    val tol = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid",
        Seq("rid"), direction = "nearest", tolerance = Some(lit(10L)))
      .orderBy("lid").select("lid", "rid_asof").collect()
    assert(tol(0).getLong(1) == 10L && tol(2).isNullAt(1), s"${tol.toSeq}")
  }

  test("asofJoin never matches NULL-time rows, either side, either direction") {
    // right rows with NULL rt would otherwise sort nulls-first and become
    // the running-last match for left rows with no true predecessor
    val left = Seq((1L, 1L, Option(5L)), (2L, 1L, Option.empty[Long]))
      .toDF("lid", "user", "t")
    val right = Seq((10L, 1L, Option.empty[Long], 1.0), (11L, 1L, Option(20L), 2.0))
      .toDF("rid", "user", "rt", "v")
    val back = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid", Seq("rid"))
      .orderBy("lid").select("rid_asof").collect()
    assert(back(0).isNullAt(0), "null-rt right row must not match t=5")
    assert(back(1).isNullAt(0), "null-t left row matches nothing")
    val fwd = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid",
        Seq("rid"), direction = "forward")
      .orderBy("lid").select("rid_asof").collect()
    assert(fwd(0).getLong(0) == 11L, "t=5 → next real right at 20")
    assert(fwd(1).isNullAt(0), "null-t left row matches nothing under desc order either")
  }

  test("asofJoin breaks equal-time right rows by highest rightId deterministically") {
    val left = Seq((1L, 1L, 20L)).toDF("lid", "user", "t")
    val right = Seq((5L, 1L, 10L, 1.0), (7L, 1L, 10L, 2.0), (6L, 1L, 10L, 3.0))
      .toDF("rid", "user", "rt", "v")
    val out = Relational.asofJoin(left, right, Seq("user"), "t", "rt", "rid", Seq("rid"))
      .select("rid_asof").head
    assert(out.getLong(0) == 7L)
  }

  test("vocabulary returns top tokens by count with deterministic ties") {
    val df = Seq((1L, "b a a"), (2L, "a c b")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(df, "text", topN = 2)
      .as[(String, Long)].collect().toSeq
    assert(v == Seq(("a", 3L), ("b", 2L)))
  }

  test("contamination flags exactly the docs sharing n-grams with the benchmark") {
    val train = Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8")).toDF("doc_id", "text")
    val bench = Seq(Tuple1("w3 w4 w5 w6")).toDF("text")
    val hits = TextAnalysis.contamination(train, bench, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(0L -> 2L)) // "w3 w4 w5" and "w4 w5 w6"
  }

  test("TopKPairs.perGroup equals the window formulation") {
    val df = Seq(("a", 10L, 1L), ("a", 30L, 2L), ("a", 30L, 3L), ("a", 20L, 4L),
                 ("b", 5L, 9L)).toDF("g", "score", "id")
    val got = graft.functions.TopKPairs.perGroup(df, Seq("g"), "score", "id", 2)
      .as[(String, Int, Long, Long)].collect().toSet
    // score DESC, id ASC: group a → (30,2),(30,3); group b → (5,9)
    assert(got == Set(("a", 1, 2L, 30L), ("a", 2, 3L, 30L), ("b", 1, 9L, 5L)))
  }

  test("TopKPairs.perGroup ignores null scores/ids and drops all-null groups") {
    val df = Seq(("a", Option(10L), Option(1L)), ("a", Option.empty[Long], Option(2L)),
                 ("b", Option.empty[Long], Option(9L)), ("c", Option(7L), Option.empty[Long]))
      .toDF("g", "score", "id")
    val got = graft.functions.TopKPairs.perGroup(df, Seq("g"), "score", "id", 2)
      .as[(String, Int, Long, Long)].collect().toSet
    // documented contract: null score/id rows never rank; groups b and c
    // (all rows null in one input) emit nothing
    assert(got == Set(("a", 1, 1L, 10L)))
  }

  test("crossCorpus admits only fresh docs absent from the reference corpus") {
    val ref = Seq((100L, "The quick   brown fox")).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "the quick brown fox"), // same normalized content as ref 100
      (2L, "an entirely new document")).toDF("doc_id", "text")
    val admitted = Dedup.crossCorpus(fresh, ref, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L))
    val bcast = Dedup.crossCorpus(fresh, ref, "text", broadcastRef = true)
      .select("doc_id").as[Long].collect().toSet
    assert(bcast == Set(2L))
  }

  test("minhashCrossCandidates blocks fresh near-dups of reference docs") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "a completely different reference document about catalyst internals")).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 100
      (2L, "totally unrelated content regarding quantum chromodynamics")).toDF("doc_id", "text")
    val cands = Dedup.minhashCrossCandidates(fresh, ref, "doc_id", "text",
      numHashes = 128, bands = 32)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 100L)), s"planted near-dup not blocked: $cands")
    val verified = Dedup.verifyJaccard(
      Dedup.minhashCrossCandidates(fresh, ref, "doc_id", "text", numHashes = 128, bands = 32),
      fresh.unionByName(ref), "doc_id", "text", shingle = 5)
      .where($"jaccard" >= 0.6).select("a", "b").as[(Long, Long)].collect().toSet
    assert(verified == Set((1L, 100L)), s"verify must keep only the true near-dup: $verified")
  }

  test("persisted near-dup gate equals the in-job gate; two batches reuse one build") {
    // bigger reference so the gate has real bucket structure: 40 docs with
    // hash-drawn words + 2 distinctive docs the batches will near-duplicate
    val refDocs = (0L until 40L).map { i =>
      (100L + i, (0 until 30).map(w => s"w${(i * 31 + w * 7) % 97}").mkString(" "))
    } ++ Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (901L, "a completely different reference document about catalyst internals"))
    val ref = refDocs.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup_gate").toString
    Dedup.buildNearDupGate(ref, "doc_id", "text", dir, numHashes = 128, bands = 32)
    // batch 1: one near-dup of ref 900, one novel doc
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (2L, "totally unrelated content regarding quantum chromodynamics")).toDF("doc_id", "text")
    // batch 2 (same build, later day): near-dup of ref 901 + novel
    val batch2 = Seq(
      (3L, "a completely different reference document about catalyst itself"),
      (4L, "fresh crawl material with no counterpart whatsoever in the corpus")).toDF("doc_id", "text")
    for (batch <- Seq(batch1, batch2)) {
      val persisted = Dedup.queryNearDupGate(batch, "doc_id", "text", dir)
        .as[(Long, Long)].collect().toSet
      val inJob = Dedup.minhashCrossCandidates(batch, ref, "doc_id", "text",
        numHashes = 128, bands = 32).as[(Long, Long)].collect().toSet
      assert(persisted == inJob, s"persisted gate must equal in-job gate: $persisted vs $inJob")
    }
    // the planted pairs actually surface (the equality above is not vacuous)
    assert(Dedup.queryNearDupGate(batch1, "doc_id", "text", dir)
      .as[(Long, Long)].collect().toSet.contains((1L, 900L)))
    assert(Dedup.queryNearDupGate(batch2, "doc_id", "text", dir)
      .as[(Long, Long)].collect().toSet.contains((3L, 901L)))
    // band geometry comes from the stored meta — a query cannot probe with
    // mismatched parameters by construction (no parameters to pass)
    val meta = spark.read.parquet(s"$dir/meta").collect().head
    assert((meta.getInt(0), meta.getInt(1)) == (128, 32))
  }

  test("line-level dedup flags and strips corpus-duplicated lines, preserving order") {
    val boiler = "subscribe to our newsletter for updates" // ≥ minLineChars, in 3 docs
    val nav = "home about contact privacy terms of service"
    val docs = Seq(
      (1L, s"$boiler\nunique first content line\n$nav\nmore unique text one"),
      (2L, s"unique second document line\n$boiler\n$nav"),
      (3L, s"$boiler\nanother one-off line entirely"),
      (4L, "a doc with no shared lines\nat all\n==="), // "at all"/"===" short → ineligible
      (5L, "at all\n===") // shares only SHORT lines with doc 4 — must not link
    ).toDF("doc_id", "text")
    val stats = TextAnalysis.dupLineStats(docs, "doc_id", "text",
        minDocs = 2, minLineChars = 10)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(stats == Seq(
      (1L, 4L, 2L, 500000L), // boiler + nav of 4 lines
      (2L, 3L, 2L, 666666L),
      (3L, 2L, 1L, 500000L),
      (4L, 3L, 0L, 0L), // short lines never flag
      (5L, 2L, 0L, 0L)), s"got $stats")
    val clean = TextAnalysis.removeDuplicateLines(docs, "doc_id", "text",
        minDocs = 2, minLineChars = 10)
      .orderBy("doc_id")
      .as[(Long, String)].collect().toMap
    assert(clean(1L) == "unique first content line\nmore unique text one",
      "duplicated lines stripped, original order kept")
    assert(clean(2L) == "unique second document line")
    assert(clean(3L) == "another one-off line entirely")
    assert(clean(4L) == "a doc with no shared lines\nat all\n===",
      "ineligible short lines survive even when shared")
    assert(clean(5L) == "at all\n===")
    // within-doc repeats don't vote toward minDocs (distinct docs only)
    val solo = Seq((1L, "repeated inside one doc\nrepeated inside one doc"),
      (2L, "something else entirely here")).toDF("doc_id", "text")
    val soloStats = TextAnalysis.dupLineStats(solo, "doc_id", "text", 2, 10)
      .where($"doc_id" === 1).select("n_dup_lines").as[Long].head()
    assert(soloStats == 0L, "within-doc repetition must not create a corpus dup")
  }

  test("removeDuplicateSpans cuts cross-doc 8-gram spans, keeps the rest in order") {
    val span = "one two three four five six seven eight" // exactly 8 tokens, in docs 1+2
    val solo6 = "s1 s2 s3 s4 s5 s6 s7 s8" // 8 tokens seen only in doc 6
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"prefix words here $span and a suffix tail"),
      (3L, "a wholly unique document with no shared span at all present"),
      (4L, null.asInstanceOf[String]),
      (5L, "short doc"), // under 8 words: no gram, nothing removable
      // within-doc repeat of a doc-6-only span — ONE distinct doc, must not vote
      (6L, s"$solo6 $solo6")).toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) == (1L, 12L, 8L, "alpha beta gamma delta"), s"got ${out(0)}")
    assert(out(1) == (2L, 15L, 8L, "prefix words here and a suffix tail"))
    assert(out(2) == (3L, 11L, 0L, "a wholly unique document with no shared span at all present"),
      "clean docs come back token-identical")
    assert(out(3) == (4L, 0L, 0L, ""), "NULL text -> empty with zero counts")
    assert(out(4) == (5L, 2L, 0L, "short doc"))
    assert(out(5) == (6L, 16L, 0L, solo6 + " " + solo6),
      "within-doc repetition alone must not trigger removal (distinct-doc vote)")
    // overlapping dup grams merge into one excised span: doc 7/8 share a
    // 9-token run = two overlapping 8-grams; coverage removes 9 tokens once
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9"
    val docs2 = Seq((7L, s"head $run tail"), (8L, s"$run trailer words")).toDF("doc_id", "text")
    val out2 = TextAnalysis.removeDuplicateSpans(docs2, "doc_id", "text", 8, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out2(0) == (7L, 11L, 9L, "head tail"), s"got ${out2(0)}")
    assert(out2(1) == (8L, 11L, 9L, "trailer words"))
    // partition invariance
    val p3 = TextAnalysis.removeDuplicateSpans(docs.repartition(3), "doc_id", "text", 8, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(p3 == out, "result independent of input partitioning")
  }

  test("oovStats: per-doc OOV counts against a broadcast vocab") {
    val docs = Seq(
      (1L, "alpha beta gamma"),     // all in vocab
      (2L, "alpha zz yy"),          // 2 oov
      (3L, null.asInstanceOf[String]),
      (4L, "ALPHA Beta")).toDF("doc_id", "text") // tokenizer lowercases
    val vocab = Seq("alpha", "beta", "gamma").toDF("token")
    val out = TextAnalysis.oovStats(docs, "doc_id", "text", vocab)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 0L, 0L), (2L, 3L, 2L, 666666L),
      (3L, 0L, 0L, 0L), (4L, 2L, 0L, 0L)), s"got $out")
    intercept[RuntimeException](
      TextAnalysis.oovStats(docs, "doc_id", "text", docs)) // 2-column vocab
  }

  test("diversityCard: hand-computed type-token ratios, empty corpus zeros") {
    val docs = Seq(
      (1L, "a b a b"),   // tokens a,b,a,b; bigrams "a b","b a","a b"
      (2L, "a b c"),     // tokens a,b,c; bigrams "a b","b c"
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.diversityCard(docs, "text")
      .as[(Long, Long, Long, Long)].head()
    // 7 tokens, 3 distinct -> 428571; 5 bigrams, 3 distinct -> 600000
    assert(out == (3L, 7L, 428571L, 600000L), s"got $out")
    val empty = TextAnalysis.diversityCard(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text")
      .as[(Long, Long, Long, Long)].head()
    assert(empty == (0L, 0L, 0L, 0L), s"got $empty")
  }

  test("calibrateScores: integer percent-rank per group, ties and edge groups") {
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val df = Seq[(Long, String, java.lang.Long)](
      (1L, "a", jl(10)), (2L, "a", jl(20)), (3L, "a", jl(20)), (4L, "a", jl(40)),
      (5L, "a", jl(50)),
      (6L, "b", jl(999)), // single-row group -> 0
      (7L, "c", jl(5)), (8L, "c", null)) // NULL sorts first
      .toDF("id", "grp", "score")
    val out = TextAnalysis.calibrateScores(df, "id", "grp", "score")
      .orderBy("id").select("id", "pct_ppm").as[(Long, Long)].collect().toMap
    // group a (n=5): ranks 1,2,2,4,5 -> 0, 250000, 250000, 750000, 1000000
    assert(out(1L) == 0L && out(2L) == 250000L && out(3L) == 250000L &&
      out(4L) == 750000L && out(5L) == 1000000L, s"got $out")
    assert(out(6L) == 0L, "single-row group calibrates to 0")
    assert(out(8L) == 0L && out(7L) == 1000000L, "NULL score ranks bottom")
    // a uniform per-group cut keeps the same FRACTION of each group
    val big = (1L to 300L).map(i => (i, if (i % 3 == 0) "x" else "y", i * 7 % 101))
      .toDF("id", "grp", "score")
    val kept = TextAnalysis.calibrateScores(big, "id", "grp", "score")
      .where(col("pct_ppm") >= 200000L).groupBy("grp").count()
      .as[(String, Long)].collect().toMap
    assert(math.abs(kept("x") * 2L - kept("y")) <= 2L,
      s"per-group cut must keep proportional counts, got $kept")
  }

  test("gopherRules: each rule trips on its crafted document") {
    // 30 words, 102 chars -> mean 3.4, all alpha, 6 distinct stopword hits
    val good = ("the quick brown fox jumps and it is of that " * 3).trim
    val docs = Seq(
      (1L, good),
      (2L, "the and"), // under minWords
      (3L, good + " " + ("x" * 300)), // one 300-char word -> mean len > 10
      (4L, good + " # # # #"), // 34 words, 4 symbols -> 40 > 34 fails
      (5L, good + " 111 222 333 444 555 666 777 888"), // 30/38 alpha < 80%
      (6L, ("lorem ipsum dolor sit amet " * 5).trim), // no stopword hits
      (7L, null.asInstanceOf[String]),
      (8L, good + " wait... no... well... hmm...")) // 4 ellipsis runs -> 40 > 34
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 10L)
      .select("doc_id", "ok_wordcount", "ok_meanlen", "ok_symbols", "ok_alpha",
        "ok_stopwords", "gopher_pass")
      .orderBy("doc_id")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSeq
    assert(out(0) == (1L, true, true, true, true, true, true), s"got ${out(0)}")
    assert(!out(1)._2 && !out(1)._7, "short doc fails wordcount")
    assert(!out(2)._3 && !out(2)._7, "mega-word breaks mean length")
    assert(!out(3)._4 && !out(3)._7, s"symbol ratio must fail: ${out(3)}")
    assert(!out(4)._5 && !out(4)._7, "digit-run words break the alpha floor")
    assert(!out(5)._6 && !out(5)._7, "no stopword hits fails")
    assert(out(6) == (7L, false, false, true, true, false, false),
      s"NULL text fails wordcount/meanlen/stopwords, got ${out(6)}")
    assert(!out(7)._4 && !out(7)._7, s"ellipsis runs count as symbols: ${out(7)}")
    intercept[IllegalArgumentException](
      TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 0L))
  }

  test("importanceWeights: bit-length llr, exact on a hand-computed corpus") {
    // md5-4hex buckets of aa/bb/cc/zz/yy are distinct (4124/21ad/e032/25ed/2fb1)
    val raw = Seq((1L, "aa bb"), (2L, "zz yy"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val target = Seq((100L, "aa bb cc")).toDF("doc_id", "text")
    val out = TextAnalysis.importanceWeights(raw, target, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // llr(aa)=bitlen(1+1)-bitlen(1+1)=0; same bb → doc1 = 0
    // llr(zz)=bitlen(0+1)-bitlen(1+1)=1-2=-1; same yy → doc2 = -2
    assert(out == Seq((1L, 2L, 0L), (2L, 2L, -2L), (3L, 0L, 0L)), s"got $out")
    // target-resembling docs outrank off-target docs at equal length
    val big = (1L to 40L).map(i => (i, if (i <= 20) "aa bb aa bb" else "zz yy zz yy"))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.importanceWeights(big, target, "doc_id", "text")
      .select("doc_id", "dsir_score").as[(Long, Long)].collect().toMap
    assert((1L to 20L).forall(i => scores(i) > scores(21L)),
      "every target-like doc must outscore the off-target docs")
    // partition invariance
    val p3 = TextAnalysis.importanceWeights(raw.repartition(3), target, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(p3 == out)
    // the pure-map model scoring path is bit-identical to the in-job join
    val model = TextAnalysis.importanceModel(raw, target, "text")
    val viaModel = TextAnalysis.scoreWithImportanceModel(raw, "doc_id", "text", model)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(viaModel == out, s"model path diverged: $viaModel vs $out")
    // a token unseen in BOTH corpora scores the neutral 0 per token
    val fresh = Seq((9L, "qqqq wwww")).toDF("doc_id", "text")
    val freshOut = TextAnalysis.scoreWithImportanceModel(fresh, "doc_id", "text", model)
      .as[(Long, Long, Long)].head()
    assert(freshOut == (9L, 2L, 0L), s"got $freshOut")
    intercept[IllegalArgumentException](
      TextAnalysis.scoreWithImportanceModel(raw, "doc_id", "text", Array(1L)))
  }

  test("stratifiedSample keeps exact fractions' buckets, deterministically") {
    val df = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "fr")).toDF("id", "lang")
    val all = TextAnalysis.stratifiedSample(df, "id", "lang",
      Map("en" -> 1.0), defaultFraction = 0.0)
      .select("id").as[Long].collect().toSet
    assert(all == Set(1L, 2L), "fraction 1.0 keeps every en row, 0.0 drops the rest")
    val big = spark.range(0, 2000).toDF("id").withColumn("lang", lit("en"))
    val n = TextAnalysis.stratifiedSample(big, "id", "lang", Map("en" -> 0.25)).count()
    assert(math.abs(n - 500) < 120, s"~25% expected, got $n")
    val again = TextAnalysis.stratifiedSample(big, "id", "lang", Map("en" -> 0.25)).count()
    assert(n == again, "content-hash sampling is deterministic")
  }

  test("samplePerGroup equals the window formulation, stable under partitioning") {
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("grp", (col("id") % 5).cast("string"))
    val viaAgg = TextAnalysis.samplePerGroup(df.repartition(13), "grp", "id", k = 4)
      .select("grp", "rank", "id").as[(String, Int, Long)].collect().toSet
    // reference: the row_number window this op replaces
    val key = conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(key.asc, col("id").asc)
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 4)
      .select("grp", "rank", "id").as[(String, Int, Long)].collect().toSet
    assert(viaAgg == viaWindow, "bounded two-phase sample must equal the window form")
    assert(viaAgg.size == 20, "4 exemplars per each of 5 groups")
    val again = TextAnalysis.samplePerGroup(df.repartition(2), "grp", "id", k = 4)
      .select("grp", "rank", "id").as[(String, Int, Long)].collect().toSet
    assert(again == viaAgg, "selection must be partition-invariant")
  }

  test("drift: hand-computed histograms, every bin present, PSI from gated ppm") {
    val a = Seq(5L, 15L, 15L, 25L, 95L).map(Tuple1(_)).toDF("v")   // bins 0,1,1,2,9
    val b = Seq(5L, 5L, 5L, 85L).map(Tuple1(_)).toDF("v")          // bins 0,0,0,8
    val rows = TextAnalysis.drift(a, b, "v", bins = 10, lo = 0, hi = 99)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == (0 until 10), "every bin must be present")
    val m = rows.map(r => r._1 -> r).toMap
    assert(m(0)._2 == 1 && m(1)._2 == 2 && m(2)._2 == 1 && m(9)._2 == 1, s"a-side: ${rows.toSeq}")
    assert(m(0)._3 == 3 && m(8)._3 == 1 && m(1)._3 == 0, s"b-side: ${rows.toSeq}")
    assert(m(0)._4 == 200000 && m(0)._5 == 750000, "integer ppm floor")
    // PSI from the gated ppm columns (zero-bins smoothed) — the float
    // score lives downstream of the exact histogram, never inside it
    val psi = rows.map { case (_, _, _, pa, pb) =>
      val (qa, qb) = (math.max(pa, 1) / 1e6, math.max(pb, 1) / 1e6)
      (qa - qb) * math.log(qa / qb)
    }.sum
    assert(psi > 0.5, s"these planted snapshots drift heavily, psi=$psi")
    val same = TextAnalysis.drift(a, a, "v", 10, 0, 99)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(same.forall(r => r._2 == r._3 && r._4 == r._5), "self-drift must be zero")
    // out-of-range values clamp to the edge bins, never vanish
    val clamp = TextAnalysis.drift(
      Seq(-50L, 1000L).map(Tuple1(_)).toDF("v"), b, "v", 10, 0, 99)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(clamp.head._2 == 1 && clamp.last._2 == 1, "clamped to bins 0 and 9")
  }

  test("urlGate: rule attribution priority, scheme gate, case-insensitive tokens") {
    val urls = Seq(
      (1L, "https://www.bad.com/docs/1?ref=spam"), // blocked domain WINS over banned path
      (2L, "https://ok.com/DOCS/13?x=1"),          // banned token, case-insensitive
      (3L, "ftp://ok.com/file"),                   // non-http
      (4L, "https://ok.com/fine?a=b")).toDF("doc_id", "url")
    val out = TextAnalysis.urlGate(urls, "url",
        blockedDomains = Seq("bad.com"), bannedPathTokens = Seq("/docs/13", "ref=spam"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[String]("reject_reason")), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == ((Some("blocked_domain"), false)))
    assert(out(2L) == ((Some("banned_path"), false)))
    assert(out(3L) == ((Some("non_http"), false)))
    assert(out(4L) == ((None, true)))
    intercept[IllegalArgumentException](
      TextAnalysis.urlGate(urls, "url", Seq.empty, Seq.empty))
  }

  test("contaminationRuns: verbatim copy reads one long run, scattered matches read unit runs") {
    val bench = Seq(Tuple1((1 to 16).map(i => s"b$i").mkString(" "))).toDF("text")
    val docs = Seq(
      // verbatim benchmark copy → single run of all 9 grams at pos 0
      (1L, (1 to 16).map(i => s"b$i").mkString(" ")),
      // two disjoint 8-gram hits split by filler → 2 unit runs, max at pos 7
      (2L, ((1 to 7).map(i => s"x$i") ++ (1 to 8).map(i => s"b$i") ++
            (1 to 7).map(i => s"y$i") ++ (9 to 16).map(i => s"b$i")).mkString(" ")),
      (3L, (1 to 30).map(i => s"clean$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.contaminationRuns(docs, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((1L, 9L, 9L, 0L)), s"verbatim: ${out.get(1L)}")
    assert(out(2L) == ((2L, 2L, 1L, 7L)), s"scattered: ${out.get(2L)}")
    assert(!out.contains(3L), "clean doc must not appear")
  }

  test("jsDivergence: hand-computed Lg64 millibits on disjoint support; self-JS zero; bounded") {
    // a: all 4 rows in bin 0; b: 2 in bin 0, 2 in bin 9 —
    // bin 0: 1e6·(lg64(2e6)−lg64(1.5e6)) + 5e5·(lg64(1e6)−lg64(1.5e6))
    //      = 1e6·31 − 5e5·33 = 14.5e6
    // bin 9 (a-side ZERO — the case PSI explodes on and JS bounds):
    //        5e5·(lg64(1e6)−lg64(500001)) = 5e5·64 = 32e6
    // Σ·1000 DIV 128e6 = 363
    val a = Seq(5L, 6L, 7L, 8L).map(Tuple1(_)).toDF("v")
    val b = Seq(5L, 6L, 460L, 461L).map(Tuple1(_)).toDF("v")
    val r = TextAnalysis.jsDivergence(a, b, "v", bins = 10, lo = 0, hi = 499).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 363L)), r.toString)
    assert(TextAnalysis.jsDivergence(a, a, "v", 10, 0, 499).collect()(0).getLong(2) == 0L)
    // fully disjoint support: JS caps at ~1 bit (1000 milli), never explodes
    val c = Seq(460L, 461L, 462L, 463L).map(Tuple1(_)).toDF("v")
    val dj = TextAnalysis.jsDivergence(a, c, "v", 10, 0, 499).collect()(0).getLong(2)
    assert(dj >= 950L && dj <= 1050L, s"disjoint JS should read ~1 bit, got $dj milli")
  }

  test("psi: hand-computed Lg64 millibits; self-PSI zero") {
    // a: all 4 rows in bin 0; b: 2 in bin 0, 2 in bin 9 (lo=0 hi=499):
    // ppm_a = (1e6, 0), ppm_b = (5e5, 5e5);
    // lg64(1e6)−lg64(5e5) = 64 exactly, lg64(1)−lg64(5e5) = 64−1274;
    // Σ = 5e5·64 + 5e5·1210 = 637e6 → ·1000 DIV 64e6 = 9953
    val a = Seq(5L, 6L, 7L, 8L).map(Tuple1(_)).toDF("v")
    val b = Seq(5L, 6L, 460L, 461L).map(Tuple1(_)).toDF("v")
    val r = TextAnalysis.psi(a, b, "v", bins = 10, lo = 0, hi = 499).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 9953L)), r.toString)
    assert(TextAnalysis.psi(a, a, "v", 10, 0, 499).collect()(0).getLong(2) == 0L)
  }

  test("sourceMix hits the recipe: binding source kept whole, others downsampled") {
    // src A: 1000 docs, src B: 1000 docs; recipe 75/25 → A binds:
    // T = min(1000/0.75, 1000/0.25) = 1333; keep_A = 999, keep_B = 333
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("src", when(col("id") < 1000, "A").otherwise("B"))
    val out = TextAnalysis.sourceMix(df, "id", "src",
      Map("A" -> 750000L, "B" -> 250000L))
    val bySrc = out.groupBy("src").count().as[(String, Long)].collect().toMap
    // bucket sampling quantizes to 1/256: cut_A = 999*256/1000 = 255 → ~255/256
    // of A; cut_B = 333*256/1000 = 85 → ~85/256 of B. Allow sampling noise.
    assert(math.abs(bySrc("A") - 1000.0 * 255 / 256) < 60, s"A kept ${bySrc("A")}")
    assert(math.abs(bySrc("B") - 1000.0 * 85 / 256) < 60, s"B kept ${bySrc("B")}")
    val again = TextAnalysis.sourceMix(df, "id", "src",
      Map("A" -> 750000L, "B" -> 250000L)).groupBy("src").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc == again, "mixing is deterministic")
    // unlisted source dropped entirely
    val withC = df.withColumn("src", when(col("id") < 10, "C").otherwise(col("src")))
    val mixed = TextAnalysis.sourceMix(withC, "id", "src",
      Map("A" -> 750000L, "B" -> 250000L))
    assert(mixed.where(col("src") === "C").count() == 0, "unlisted source must be dropped")
    // listed-but-absent source → infeasible recipe → empty, not skewed
    val infeasible = TextAnalysis.sourceMix(df, "id", "src",
      Map("A" -> 500000L, "Z" -> 500000L))
    assert(infeasible.count() == 0, "a recipe naming an absent source is infeasible")
  }

  test("bigramLmScore matches hand-computed conditional counts") {
    val df = Seq((1L, "a b"), (2L, "a c"), (3L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(df, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    // c(a·)=2; P(b|a)=P(c|a)=1/2 → ppm 500000; "x" has no bigram
    assert(got == Set((1L, 1L, 500000L, 500000L), (2L, 1L, 500000L, 500000L),
      (3L, 0L, 0L, 0L)))
  }

  test("splitBucket is deterministic, uniform-ish, and a pure map") {
    val ids = spark.range(0, 4000).toDF("id")
    val b = TextAnalysis.splitBucket(col("id"))
    val counts = ids.select(b.as("b")).groupBy("b").count()
      .as[(Int, Long)].collect().toMap
    assert(counts.keySet.subsetOf((0 to 15).toSet))
    assert(counts.size == 16, "all 16 buckets populated at n=4000")
    // deterministic across evaluations
    val again = ids.select(b.as("b")).groupBy("b").count().as[(Int, Long)].collect().toMap
    assert(counts == again)
    // pure map: no exchange before the bucket assignment
    val plan = org.apache.spark.sql.graftshim.GraftShim.explainString(ids.select(b))
    assert(!plan.contains("Exchange"), s"split assignment shuffled:\n$plan")
  }

  test("packSequences lays out tokens contiguously within each shard") {
    val docs = Seq(
      (0L, "a b c"), (8L, "d e"), (16L, "f g h i"), // shard 0 (ids % 8 == 0)
      (1L, "x y z w v")).toDF("doc_id", "text")     // shard 1
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", contextTokens = 4, shards = 8)
      .as[(Long, Int, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // shard 0 prefix sums: doc0 starts 0 (pack 0, off 0), doc8 starts 3
    // (pack 0, off 3), doc16 starts 5 (pack 1, off 1)
    assert(out(0L) == ((0, 3L, 0L, 0L)))
    assert(out(8L) == ((0, 2L, 0L, 3L)))
    assert(out(16L) == ((0, 4L, 1L, 1L)))
    assert(out(1L) == ((1, 5L, 0L, 0L)))
  }

  test("packSequences keeps duplicate ids in distinct token ranges (ROWS frame)") {
    // with the default RANGE frame, equal-id rows are peers sharing one
    // running sum → overlapping ranges; the ROWS frame must keep them apart
    val docs = Seq((5L, "a b"), (5L, "c d e"), (13L, "f")).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", contextTokens = 4, shards = 8)
      .as[(Long, Int, Long, Long, Long)].collect()
    // which duplicate comes first is arbitrary; what matters is the ranges
    // are contiguous and non-overlapping: starts must be 0 and first-len
    val shard5 = out.filter(_._1 == 5L).map(r => (r._3, r._5)).sortBy(_._2)
    assert(shard5.length == 2)
    assert(shard5(0)._2 == 0L && shard5(1)._2 == shard5(0)._1,
      s"duplicate-id rows overlap: ${shard5.toSeq}")
  }

  test("salted aggregations equal their direct formulations on skewed data") {
    // one monster key (90% of rows) + a long tail — the shape that melts a
    // single reducer for COUNT(DISTINCT) at scale
    val skewed = spark.range(10000).selectExpr(
      "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 37) END AS key",
      "id % 997 AS v")
    val direct = skewed.groupBy("key")
      .agg(count_distinct($"v").as("n_distinct"), sum($"v").as("sum"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val saltedD = Skew.saltedDistinct(skewed, Seq("key"), "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedS = Skew.saltedSum(skewed, Seq("key"), $"v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    direct.foreach { case (k, (nd, s)) =>
      assert(saltedD(k) == nd, s"distinct mismatch for $k")
      assert(saltedS(k) == s, s"sum mismatch for $k")
    }
  }

  test("replicated join equals the plain join on hot-key data, inner and left") {
    // 90% of big rows share one key; small has keys 0..19, big refs 0..29
    // so left join must also produce null-filled unmatched rows
    val big = spark.range(5000).selectExpr(
      "CASE WHEN id % 10 < 9 THEN 7L ELSE id % 30 END AS k", "id AS payload")
    val small = spark.range(20).selectExpr("id AS k", "concat('v', id) AS tag")
    for (jt <- Seq("inner", "left")) {
      val expected = big.join(small, Seq("k"), jt)
        .collect().map(_.toString).sorted.toSeq
      val got = Skew.replicatedJoin(big, small, Seq("k"), replication = 8, joinType = jt)
        .collect().map(_.toString).sorted.toSeq
      assert(got == expected, s"$jt replicated join diverged from plain join")
    }
  }

  test("replicated join routes through a salted key and rejects non-left-preserving types") {
    val big = spark.range(100).selectExpr("id % 5 AS k", "id AS p")
    val small = spark.range(5).selectExpr("id AS k", "id * 10 AS t")
    val joined = Skew.replicatedJoin(big, small, Seq("k"), replication = 4)
    val plan = org.apache.spark.sql.graftshim.GraftShim.explainString(joined)
    assert(plan.contains("__salt"), s"join does not route on the salt:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"degenerate join strategy:\n$plan")
    intercept[IllegalArgumentException](
      Skew.replicatedJoin(big, small, Seq("k"), joinType = "right"))
    intercept[IllegalArgumentException](
      Skew.replicatedJoin(big, small, Seq("k"), joinType = "full"))
    intercept[IllegalArgumentException](
      Skew.replicatedJoin(big.withColumn("__salt", lit(1)), small, Seq("k")))
  }

  test("hamming64Pairs: exact radius on planted fingerprints, including the sign bit") {
    val fps = Seq((1L, 0L), (2L, 7L), (3L, 15L), (4L, Long.MinValue))
      .toDF("id", "fp")
    val got = Dedup.hamming64Pairs(fps, "id", "fp", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // 0^7=3 bits, 7^15=1, 0^15=4 (outside), MinValue is 1 bit from 0,
    // 4 from 7 (outside), 5 from 15 (outside)
    assert(got == Map((1L, 2L) -> 3, (2L, 3L) -> 1, (1L, 4L) -> 1), s"got $got")
  }

  test("grayDHash: REAL PNG round-trip — planted group-of-8 near, strangers far") {
    val media = Multimodal.synthesizeGridPayloads(
      Seq.tabulate(16)(_.toLong).toDF("doc_id"), "doc_id")
    val fps = Multimodal.grayDHash(spark, media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (a <- 0 until 8; b <- (a + 1) until 8) {
      val h = java.lang.Long.bitCount(fps(a.toLong) ^ fps(b.toLong))
      assert(h <= 4, s"in-group pair ($a,$b) at hamming $h > 4")
    }
    val cross = java.lang.Long.bitCount(fps(0L) ^ fps(8L))
    assert(cross > 4, s"cross-group pair at hamming $cross — planted structure lost")
    // independent replay of the planted-grid arithmetic for one doc: the
    // encode → javax.imageio decode → downsample chain must be lossless
    val expect5 = (0 until 63).foldLeft(0L) { (acc, b) =>
      val k = (b / 8) * 9 + (b % 8)
      if (Multimodal.gridCell(5L, k + 1) > Multimodal.gridCell(5L, k)) acc | (1L << b) else acc
    }
    assert(fps(5L) == expect5, s"dhash(5) = ${fps(5L)}, expected $expect5")
  }

  test("editDistance1Pairs: substitution, insertion, deletion, identity — and no false pairs") {
    val df = Seq((1L, "cat"), (2L, "cut"), (3L, "cats"), (4L, "ca"),
      (5L, "dog"), (6L, "cat"), (7L, ""), (8L, "a")).toDF("id", "s")
    val got = Dedup.editDistance1Pairs(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cat: sub(cut)/ins(cats)/del(ca)/equal(cat); the duplicate cat repeats
    // them; ca-a is another single delete; ""/"a" is the empty-string
    // insert edge; cats-ca is distance 2 and dog matches nothing
    val want = Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 6L),
      (2L, 6L), (3L, 6L), (4L, 6L), (4L, 8L), (7L, 8L))
    assert(got == want, s"got $got")
  }

  test("editDistance1Pairs rejects non-integral id columns loudly") {
    val df = Seq(("C001", "cat"), ("C002", "cut")).toDF("id", "s")
    val e = intercept[IllegalArgumentException](
      Dedup.editDistance1Pairs(df, "id", "s"))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("editDistance1Pairs fails loudly past maxLen instead of exploding quadratically") {
    val df = Seq((1L, "x" * 300), (2L, "ok")).toDF("id", "s")
    val e = intercept[Exception](Dedup.editDistance1Pairs(df, "id", "s").collect())
    assert(e.getMessage.contains("maxLen"), e.getMessage)
    // raising the cap deliberately makes the same input legal
    assert(Dedup.editDistance1Pairs(df, "id", "s", maxLen = 512).count() == 0L)
  }

  test("editDistance1Pairs: transposition candidates sharing keys are rejected by verify") {
    // "ab" and "ba" share deletion keys "a" AND "b" but are distance 2
    val df = Seq((1L, "ab"), (2L, "ba")).toDF("id", "s")
    val got = Dedup.editDistance1Pairs(df, "id", "s").collect()
    assert(got.isEmpty, s"false pair emitted: ${got.mkString(",")}")
  }

  test("editDistance1Pairs agrees with the brute-force cross join on random strings") {
    val rnd = new scala.util.Random(7)
    val strs = (1L to 80L).map(i =>
      i -> (0 until rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val df = strs.toDF("id", "s")
    val brute = df.as("x").join(df.as("y"), $"x.id" < $"y.id")
      .where(levenshtein($"x.s", $"y.s") <= 1)
      .select($"x.id", $"y.id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.editDistance1Pairs(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("quantileBuckets: equal-frequency split, tie mass to the lower bucket") {
    val df = (1 to 8).map(_.toDouble).toDF("v")
    val got = Relational.quantileBuckets(df, "v", 4)
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    // boundaries at p25/p50/p75 of 1..8 = 2.75, 4.5, 6.25 → 2 per bucket
    assert(got == Map(1.0 -> 0, 2.0 -> 0, 3.0 -> 1, 4.0 -> 1,
      5.0 -> 2, 6.0 -> 2, 7.0 -> 3, 8.0 -> 3), s"got $got")
    // an all-ties column collapses into bucket 0 (nothing EXCEEDS the
    // boundary), never an arbitrary spread
    val ties = Seq(5.0, 5.0, 5.0, 5.0).toDF("v")
    val t = Relational.quantileBuckets(ties, "v", 4)
      .select("bucket").as[Int].collect().toSeq
    assert(t == Seq(0, 0, 0, 0), s"got $t")
    intercept[IllegalArgumentException](Relational.quantileBuckets(df, "v", 1))
    intercept[IllegalArgumentException](
      Relational.quantileBuckets(df.withColumn("bucket", lit(1)), "v", 4))
  }

  test("winsorize clamps both tails to exact percentile cents") {
    // 1..100: p10 = 10.9, p90 = 90.1 → cents 1090 / 9010
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val w = Relational.winsorize(df, "v", 0.1, 0.9, "wc")
      .select("v", "wc").as[(Double, Long)].collect().toMap
    assert(w(1.0) == 1090L && w(5.0) == 1090L, s"low tail: ${w(1.0)}, ${w(5.0)}")
    assert(w(100.0) == 9010L && w(95.0) == 9010L, s"high tail: ${w(100.0)}")
    assert(w(50.0) == 5000L, s"interior untouched: ${w(50.0)}")
    intercept[IllegalArgumentException](Relational.winsorize(df, "v", 0.9, 0.1))
  }

  test("winsorize and quantileBuckets keep NULL values NULL, never imputed") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None)
      .toDF("v")
    val w = Relational.winsorize(df, "v", 0.25, 0.75, "wc").select("wc")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(w.count(_.isEmpty) == 1,
      s"NULL row must stay NULL (least/greatest would fabricate the upper bound): ${w.toSeq}")
    val b = Relational.quantileBuckets(df, "v", 2).select("bucket")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(b.count(_.isEmpty) == 1,
      s"NULL row must get a NULL bucket, not silent minimum-imputation: ${b.toSeq}")
  }

  test("histogram: integer ceil-width bins, max value clamped into the last bin") {
    // values 0..10 cents over 4 bins: span 1000, width ceil(1000/4)=250
    val df = Seq(0.0, 1.0, 2.49, 2.5, 5.0, 10.0).toDF("v")
    val got = Relational.histogram(df, "v", 4)
      .orderBy("bin")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // cents: 0, 100, 249, 250, 500, 1000 → bins 0,0,0,1,2,3(clamped max)
    assert(got == Seq((0, 0L, 250L, 3L), (1, 250L, 500L, 1L),
      (2, 500L, 750L, 1L), (3, 750L, 1000L, 1L)), s"got $got")
    // degenerate single-value input: one bin, width floor 1, count intact
    val one = Seq(7.0, 7.0).toDF("v")
    val g1 = Relational.histogram(one, "v", 8).collect()
    assert(g1.map(_.getLong(3)).sum == 2 && g1.length == 1, s"got ${g1.toSeq}")
    // NULLs are excluded, not imputed into bin 0
    val withNull = Seq(Some(1.0), Some(2.0), None).toDF("v")
    assert(Relational.histogram(withNull, "v", 2)
      .agg(sum("n")).head.getLong(0) == 2)
  }

  test("modeBy: most frequent value per group, ties to the smallest value") {
    val df = Seq(("a", 3), ("a", 3), ("a", 1), ("a", 1), ("a", 2),
      ("b", 9)).toDF("g", "v") // group a: 3 and 1 tie at 2 → mode 1
    val got = Relational.modeBy(df, Seq("g"), "v")
      .orderBy("g").collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 1, 2L), ("b", 9, 1L)), s"got $got")
    // string values order lexicographically in the tie-break
    val s = Seq(("g", "zz"), ("g", "aa")).toDF("g", "v")
    assert(Relational.modeBy(s, Seq("g"), "v").head.getString(1) == "aa")
    // NULL values never win (excluded before counting)
    val n = Seq(("g", None), ("g", None), ("g", Some("x"))).toDF("g", "v")
    assert(Relational.modeBy(n, Seq("g"), "v").head.getString(1) == "x")
  }

  test("skylineMax: hand case with ties/dups, brute-force agreement, loud non-integral") {
    // front: (5,1), (3,4), (1,9); (3,4) twice (dups both survive);
    // (3,3) dominated by (3,4); (2,4) dominated by (3,4); (1,1) dominated
    val pts = Seq((1L, 5L, 1L), (2L, 3L, 4L), (3L, 3L, 4L), (4L, 3L, 3L),
      (5L, 2L, 4L), (6L, 1L, 9L), (7L, 1L, 1L)).toDF("id", "x", "y")
    val got = Relational.skylineMax(pts, "x", "y")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 6L), s"got $got")
    // randomized agreement with the quadratic dominance definition
    val rnd = new scala.util.Random(7)
    val rpts = (1 to 200).map(i => (i.toLong, rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val brute = rpts.filterNot { case (_, x, y) =>
      rpts.exists { case (_, a, b) => a >= x && b >= y && (a > x || b > y) }
    }.map(_._1).toSet
    val fast = Relational.skylineMax(rpts.toDF("id", "x", "y"), "x", "y")
      .select("id").as[Long].collect().toSet
    assert(fast == brute, s"missing=${brute -- fast} extra=${fast -- brute}")
    // NULL coordinates are excluded, never dominate
    val withNull = Seq((1L, Some(1L), Some(1L)), (2L, None, Some(99L)))
      .toDF("id", "x", "y")
    assert(Relational.skylineMax(withNull, "x", "y")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // a double column is loud, not silently truncated into a wrong order
    intercept[IllegalArgumentException](
      Relational.skylineMax(Seq((1L, 1.5, 2L)).toDF("id", "x", "y"), "x", "y"))
  }

  test("abTest: cross-multiplied z-test verdict, per-unit conversion, loud corruption") {
    def rows(v: Int, ids: Range, converters: Set[Long]) =
      ids.map(i => (i.toLong, v, converters.contains(i.toLong)))
    // 90% vs 10% on 10 units each: clearly significant, diff 800000 ppm
    val strong = (rows(0, 1 to 10, (1L to 9L).toSet) ++
      rows(1, 11 to 20, Set(11L))).toDF("unit", "variant", "ok")
    val s1 = Relational.abTest(strong, "unit", "variant", "ok").head
    assert((s1.getInt(0), s1.getLong(1), s1.getLong(2), s1.getInt(3),
      s1.getLong(4), s1.getLong(5), s1.getLong(6), s1.getBoolean(7)) ==
      ((0, 10L, 9L, 1, 10L, 1L, 800000L, true)), s"$s1")
    // identical halves: zero diff, not significant; repeat rows per unit
    // must count ONCE (unit 1 converts via its second row)
    val flat = (Seq((1L, 0, false), (1L, 0, true)) ++
      rows(0, 2 to 4, Set(2L)) ++ rows(1, 11 to 14, Set(11L, 12L)))
      .toDF("unit", "variant", "ok")
    val s2 = Relational.abTest(flat, "unit", "variant", "ok").head
    assert((s2.getLong(1), s2.getLong(2), s2.getLong(4), s2.getLong(5),
      s2.getLong(6), s2.getBoolean(7)) == ((4L, 2L, 4L, 2L, 0L, false)), s"$s2")
    // a unit under two variants is assignment corruption — loud
    val mixed = Seq((1L, 0, true), (1L, 1, false), (2L, 1, false))
      .toDF("unit", "variant", "ok")
    intercept[Exception](
      Relational.abTest(mixed, "unit", "variant", "ok").collect())
    // a single variant is loud, not a NULL-filled row — and the guard
    // must fire even when ONLY the decision column is consumed
    val solo = Seq((1L, 0, true), (2L, 0, false)).toDF("unit", "variant", "ok")
    intercept[Exception](
      Relational.abTest(solo, "unit", "variant", "ok").collect())
    intercept[Exception](
      Relational.abTest(solo, "unit", "variant", "ok")
        .select("significant").collect())
    // NULL unit ids would collapse into one phantom unit — loud instead
    val nullUnit = Seq((Some(1L), 0, true), (None, 0, true), (None, 1, false))
      .toDF("unit", "variant", "ok")
    intercept[Exception](
      Relational.abTest(nullUnit, "unit", "variant", "ok").collect())
  }

  test("mad: exact R-7 median absolute deviation per group") {
    // group a: 1,2,3,4,100 → med 3, |dev| = 2,1,0,1,97 → mad 1
    // group b: 10,20 → med 15, |dev| = 5,5 → mad 5
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
      ("b", 10.0), ("b", 20.0)).toDF("g", "v")
    val got = Relational.mad(df, Seq("g"), "v")
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq(("a", 3.0, 1.0), ("b", 15.0, 5.0)), s"got $got")
    intercept[IllegalArgumentException](
      Relational.mad(df.withColumn("mad", lit(1)), Seq("g"), "v"))
  }

  test("PII redaction scrubs emails, IPs, and phone numbers") {
    val df = Seq((1L, "mail me at a.b+c@x-mail.org or call 555-123-4567 from 10.0.0.1 ok"))
      .toDF("doc_id", "text")
    val out = df.select(TextAnalysis.redactPii($"text")).as[String].head()
    assert(out == "mail me at [EMAIL] or call [PHONE] from [IP] ok")
  }

  test("word chunking covers every word exactly once with stable keys") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = TextAnalysis.wordChunks(df, "doc_id", "text", chunkWords = 16)
      .orderBy("chunk_id").select("chunk").as[String].collect()
    assert(chunks.length == 3)
    assert(chunks.mkString(" ") == text)
    assert(chunks(0).split(" ").length == 16 && chunks(2).split(" ").length == 8)
  }

  test("langSpans: consecutive same-lang lines collapse, interleaving splits") {
    val doc =
      "the and of to is\n" +          // en
      "the of in that it\n" +         // en (same span)
      "der und die ist nicht\n" +     // de
      "le la les et est\n" +          // fr
      "der mit das ein auf\n" +       // de again — NEW span, not merged
      "zzz qqq"                       // und
    val got = TextAnalysis.langSpans(Seq((1L, doc)).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("span_id")
      .select("span_id", "lang", "first_line", "last_line", "n_lines")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "en", 0L, 1L, 2L),
      (2L, "de", 2L, 2L, 1L),
      (3L, "fr", 3L, 3L, 1L),
      (4L, "de", 4L, 4L, 1L),
      (5L, "und", 5L, 5L, 1L)), got.toString)
  }

  test("rougeN: clipped bigram overlap, hand ppm, degenerate NULLs") {
    // ref "a b a b c" grams [ab, ba, ab, bc]; cand "a b a a b" grams
    // [ab, ba, aa, ab] → overlap ab:min(2,2)=2, ba:1, aa:0 → 3;
    // recall = precision = f1 = 3/4
    val df = Seq(
      (1L, "a b a b c", "a b a a b"),
      // clipping: cand repeats 'a b' 3x but ref carries only 2
      (2L, "a b a b c", "a b a b a b"),
      // candidate too short for one bigram
      (3L, "a b c", "x")).toDF("id", "ref", "cand")
    val got = TextAnalysis.rougeN(df, "ref", "cand", n = 2)
      .orderBy("id")
      .select("n_ref_grams", "n_cand_grams", "overlap_grams",
        "rouge_recall_ppm", "rouge_precision_ppm", "rouge_f1_ppm")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got(0) == ((4L, 4L, Some(3L), Some(750000L), Some(750000L), Some(750000L))), got.toString)
    // overlap = clip(ab→2) + clip(ba→1) = 3 of nc = 5 → precision 600000
    assert(got(1) == ((4L, 5L, Some(3L), Some(750000L), Some(600000L),
      Some(2L * 3 * 1000000 / 9))), got.toString)
    assert(got(2) == ((2L, 0L, Some(0L), Some(0L), None, Some(0L))), got.toString)
  }

  test("sentence chunking: boundaries, overlap, fragments, and the NULL contract") {
    // 5 sentences incl. a "..." run and an unterminated trailing fragment
    val text = "One two. Three! Four? Wait... tail fragment"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = TextAnalysis.sentenceChunks(df, "doc_id", "text",
        maxSentences = 3, overlap = 1)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk", "n_sents").as[(Int, String, Long)].collect().toSeq
    // sentences: ["One two.", "Three!", "Four?", "Wait...", "tail fragment"]
    assert(got == Seq(
      (0, "One two. Three! Four?", 3L),
      (1, "Four? Wait... tail fragment", 3L)), got.toString)
    // exactly maxSentences sentences → ONE window, no redundant tail
    val one = TextAnalysis.sentenceChunks(
      Seq((1L, "A. B. C.")).toDF("doc_id", "text"), "doc_id", "text", 3, 1)
      .collect()
    assert(one.length == 1 && one.head.getString(2) == "A. B. C.")
    // NULL text and terminator-only text each read one (0, NULL) row
    val deg = TextAnalysis.sentenceChunks(
      Seq((1L, null.asInstanceOf[String]), (2L, "?!...")).toDF("doc_id", "text"),
      "doc_id", "text", 3, 1)
      .orderBy("doc_id").select("doc_id", "chunk_id", "chunk", "n_sents")
      .as[(Long, Int, Option[String], Long)].collect().toSeq
    assert(deg == Seq((1L, 0, None, 0L), (2L, 0, None, 0L)), deg.toString)
    // zero overlap tiles without repeats
    val tiled = TextAnalysis.sentenceChunks(
      Seq((1L, "A. B. C. D.")).toDF("doc_id", "text"), "doc_id", "text", 2, 0)
      .orderBy("chunk_id").select("chunk").as[String].collect().toSeq
    assert(tiled == Seq("A. B.", "C. D."), tiled.toString)
  }

  test("repetition signals match hand-computed values") {
    // "a b a b a b": words 6, distinct 2 → dup_word = 1e6*4 DIV 6 = 666666
    // bigrams: "a b"×3 (3 chars → 9), "b a"×2 (6) → top2 = 9; chars = 11
    //   → top_bigram = 9e6 DIV 11 = 818181
    // trigrams: "a b a"×2, "b a b"×2 (5 chars each → 10+10=20)
    //   → dup_trigram = 20e6 DIV 11 = 1818181
    val df = Seq(
      (0L, "a b a b a b"),
      (1L, "x"), // no bigrams at all → zeros, row must survive
      (2L, "all words here are fully distinct tokens")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .orderBy("doc_id")
      .select("n_words", "dup_word_ppm", "top_bigram_ppm", "dup_trigram_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(out(0) == ((6L, 666666L, 818181L, 1818181L)))
    assert(out(1) == ((1L, 0L, 0L, 0L)))
    assert(out(2)._2 == 0L && out(2)._4 == 0L) // distinct text: no dup signal
    assert(out(2)._3 > 0L) // every bigram occurs once — best-covering still > 0
  }

  test("corpus dup-ngrams flags only grams shared across documents") {
    // docs 0 and 1 share one exact 4-word run; doc 2 is disjoint; doc 3 short
    val df = Seq(
      (0L, "alpha beta gamma delta one two three"), // grams: 4 distinct
      (1L, "x alpha beta gamma delta y"),           // shares "alpha beta gamma delta"
      (2L, "p q r s t u"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.corpusDupNgrams(df, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .select("n_grams", "n_dup_grams", "dup_ngram_ppm")
      .as[(Long, Long, Long)].collect()
    assert(out(0) == ((4L, 1L, 250000L)))
    assert(out(1) == ((3L, 1L, 333333L)))
    assert(out(2) == ((3L, 0L, 0L)))
    assert(out(3) == ((0L, 0L, 0L))) // under n words: survives with zeros
  }

  test("quality score bounded and monotone-ish in stopword density") {
    val docs = Seq(
      (1L, "the and of to a in is that it for extra words here making length"),
      (2L, "zzz qqq xxx")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(docs, "text")
      .select("doc_id", "quality_score").as[(Long, Long)].collect().toMap
    assert(q(1L) > q(2L))
    assert(q.values.forall(v => v >= 0 && v <= 1000))
  }
  test("collocations: planted adjacent pair tops the lift ranking, hand-checked") {
    // corpus engineered so "neural nets" is a perfect collocation (each
    // member appears ONLY in the pair) and "the cat" is a weak one
    val docs = Seq(
      (1L, "neural nets the cat sat"),
      (2L, "neural nets the dog sat"),
      (3L, "the cat saw neural nets"),
      (4L, "sat the dog saw the cat")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 2L, k = 3)
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(got.head._2 == "neural" && got.head._3 == "nets", s"$got")
    assert(got.head._4 == 3L, s"n_ab of the planted pair: $got")
    // hand check: T = 4+4+4+5 = 17 slots; c(neural·)=3, c(·nets)=3, c_ab=3
    // lift = ((3*1e6)//3)*17//3 = 5666666
    assert(got.head._5 == 5666666L, s"hand-computed lift: $got")
    assert(got.map(_._1) == (1 to got.length), "ranks are 1..k")
  }

  test("phraseCount finds consecutive tokens only, counts multiplicity") {
    val docs = Seq(
      (1L, "big scan big scan big"),   // "big scan" twice
      (2L, "scan big"),                // reversed — no match
      (3L, "big gap scan"),            // not adjacent
      (4L, "big scan")).toDF("doc_id", "text")
    val got = Search.phraseCount(docs, "doc_id", "text", Seq("big", "scan"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 4L -> 1L), s"$got")
    // 3-term phrase incl. a repeated term
    val tri = Search.phraseCount(docs, "doc_id", "text", Seq("big", "scan", "big"))
      .as[(Long, Long)].collect().toMap
    assert(tri == Map(1L -> 2L), s"$tri")
  }

  test("labelCentroidOutliers flags the planted off-centroid vector first") {
    // label 0: three near-identical vectors + one orthogonal outlier;
    // label 1: two identical vectors (both at cosine 1 to their centroid)
    val emb = Seq(
      (1L, Array(1.0f, 0.02f), 0),
      (2L, Array(1.0f, 0.01f), 0),
      (3L, Array(1.0f, 0.03f), 0),
      (4L, Array(0.0f, 1.0f), 0), // planted outlier
      (5L, Array(0.5f, 0.5f), 1),
      (6L, Array(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidOutliers(emb, "vec_id", "embedding", "label", 2)
      .as[(Int, Int, Long, Long)].collect().toSeq
    val lab0 = got.filter(_._1 == 0)
    assert(lab0.head._3 == 4L, s"rank 1 of label 0 must be the planted outlier: $got")
    assert(lab0.head._4 < 500000000L, "outlier cosine far below 1")
    val lab1 = got.filter(_._1 == 1)
    assert(lab1.map(_._3) == Seq(5L, 6L), s"ties break on vec_id: $got")
  }

  test("centroidDrift: matched snapshots read 0, a planted shift reads its exact L1") {
    // bucket 1 (dims +,-,-… with signDims=2: sign pattern of first 2 dims)
    val a = Seq(
      (1L, Array(1.0f, 1.0f, 0.0f)),   // bucket 3
      (2L, Array(1.0f, 1.0f, 0.5f)),   // bucket 3
      (3L, Array(-1.0f, 1.0f, 0.0f)),  // bucket 2 — only on side a: excluded
      (4L, Array(1.0f, -1.0f, 0.25f))  // bucket 1
    ).toDF("vec_id", "embedding")
    // side b: bucket-3 members shifted +0.5 on dim 3; bucket-1 identical
    val b = Seq(
      (5L, Array(1.0f, 1.0f, 0.5f)),
      (6L, Array(1.0f, 1.0f, 1.0f)),
      (7L, Array(1.0f, -1.0f, 0.25f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.centroidDrift(a, b, "embedding", signDims = 2)
      .orderBy("bucket").as[(Int, Long, Long, Long)].collect().toSeq
    // bucket 1: identical vector on both sides → drift 0
    // bucket 3: dim-3 centroids 250000 vs 750000 → L1 = 500000
    assert(got == Seq((1, 1L, 1L, 0L), (3, 2L, 2L, 500000L)), s"got $got")
    // a vector shorter than signDims fails loudly, not a silent bucket-0
    val short = Seq((9L, Array(1.0f))).toDF("vec_id", "embedding")
    intercept[Exception](
      Similarity.centroidDrift(short, short, "embedding", signDims = 2).collect())
    intercept[IllegalArgumentException](
      Similarity.centroidDrift(a, b, "embedding", signDims = 0))
  }

  test("tripletMining: positive is nearest same-label, negative the hardest non-match") {
    val emb = Seq(
      (1L, Array(1.0f, 0.00f), 0),  // anchor
      (2L, Array(1.0f, 0.05f), 0),  // near same-label → positive of 1
      (3L, Array(0.0f, 1.00f), 0),  // far same-label
      (4L, Array(1.0f, 0.30f), 1),  // nearest diff-label → hard negative of 1
      (5L, Array(-1.0f, 0.0f), 1)   // far diff-label
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.tripletMining(emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(got(1L) == ((2L, 4L)), s"anchor 1: ${got(1L)}")
    assert(got(4L)._1 == 5L, s"anchor 4 positive: ${got(4L)}") // only other label-1
    // a one-label corpus has no negatives: NO triplets, not half-triplets
    val mono = emb.where($"label" === 0)
    assert(Similarity.tripletMining(mono, "vec_id", "embedding", "label").count() == 0)
    // string labels loud
    intercept[IllegalArgumentException](Similarity.tripletMining(
      Seq((1L, Array(1.0f), "en")).toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label"))
  }

  test("knnLabelAccuracy: clustered labels verify, the planted mislabel is caught") {
    // two tight clusters; vec 7 sits in cluster 0 but carries label 1 —
    // its neighbors outvote the label, so it (and only it) is incorrect
    val emb = Seq(
      (1L, Array(1.0f, 0.00f), 0), (2L, Array(1.0f, 0.01f), 0),
      (3L, Array(1.0f, 0.02f), 0), (4L, Array(0.0f, 1.00f), 1),
      (5L, Array(0.01f, 1.0f), 1), (6L, Array(0.02f, 1.0f), 1),
      (7L, Array(1.0f, 0.03f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAccuracy(emb, "vec_id", "embedding", "label", k = 3)
      .orderBy("vec_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.count(!_._4) == 1 && !out(6)._4,
      s"exactly the planted mislabel must fail: $out")
    assert(out(6)._3 == 0L, s"vec 7 predicted into cluster 0: ${out(6)}")
    assert(out.take(6).forall(_._4), s"clean vectors all verify: $out")
    // vote ties break toward the SMALLEST label: k=2 over one neighbor
    // of each label -> predicted 0
    val tie = Seq(
      (1L, Array(1.0f, 1.0f), 5), (2L, Array(1.0f, 0.99f), 0),
      (3L, Array(0.99f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val t1 = Similarity.knnLabelAccuracy(tie, "vec_id", "embedding", "label", k = 2)
      .where(col("vec_id") === 1).select("predicted").as[Long].head()
    assert(t1 == 0L, s"tie must resolve to the smallest label, got $t1")
    intercept[IllegalArgumentException](
      Similarity.knnLabelAccuracy(
        emb.withColumn("label", col("label").cast("string")),
        "vec_id", "embedding", "label", 3))
  }

  test("temporalSplit: past trains, future tests, the boundary is structural; NULL ts refuses") {
    def t(d: Int) = new java.sql.Timestamp(1700000000000L + d * 86400000L)
    val df = (0 until 100).map(i => (i.toLong, t(i))).toDF("id", "ts")
    val got = Maintenance.temporalSplit(df, "ts", trainPct = 80, valPct = 10)
    val bySplit = got.groupBy("split")
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // exact-percentile cutoffs on 100 evenly spaced days: ranks 80.2/90.1
    // interpolate between days 79-80 / 89-90 → train ids 0..79 (80 rows),
    // val 80..89, test 90..99
    assert(bySplit("train") == ("train", 80L, 0L, 79L), s"$bySplit")
    assert(bySplit("val") == ("val", 10L, 80L, 89L), s"$bySplit")
    assert(bySplit("test") == ("test", 10L, 90L, 99L), s"$bySplit")
    // the leakage guard is structural: max(train ts) < min(test ts)
    val mx = got.where($"split" === "train").agg(max("ts")).head.getTimestamp(0)
    val mn = got.where($"split" === "test").agg(min("ts")).head.getTimestamp(0)
    assert(mx.before(mn))
    // NULL timestamps are refused loudly, not silently binned
    val withNull = df.unionByName(
      Seq((999L, null.asInstanceOf[java.sql.Timestamp])).toDF("id", "ts"))
    val e = intercept[Exception](
      Maintenance.temporalSplit(withNull, "ts").collect())
    assert(e.getMessage.contains("temporalSplit"), e.getMessage)
  }

  test("snapshotDiff reports exactly added/removed/changed, never unchanged") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val v2 = Seq((2L, "b"), (3L, "c CHANGED"), (9L, "new")).toDF("id", "text")
    val got = Maintenance.snapshotDiff(v1, v2, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 9L -> "added"), s"$got")
  }
  test("weightedSample: 0 keeps nothing, 1e6 keeps all, rate tracks the weight") {
    val ids = (0L until 2000L).map(i => (i, i)).toDF("id", "x")
    assert(TextAnalysis.weightedSample(ids, "id", lit(0L)).count() == 0L)
    assert(TextAnalysis.weightedSample(ids, "id", lit(1000000L)).count() == 2000L)
    val half = TextAnalysis.weightedSample(ids, "id", lit(500000L)).count()
    assert(math.abs(half - 1000L) < 100, s"~50% expected, got $half")
    // per-row weights: the kept set of a smaller weight is a subset
    val hi = TextAnalysis.weightedSample(ids, "id", lit(700000L))
      .select("id").as[Long].collect().toSet
    val lo = TextAnalysis.weightedSample(ids, "id", lit(300000L))
      .select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi), "weight monotonicity: lower weight keeps a subset")
  }
  test("intervalOverlapJoin: overlap pairs exact, multi-bin spans emit once") {
    val a = Seq((1L, 0L, 10L), (2L, 10L, 20L), (3L, 5L, 95L)).toDF("aid", "as", "ae")
    val b = Seq((10L, 8L, 12L), (20L, 20L, 30L), (30L, 0L, 100L)).toDF("bid", "bs", "be")
    val out = Relational.intervalOverlapJoin(a, b, "as", "ae", "bs", "be", bin = 4L)
      .select("aid", "bid").as[(Long, Long)].collect().toSeq
    // half-open: [10,20) does NOT overlap [20,30); the 24-bin × 25-bin pair
    // (3,30) shares ~23 bins but the anchor filter emits it exactly ONCE
    assert(out.sorted == Seq((1L, 10L), (1L, 30L), (2L, 10L), (2L, 30L), (3L, 10L),
      (3L, 20L), (3L, 30L)), s"$out")
    assert(out.size == out.distinct.size, "no duplicate pairs")
    val plan = Relational.intervalOverlapJoin(a, b, "as", "ae", "bs", "be", bin = 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"overlap join must stay an equi join on the bin:\n$plan")
  }

  test("intervalOverlapJoin equals the inequality join on random intervals") {
    val rnd = new scala.util.Random(41)
    def gen(n: Int, id0: Long) = (0 until n).map { i =>
      val s0 = rnd.nextInt(1000).toLong; (id0 + i, s0, s0 + 1 + rnd.nextInt(60)) }
    val a = gen(200, 0L).toDF("aid", "as", "ae")
    val b = gen(200, 1000L).toDF("bid", "bs", "be")
    val fast = Relational.intervalOverlapJoin(a, b, "as", "ae", "bs", "be", bin = 32L)
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    val truth = a.join(b, col("as") < col("be") && col("bs") < col("ae"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(fast == truth, s"missing ${truth -- fast}, extra ${fast -- truth}")
  }
  test("snapshotDiff: NULL content is a value — changed, not added/removed") {
    val v1 = Seq((1L, Option.empty[String]), (2L, Option("x")), (3L, Option.empty[String]))
      .toDF("id", "text")
    val v2 = Seq((1L, Option("x")), (2L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("id", "text")
    val got = Maintenance.snapshotDiff(v1, v2, "id", "text")
      .as[(Long, String)].collect().toMap
    // NULL→"x" and "x"→NULL are CHANGED (id present both sides);
    // NULL→NULL is unchanged and absent
    assert(got == Map(1L -> "changed", 2L -> "changed"), s"$got")
  }

  test("intervalOverlapJoin: integer binning exact at epoch-nano magnitudes") {
    // past 2^53 a double floor(x/bin) can misplace the anchor bin; these
    // two intervals overlap by exactly 1 ns at ~1.7e18
    val t0 = 1700000000000000000L
    val a = Seq((1L, t0, t0 + 1000L)).toDF("aid", "as", "ae")
    val b = Seq((2L, t0 + 999L, t0 + 2000L)).toDF("bid", "bs", "be")
    val out = Relational.intervalOverlapJoin(a, b, "as", "ae", "bs", "be",
        bin = 86400L * 1000000000L)
      .select("aid", "bid").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)), s"$out")
    // non-integral time columns are a loud error, not silent bin drift
    val dbl = Seq((1L, 0.5, 2.5)).toDF("aid", "as", "ae")
    intercept[IllegalArgumentException] {
      Relational.intervalOverlapJoin(dbl, b, "as", "ae", "bs", "be", bin = 10L)
    }
  }

  test("bm25TopK rejects non-integral ids and all-empty corpora loudly") {
    val strIds = Seq(("doc-1", "spark join")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Search.bm25TopK(strIds, "doc_id", "text", Seq("spark"), 5)
    }
    // 2000 near-empty docs floor avg doc length to 0 milli-tokens: loud,
    // not an empty result
    val sparse = (0L until 2000L).map(i => (i, if (i == 0) "hello" else ""))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Search.bm25TopK(sparse, "doc_id", "text", Seq("hello"), 5)
    }
    assert(e.getMessage.contains("floors to 0"), e.getMessage)
  }
  test("quality classifier: separable planted data scores cleanly held-out; training is partition-invariant") {
    // "spammy" docs carry promo tokens; "clean" docs carry prose tokens —
    // linearly separable, so a held-out split must score near-perfectly
    val rnd = new scala.util.Random(7)
    val spamV = Vector("buy", "free", "winner", "click", "offer", "cash")
    val cleanV = Vector("the", "study", "results", "method", "data", "analysis")
    def doc(v: Vector[String]) = (0 until 12).map(_ => v(rnd.nextInt(v.size))).mkString(" ")
    val rows = (0 until 200).map { i =>
      val spam = i % 2 == 0
      (i.toLong, doc(if (spam) spamV else cleanV), if (spam) 1.0 else 0.0)
    }
    val df = rows.toDF("id", "text", "label")
    val model = Classifier.train(df.where($"id" % 4 < 2), "text", "label",
      numFeatures = 1 << 12)
    val held = df.where($"id" % 4 >= 2)
    val scored = Classifier.score(model, held, "id", "text")
      .join(held.select("id", "label"), "id")
      .select($"label", $"quality_ppm").as[(Double, Long)].collect()
    val acc = scored.count { case (l, p) => (p >= 500000L) == (l == 1.0) }.toDouble / scored.length
    assert(acc >= 0.98, s"separable data must score >= 0.98 held-out, got $acc")
    // filter stage keeps only above-threshold rows
    val kept = Classifier.filterByQuality(model, held, "id", "text", 500000L)
    assert(kept.count() > 0 && kept.count() < held.count())
    // r11 determinism: integer fixed-point training is BIT-identical at
    // any parallelism — the old MLlib float path drifted ulps with
    // partition order, which is exactly what kept this op rows-only
    val m3 = Classifier.train(df.where($"id" % 4 < 2).repartition(3),
      "text", "label", numFeatures = 1 << 12)
    val m32 = Classifier.train(df.where($"id" % 4 < 2).repartition(32),
      "text", "label", numFeatures = 1 << 12)
    assert(m3.bias == m32.bias && m3.weights.sameElements(m32.weights),
      "trained weights must be bit-identical at 3 vs 32 partitions")
    assert(m3.bias == model.bias && m3.weights.sameElements(model.weights))
    // persisted model round-trips exactly (all integers)
    val dir = java.nio.file.Files.createTempDirectory("graft_qc").toString
    Classifier.save(model, dir)
    val re = Classifier.load(dir)
    assert(re.numFeatures == model.numFeatures && re.bias == model.bias &&
      re.weights.sameElements(model.weights), "persisted model must round-trip exactly")
    // NULL text scores as an empty doc instead of NPE-ing the job
    val withNull = Seq((9999L, Option.empty[String])).toDF("id", "text")
    assert(Classifier.score(model, withNull, "id", "text").count() == 1L)
  }
  test("appendIvfIndex: build(half) + append(half) answers like build(all)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.where($"vec_id" % 2 === 0)
    val b = emb.where($"vec_id" % 2 === 1)
    val dir = "target/ivf_append_spec"
    Similarity.buildIvfIndex(a, "vec_id", "embedding", dir, nLists = 16)
    Similarity.appendIvfIndex(b, "vec_id", "embedding", dir)
    val queries = emb.where($"vec_id" < 5)
    val got = Similarity.queryIvfIndex(queries, "vec_id", "embedding", dir,
      k = 10, nProbe = 16) // all lists probed → candidate set is the FULL corpus
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
    // probing every list makes IVF exhaustive: appended rows must be fully
    // visible — results equal brute force exactly
    assert(got.collect().toSet == exact.collect().toSet,
      "appended vectors must be first-class citizens of every probed list")
  }
  test("applyTombstones deletes exactly the listed ids, refuses in-place rewrite") {
    val src = java.nio.file.Files.createTempDirectory("graft_tomb_src").toString
    val dst = src + "_out"
    (0L until 100L).map(i => (i, s"doc $i")).toDF("id", "text")
      .write.mode("overwrite").parquet(src)
    val tombs = Seq(3L, 50L, 99L, 1234L).toDF("id") // 1234 absent: no-op
    val (before, deleted) = Maintenance.applyTombstones(spark, src, dst, tombs, "id")
    assert(before == 100L && deleted == 3L, s"($before, $deleted)")
    val left = spark.read.parquet(dst).select("id").as[Long].collect().toSet
    assert(!left.exists(Set(3L, 50L, 99L)) && left.size == 97)
    intercept[IllegalArgumentException] {
      Maintenance.applyTombstones(spark, src, src, tombs, "id")
    }
  }
  test("kAnonymityViolations reports exactly the small groups, NULLs included") {
    val df = Seq(
      ("a", Some(1)), ("a", Some(1)), ("a", Some(1)),  // group of 3: safe at k=3
      ("b", Some(2)), ("b", Some(2)),                   // group of 2: violation
      ("c", None), ("d", Some(9))                       // singletons incl. NULL qi
    ).toDF("city", "age")
    val got = Maintenance.kAnonymityViolations(df, Seq("city", "age"), k = 3L)
      .as[(String, Option[Int], Long)].collect().toSet
    assert(got == Set(("b", Some(2), 2L), ("c", None, 1L), ("d", Some(9), 1L)), s"$got")
  }
  test("vocabGrowth: first appearances per id slice, exact cumulative vocabulary") {
    val docs = Seq(
      (0L, "a b"), (1L, "b c"),        // bucket 0: first-seen a, b, c
      (2L, "c d"), (3L, "d a e")       // bucket 1: first-seen d, e only
    ).toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, "doc_id", "text", nBuckets = 2)
      .orderBy("bucket").as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((0, 3L, 3L), (1, 2L, 5L)), s"$got")
    // a saturated corpus: later buckets add nothing and must report as such
    val sat = Seq((0L, "x y"), (1L, "x"), (2L, "y x")).toDF("doc_id", "text")
    val g2 = TextAnalysis.vocabGrowth(sat, "doc_id", "text", nBuckets = 3)
      .orderBy("bucket").as[(Int, Long, Long)].collect().toSeq
    assert(g2 == Seq((0, 2L, 2L), (1, 0L, 2L), (2, 0L, 2L)), s"$g2") // flat tail REPORTED
    intercept[IllegalArgumentException](
      TextAnalysis.vocabGrowth(docs, "doc_id", "text", 1))
    intercept[IllegalArgumentException](TextAnalysis.vocabGrowth(
      Seq(("x", "t")).toDF("doc_id", "text"), "doc_id", "text"))
  }

  test("expectations: per-rule counts in one pass, NULL predicate = violation") {
    val df = Seq(
      (Some(5.0), "ok"), (Some(-1.0), "ok"),   // -1 violates the range
      (None, "bad"), (Some(7.0), "ok")          // NULL can't pass the range
    ).toDF("v", "tag")
    val got = Maintenance.expectations(df, Seq(
      "v_in_range" -> ($"v" >= 0 && $"v" <= 10),
      "tag_ok" -> ($"tag" === "ok"),
      "always" -> lit(true)))
      .as[(String, Long, Long)].collect().toSeq
    // input order preserved; NULL v fails the range rule
    assert(got == Seq(("v_in_range", 2L, 4L), ("tag_ok", 1L, 4L),
      ("always", 0L, 4L)), s"$got")
    intercept[IllegalArgumentException](Maintenance.expectations(df, Seq.empty))
    intercept[IllegalArgumentException](Maintenance.expectations(df,
      Seq("a" -> lit(true), "a" -> lit(false))))
    // empty input: zero violations over zero rows, not NULLs
    val e = Maintenance.expectations(df.where(lit(false)),
      Seq("r" -> ($"v" > 0))).as[(String, Long, Long)].head()
    assert(e == (("r", 0L, 0L)), s"$e")
  }

  test("expectUnique counts duplicate ROWS and keys; NULL keys group as values") {
    val df = Seq(Some(1L), Some(1L), Some(1L), Some(2L), None, None)
      .toDF("k")
    val got = Maintenance.expectUnique(df, Seq("k"))
      .as[(Long, Long, Long)].head()
    // key 1 ×3 + NULL ×2 = 5 dup rows across 2 dup keys, 6 total
    assert(got == ((5L, 2L, 6L)), s"$got")
    val clean = Maintenance.expectUnique(Seq(1L, 2L).toDF("k"), Seq("k"))
      .as[(Long, Long, Long)].head()
    assert(clean == ((0L, 0L, 2L)), s"$clean")
  }

  test("lDiversityViolations: homogeneous groups flagged even when k-large; NULL adds no diversity") {
    val df = Seq(
      // cohort "a": 4 rows but every sensitive value identical — the
      // homogeneity attack k-anonymity misses
      ("a", Some("x")), ("a", Some("x")), ("a", Some("x")), ("a", Some("x")),
      ("b", Some("x")), ("b", Some("y")),          // diversity 2 < 3: flagged
      ("c", Some("x")), ("c", Some("y")), ("c", Some("z")), // diversity 3: safe
      ("d", None), ("d", None), ("d", Some("q"))   // NULLs don't count: diversity 1
    ).toDF("cohort", "diag")
    val got = Maintenance.lDiversityViolations(df, Seq("cohort"), "diag", l = 3L)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 4L, 1L), ("b", 2L, 2L), ("d", 3L, 1L)), s"$got")
    intercept[IllegalArgumentException](
      Maintenance.lDiversityViolations(df, Seq("cohort"), "cohort", 3L))
    intercept[IllegalArgumentException](
      Maintenance.lDiversityViolations(df, Seq("cohort"), "diag", 1L))
  }
  test("tClosenessViolations: hand-computed ordered EMD, NULL accounting, vacuous-m guard") {
    // global dist over v∈{1,2} is (1/2, 1/2); cohort a = (3/4, 1/4):
    // EMD = |3/4 − 1/2| / (m−1 = 1) = 0.25 → 250000 ppm. Cohort c
    // matches the global exactly → 0 ppm, NOT flagged. The NULL row in
    // cohort a is excluded from the distribution but ACCOUNTED.
    val df = Seq(
      ("a", Some(1L)), ("a", Some(1L)), ("a", Some(1L)), ("a", Some(2L)),
      ("a", None),
      ("b", Some(1L)), ("b", Some(2L)), ("b", Some(2L)), ("b", Some(2L)),
      ("c", Some(1L)), ("c", Some(1L)), ("c", Some(2L)), ("c", Some(2L))
    ).toDF("cohort", "v")
    val got = Maintenance.tClosenessViolations(df, Seq("cohort"), "v", tPpm = 100000L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("a", 4L, 1L, 250000L), ("b", 4L, 0L, 250000L)), s"$got")
    // a value absent from a cohort densifies to zero mass, not a skipped
    // grid row: cohort d never sees v∈{2,3} ⇒ p=(1,0,0) vs q=(5/9,3/9,1/9)
    // over m=3 ⇒ cum diffs (4/9, 1/9, 0) ⇒ EMD = (5/9)/2 = 5/18 →
    // 15·10⁶ DIV 54 = 277777 ppm (cohorts e and f sit at 222222 / 83333)
    val df3 = Seq(
      ("d", 1L), ("d", 1L), ("d", 1L),
      ("e", 1L), ("e", 2L), ("e", 2L), ("e", 3L),
      ("f", 1L), ("f", 2L)).toDF("cohort", "v")
    val g3 = Maintenance.tClosenessViolations(df3, Seq("cohort"), "v", 250000L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(g3 == Set(("d", 3L, 0L, 277777L)), s"$g3")
    // one global value: EMD is vacuously 0 for every cohort — loud, not a pass
    val mono = Seq(("a", 7L), ("b", 7L)).toDF("cohort", "v")
    val e = intercept[Exception](
      Maintenance.tClosenessViolations(mono, Seq("cohort"), "v", 0L).collect())
    assert(e.getMessage != null && e.getMessage.contains("vacuous"), s"${e.getMessage}")
    intercept[IllegalArgumentException](
      Maintenance.tClosenessViolations(df, Seq("cohort"), "cohort", 1000L))
    intercept[IllegalArgumentException](
      Maintenance.tClosenessViolations(df, Seq("cohort"), "v", 1000000L))
    intercept[IllegalArgumentException](Maintenance.tClosenessViolations(
      Seq(("a", "x")).toDF("cohort", "v"), Seq("cohort"), "v", 1000L))
  }
  test("datasetCard: one-row manifest with exact integer dup rate") {
    val docs = Seq(
      (1L, "same text", "web", "en"),
      (2L, "same  text", "web", "en"),   // whitespace-normalized dup of 1
      (3L, "other", "books", "de"),
      (4L, "third", "web", "en")).toDF("doc_id", "text", "source", "lang")
    val card = Maintenance.datasetCard(docs, "doc_id", "text", "source", "lang")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    // 4 docs, 2 sources, 2 langs, 3 unique texts, dup_ppm = 1e6/4 = 250000
    assert(card == (4L, 2L, 2L, ("same text" + "same  text" + "other" + "third").length.toLong,
      3L, 250000L), s"$card")
  }

  test("incremental rollup: merged batch states equal the full recompute") {
    val a = Seq(("x", 1.004), ("x", 2.996), ("y", 5.0)).toDF("k", "v")
    val b = Seq(("x", 0.5), ("z", -0.006)).toDF("k", "v") // z only in the delta
    val merged = Maintenance.rollupReport(Maintenance.mergeRollups(Seq("k"),
        Maintenance.rollupState(a, Seq("k"), "v"),
        Maintenance.rollupState(b, Seq("k"), "v")))
      .orderBy("k").as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // x: cents 100, 300, 50 → n=3 sum=450 min=50 max=300 avg=150
    // y: 500; z: floor(-0.6+0.5) = -1
    assert(merged == Seq(
      ("x", 3L, 450L, 50L, 300L, 150L),
      ("y", 1L, 500L, 500L, 500L, 500L),
      ("z", 1L, -1L, -1L, -1L, -1L)), s"$merged")
    // the merge is exactly the single-pass state over the union
    val direct = Maintenance.rollupReport(
        Maintenance.rollupState(a.unionByName(b), Seq("k"), "v"))
      .orderBy("k").as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(merged == direct)
    // a state is its own 1-way merge (the no-delta day)
    val one = Maintenance.mergeRollups(Seq("k"), Maintenance.rollupState(a, Seq("k"), "v"))
      .orderBy("k").collect().toSeq
    assert(one == Maintenance.rollupState(a, Seq("k"), "v").orderBy("k").collect().toSeq)
    intercept[IllegalArgumentException](Maintenance.mergeRollups(Seq.empty))
    intercept[IllegalArgumentException](Maintenance.rollupState(a, Seq.empty, "v"))
  }

  test("cdcLatest: newest row wins, tombstones delete, a newer upsert revives") {
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")
    val log = Seq(
      (1L, 1L, Option(t(1)), "upsert", "v1"),
      (1L, 2L, Option(t(2)), "upsert", "v2"),   // newest for key 1
      (2L, 3L, Option(t(1)), "upsert", "v1"),
      (2L, 4L, Option(t(2)), "delete", null),   // newest = tombstone → dropped
      (3L, 5L, Option(t(1)), "delete", null),
      (3L, 6L, Option(t(2)), "upsert", "v9"),   // delete then REVIVED
      (4L, 7L, None, "upsert", "zz"),           // NULL ts: no version order
      (4L, 8L, Option(t(1)), "upsert", "v4")
    ).toDF("k", "seq", "ts", "op", "payload")
    val got = Maintenance.cdcLatest(log, Seq("k"), "ts", "seq",
        deleteFilter = Some(col("op") === "delete"))
      .orderBy("k").as[(Long, Timestamp, Long, String, String)].collect().toSeq
    assert(got == Seq(
      (1L, t(2), 2L, "upsert", "v2"),
      (3L, t(2), 6L, "upsert", "v9"),
      (4L, t(1), 8L, "upsert", "v4")), s"$got")
    // timestamp collision: the tie column decides deterministically
    val tie = Seq((9L, 1L, t(1), "upsert", "lo"), (9L, 2L, t(1), "upsert", "hi"))
      .toDF("k", "seq", "ts", "op", "payload")
    val w = Maintenance.cdcLatest(tie, Seq("k"), "ts", "seq")
      .select("payload").as[String].head()
    assert(w == "hi", s"tie must resolve to the larger seq, got $w")
    intercept[IllegalArgumentException](
      Maintenance.cdcLatest(log, Seq.empty, "ts", "seq"))
  }

  test("integrityAudit: orphans exact, NULL FKs counted apart, empty child is zeros") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(3L), None).toDF("fk") // 3 dangles, NULL apart
    val got = Maintenance.integrityAudit(child, "fk", parent, "pk")
      .as[(Long, Long, Long, Long)].head()
    assert(got == (4L, 1L, 1L, 250000L), s"$got")
    val empty = Maintenance.integrityAudit(child.limit(0), "fk", parent, "pk")
      .as[(Long, Long, Long, Long)].head()
    assert(empty == (0L, 0L, 0L, 0L), s"$empty")
    // duplicate parent keys must not multiply child rows through the join
    val dupParent = Seq(1L, 1L, 2L).toDF("pk")
    val dup = Maintenance.integrityAudit(child, "fk", dupParent, "pk")
      .as[(Long, Long, Long, Long)].head()
    assert(dup == (4L, 1L, 1L, 250000L), s"$dup")
  }

  test("joinCardinalityAudit: per-key products exact, unmatched and NULL keys excluded") {
    val l = Seq(Some(1L), Some(1L), Some(1L), Some(2L), Some(9L), None).toDF("k")
    val r = Seq(Some(1L), Some(1L), Some(2L), Some(2L), Some(2L), None).toDF("k")
    val got = Relational.joinCardinalityAudit(l, "k", r, "k", k = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // key 1: 3×2=6; key 2: 1×3=3; key 9 unmatched, NULLs match nothing
    assert(got == Seq((1L, 3L, 2L, 6L), (2L, 1L, 3L, 3L)), s"$got")
    // the estimate IS the join's row count
    val actual = l.where(col("k").isNotNull).join(r, "k").count()
    assert(actual == got.map(_._4).sum)
    intercept[IllegalArgumentException](Relational.joinCardinalityAudit(l, "k", r, "k", 0))
  }

  test("hardNegatives: positives and self never surface, nearest non-positive ranks first") {
    // axis-aligned embeddings: q=0 nearly parallel to 1 (its positive),
    // then 2 (the hard negative), then 3; vector 4 is orthogonal
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.04f, 0.0f)),  // labeled positive of 0
      (2L, Array(0.97f, 0.24f, 0.0f)),   // closest NON-positive → rank 1
      (3L, Array(0.8f, 0.6f, 0.0f)),     // rank 2
      (4L, Array(0.0f, 0.0f, 1.0f))      // rank 3 (cos 0)
    ).toDF("vec_id", "embedding")
    val pos = Seq((0L, 1L)).toDF("q", "p")
    val got = Similarity.hardNegatives(emb, pos, "vec_id", "embedding", "q", "p", k = 3)
      .orderBy("rank").select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(2L, 3L, 4L), s"$got")
    assert(got.forall(_._1 == 0L))
    // string ids rejected loudly, not silently cast to an empty result
    val bad = Seq(("a", Array(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      Similarity.hardNegatives(bad, pos, "vec_id", "embedding", "q", "p", k = 1))
  }

  test("urlParts: scheme/host/path/query/fragment exact, domain strips www and port") {
    val df = Seq(
      (1L, "https://www.News.Example.com:8443/a/b.html?q=1&r=2#frag"),
      (2L, "http://example.org"),
      (3L, "ftp://files.example.net/pub"),
      (4L, "not a url at all"),
      (5L, "https://ex.com/page#sec?x=1")
    ).toDF("id", "url")
    val got = TextAnalysis.urlParts(df, "url")
      .select("id", "scheme", "host", "path", "url_query", "fragment", "domain")
      .as[(Long, String, String, String, String, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, "https", "www.News.Example.com:8443", "/a/b.html",
      "q=1&r=2", "frag", "news.example.com")))
    assert(got(1) == ((2L, "http", "example.org", "", "", "", "example.org")))
    assert(got(2) == ((3L, "ftp", "files.example.net", "/pub", "", "", "files.example.net")))
    // crawl garbage degrades to empty components, never to an error
    assert(got(3) == ((4L, "", "", "", "", "", "")))
    // a '?' AFTER '#' belongs to the fragment, not the query component
    assert(got(4) == ((5L, "https", "ex.com", "/page", "", "sec?x=1", "ex.com")))
    // userinfo is stripped: 'trusted.com@spam.example' keying its domain
    // as trusted.com is the classic blocklist-evasion trick
    val spoofed = TextAnalysis.urlParts(
      Seq((9L, "https://trusted.com@spam.example/page")).toDF("id", "url"), "url")
      .select("host", "domain").as[(String, String)].head()
    assert(spoofed == (("spam.example", "spam.example")), s"got $spoofed")
  }

  test("scriptProfile counts each writing system; dominance ties break deterministically") {
    val df = Seq(
      (1L, "abc привет 你好 مرحبا 42"),   // latin 3, cyr 6, cjk 2, arabic 5, digit 2
      (2L, "когда-то давно"),             // cyrillic dominant
      (3L, "...!!!")                      // nothing → none
    ).toDF("id", "t")
    val got = TextAnalysis.scriptProfile(df, "t")
      .select("id", "n_latin", "n_cyrillic", "n_cjk", "n_arabic", "n_digit", "dominant")
      .as[(Long, Long, Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 3L, 6L, 2L, 5L, 2L, "cyrillic")), s"got ${got(0)}")
    assert(got(1)._7 == "cyrillic" && got(1)._2 == 0L)
    assert(got(2) == ((3L, 0L, 0L, 0L, 0L, 0L, "none")))
    // Hangul counts as CJK — a pure-Korean doc must not route to 'none'
    val ko = TextAnalysis.scriptProfile(
      Seq((9L, "안녕하세요 세계")).toDF("id", "t"), "t")
      .select("n_cjk", "dominant").as[(Long, String)].head()
    assert(ko == ((7L, "cjk")), s"got $ko")
  }

  test("similarityJoin char+word variants find exactly the brute-force pairs") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (0L until 40L).map { i =>
      val w =
        if (i % 4 == 0) (1 to 25).map(j => vocab(j % 8))            // one near-dup family
        else if (i % 4 == 1) (1 to 25).map(j => vocab(j % 8))
          .updated(rnd.nextInt(25), vocab(rnd.nextInt(8)))          // 1-word mutation
        else Vector.fill(25)(vocab(rnd.nextInt(8)))                 // random background
      (i, w.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    def brute(sets: Map[Long, Set[String]], pct: Int): Set[(Long, Long, Long, Long)] =
      (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a < b && sa.nonEmpty && sb.nonEmpty
        ni = (sa & sb).size.toLong; nu = sa.size + sb.size - ni
        if ni * 100 >= nu * pct
      } yield (a, b, ni, nu)).toSet
    val charSets = docs.map { case (i, t) =>
      val nrm = t.toLowerCase.replaceAll("\\s+", " ")
      i -> (if (nrm.length >= 3) nrm.sliding(3).toSet else Set(nrm))
    }.toMap
    val wordSets = docs.map { case (i, t) =>
      i -> t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }.toMap
    val gotChar = Dedup.similarityJoin(df, "doc_id", "text", 60, shingle = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotChar == brute(charSets, 60), "char-shingle variant disagrees with brute force")
    val gotWord = Dedup.similarityJoinWords(df, "doc_id", "text", 60, gramWords = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotWord == brute(wordSets, 60), "word-gram variant disagrees with brute force")
    assert(gotWord.nonEmpty, "the planted near-dup family must pair up")
  }

  test("publishVersioned: audit gates the pointer; failed publishes leave the prior version live") {
    val t = java.nio.file.Files.createTempDirectory("wap").toString + "/table"
    val v1 = Maintenance.publishVersioned(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, _.count() == 2)
    assert(v1 == 1L && Maintenance.readLatest(spark, t).count() == 2)
    val v2 = Maintenance.publishVersioned(
      Seq((1L, "a2")).toDF("id", "s"), t, _.count() == 1)
    assert(v2 == 2L)
    assert(Maintenance.readLatest(spark, t)
      .as[(Long, String)].collect().toSet == Set((1L, "a2")))
    // audit REJECTION: staging deleted, pointer untouched
    intercept[IllegalStateException](Maintenance.publishVersioned(
      Seq.empty[(Long, String)].toDF("id", "s"), t, _.count() > 0))
    assert(Maintenance.listVersions(spark, t) == Seq(1L, 2L),
      "rejected staging directory must not survive")
    assert(Maintenance.readLatest(spark, t).count() == 1)
    // audit THROWING cleans staging the same way
    intercept[IllegalStateException](Maintenance.publishVersioned(
      Seq((9L, "x")).toDF("id", "s"), t, _ => sys.error("boom")))
    assert(Maintenance.listVersions(spark, t) == Seq(1L, 2L))
    // vacuum drops only the non-published tail
    assert(Maintenance.vacuumVersions(spark, t, keep = 1) == Seq(1L))
    assert(Maintenance.listVersions(spark, t) == Seq(2L))
    assert(Maintenance.readLatest(spark, t).count() == 1)
    // ORPHANS (a driver died between staging and audit — no commit
    // marker): a NEWER orphan is potential in-flight staging, so vacuum
    // must preserve it and the pointerless fallback must NOT serve it;
    // an OLDER orphan is dead staging and is reclaimed
    Seq((7L, "garbage")).toDF("id", "s").write.parquet(s"$t/v=5")
    Seq((8L, "older-garbage")).toDF("id", "s").write.parquet(s"$t/v=1")
    assert(Maintenance.committedVersions(spark, t) == Seq(2L))
    assert(Maintenance.vacuumVersions(spark, t, keep = 1) == Seq(1L),
      "older orphan reclaimed, newer in-flight orphan preserved")
    assert(Maintenance.listVersions(spark, t) == Seq(2L, 5L))
    val (fs, _) = (new org.apache.hadoop.fs.Path(t))
      .getFileSystem(spark.sparkContext.hadoopConfiguration) -> ()
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/_LATEST"), false)
    assert(Maintenance.readLatest(spark, t)
      .as[(Long, String)].collect().toSet == Set((1L, "a2")),
      "pointerless fallback must serve the newest COMMITTED version, never the orphan")
  }

  test("containmentJoinWords: ordered quote-in-page pairs exact vs brute force") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("red", "blue", "green", "gold", "iron", "clay", "moss", "sand")
    val pages = (0L until 12L).map(i => i -> Vector.fill(30)(vocab(rnd.nextInt(8))))
    // quotes = the first 8 words of each even page: contained at C=1.0,
    // while Jaccard vs the 30-word page is far below any useful threshold
    val quotes = pages.filter(_._1 % 2 == 0)
      .map { case (i, w) => (100L + i) -> w.take(8) }
    val all = (pages ++ quotes).map { case (i, w) => (i, w.mkString(" ")) }
    val df = all.toDF("doc_id", "text")
    def grams(w: Vector[String]) =
      w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    val sets = (pages ++ quotes).map { case (i, w) => i -> grams(w.toVector) }.toMap
    val brute = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b && sa.nonEmpty && sb.nonEmpty
      ni = (sa & sb).size.toLong
      if ni * 100 >= sa.size.toLong * 80
    } yield (a, b, ni, sa.size.toLong)).toSet
    val got = Dedup.containmentJoinWords(df, "doc_id", "text", 80, gramWords = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == brute, s"containment disagrees: got ${got.size}, brute ${brute.size}")
    // every planted quote is found inside its page, in that direction only
    quotes.foreach { case (qid, _) =>
      assert(got.exists(p => p._1 == qid && p._2 == qid - 100L),
        s"quote $qid not detected in its page")
    }
  }

  test("stripMarkup: tags/script/style/comments out, entities once, spaces collapsed") {
    val html = "<html><!-- hidden --><head><style>p{color:red}</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
      "<body><p class=\"a\">Hello<br>world</p> &quot;q&quot; &amp;amp; " +
      "&lt;tag&gt;&nbsp;A&#39;s\t\nend</body></html>"
    val out = Seq(html).toDF("t")
      .select(TextAnalysis.stripMarkup($"t")).as[String].head()
    // script/style bodies and the comment are GONE (not just untagged);
    // &amp;amp; decodes exactly once to &amp; — never to a phantom '&'
    assert(out == "Hello world \"q\" &amp; <tag> A's end", s"got: $out")
    // SQL surface is the same implementation
    Seq(html).toDF("t").createOrReplaceTempView("__sm")
    val viaSql = spark.sql("SELECT strip_markup(t) FROM __sm").as[String].head()
    assert(viaSql == out)
  }

  test("mixPlan: hand-run water-filling — empty and small sources saturate, the rest split the remainder") {
    // recipe a/b/c at 40/40/20; corpus: a = 10 tokens, b = 100, c absent
    // (cap 0), d not in the recipe (excluded). Budget 60, 1 epoch:
    // c saturates at 0, a at 10; b gets 400000·50 DIV 400000 = 50.
    val docs = Seq(
      ("a", 10L), ("b", 60L), ("b", 40L), ("d", 99L)
    ).toDF("source", "n_tok")
    val got = TextAnalysis.mixPlan(docs, "source", "n_tok",
        Map("a" -> 400000L, "b" -> 400000L, "c" -> 200000L),
        budgetTokens = 60L)
      .orderBy("source")
      .as[(String, Long, Long, Long, Boolean, Long, Option[Long], Long)]
      .collect().toSeq
    assert(got == Seq(
      ("a", 10L, 400000L, 10L, true, 10L, Some(1000L), 166666L),
      ("b", 100L, 400000L, 100L, false, 50L, Some(500L), 833333L),
      ("c", 0L, 200000L, 0L, true, 0L, None, 0L)), s"$got")
    // an epoch cap raises capacity: with maxEpochs = 8, a's cap (80)
    // still saturates against the proportional 60·0.4 = 24? no — the
    // test is cap·suffixW vs remaining·w: 80·1e6 > 60·400000 → a is
    // UNSATURATED too and the split is purely proportional
    val g2 = TextAnalysis.mixPlan(docs, "source", "n_tok",
        Map("a" -> 400000L, "b" -> 400000L, "c" -> 200000L),
        budgetTokens = 60L, maxEpochs = 8)
      .orderBy("source")
      .as[(String, Long, Long, Long, Boolean, Long, Option[Long], Long)]
      .collect().toSeq
    // c (cap 0) saturates; a and b split 60 at 400000/800000 each = 30
    assert(g2.map(r => (r._1, r._5, r._6)) ==
      Seq(("a", false, 30L), ("b", false, 30L), ("c", true, 0L)), s"$g2")
    // shares that don't sum to 1e6 are refused loudly
    intercept[IllegalArgumentException](
      TextAnalysis.mixPlan(docs, "source", "n_tok", Map("a" -> 5L), 60L))
  }

  test("mixPlan: near-tie capacity/weight ratios order integer-exactly (r10 verdict nit)") {
    // Ratios that provably COLLIDE as doubles: z = 10¹⁶/250000 = 4·10¹⁰
    // exactly; b = (2·10¹⁶+1)/500000 = 4·10¹⁰ + 2·10⁻⁶. 2·10¹⁶+1 > 2⁵³, so
    // CAST(2·10¹⁶+1 AS DOUBLE) rounds to 2·10¹⁶ and the two double ratios
    // are bit-equal — the r10 double key would fall to the source
    // tie-break and rank b ("b" < "z") FIRST, i.e. wrong. The exact pair
    // key (cap DIV w, ((cap % w)·10¹²) DIV w) ranks z first: z → (4e10, 0),
    // b → (4e10, 10¹² DIV 500000 = 2·10⁶).
    // Budget 4·10¹⁶, maxEpochs 1. In the CORRECT order (z, b, c):
    //   z: 10¹⁶·10⁶ ≤ 4·10¹⁶·250000 (equality) → SATURATED;
    //   b: (2·10¹⁶+1)·750000 = 1.5·10²² + 750000 > 3·10¹⁶·500000 → not;
    //   c: far over → not.
    // In the WRONG order (b, z, c): b's test fails first
    // ((2·10¹⁶+1)·10⁶ > 4·10¹⁶·500000 by 10⁶), then z's test runs with
    // b's cap in the prefix and fails too → NOTHING saturates. The
    // saturated flags are therefore order-sensitive evidence.
    val docs = Seq(
      ("z", 10000000000000000L), ("b", 20000000000000001L),
      ("c", 50000000000000000L)).toDF("source", "n_tok")
    val got = TextAnalysis.mixPlan(docs, "source", "n_tok",
        Map("z" -> 250000L, "b" -> 500000L, "c" -> 250000L),
        budgetTokens = 40000000000000000L)
      .orderBy("source")
      .select("source", "saturated", "alloc_tokens")
      .as[(String, Boolean, Long)].collect().toSeq
    // allocations: R = 3·10¹⁶ over W = 750000 → b: 2·10¹⁶, c: 10¹⁶
    assert(got == Seq(
      ("b", false, 20000000000000000L),
      ("c", false, 10000000000000000L),
      ("z", true, 10000000000000000L)), s"$got")
  }

  test("contaminationBatch: per-benchmark hits == per-benchmark contamination runs; shared grams count toward each") {
    val train = Seq(
      (1L, "a b c d e f g h tail"),      // leaks into both benchmarks
      (2L, "p q r s t u v w tail"),      // leaks into benchB only
      (3L, "totally clean text with nothing shared here at all")
    ).toDF("doc_id", "text")
    val benches = Seq(
      ("bA", "a b c d e f g h"),
      ("bB", "a b c d e f g h and p q r s t u v w")
    ).toDF("bench", "text")
    val got = TextAnalysis.contaminationBatch(train, benches, "doc_id",
        "text", "bench")
      .orderBy("doc_id", "benchmark")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "bA", 1L), (1L, "bB", 1L), (2L, "bB", 1L)), s"$got")
    // batch == the single-benchmark operator run per benchmark
    for ((b, expRows) <- Seq("bA" -> Seq(1L), "bB" -> Seq(1L, 2L))) {
      val single = TextAnalysis.contamination(train,
          benches.where(col("bench") === b).select("text"), "doc_id", "text")
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq.map(_._1)
      assert(single == expRows, s"$b: $single")
    }
  }

  test("c4LineClean: every drop attributed to its first failing rule; blank lines are not lines") {
    val doc = Seq(
      (1L, Seq(
        "one two three four five.", // kept
        "short one.",               // < 5 words → short (despite the '.')
        "six seven eight nine ten", // no terminal punctuation
        "a b c d { e.",             // brace (punctuation ok)
        "alpha beta gamma delta javascript.", // js mention
        ""                          // blank → not a line
      ).mkString("\n")),
      (2L, "just dropped")          // one line, short → clean_text NULL
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4LineClean(doc, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Option[String])]
      .collect().toSeq
    assert(got == Seq(
      (1L, 5L, 1L, 1L, 1L, 1L, 1L, Some("one two three four five.")),
      (2L, 1L, 0L, 1L, 0L, 0L, 0L, None)), s"$got")
  }

  test("c4LineClean: a NULL text is accounted as 0 lines, not dropped from the loss profile (r10 advice)") {
    val doc = Seq((1L, null.asInstanceOf[String]), (2L, "one two three four five."))
      .toDF("doc_id", "text")
    val got = TextAnalysis.c4LineClean(doc, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Option[String])]
      .collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 0L, 0L, 0L, 0L, None),
      (2L, 1L, 1L, 0L, 0L, 0L, 0L, Some("one two three four five."))), s"$got")
  }

  test("bootstrapMeanCi: constant groups collapse to a point; CI brackets the mean; tiny groups lose resamples") {
    // constant values: every resample mean is the constant → lo = hi = mean
    val const = (1L to 50L).map(i => ("c", i, 2.00)).toDF("g", "rid", "v")
    val g1 = Relational.bootstrapMeanCi(const, Seq("g"), "rid", "v")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(g1 == Seq(("c", 50L, 200L, 64L, 200L, 200L)), s"$g1")
    // a spread group: the order-statistic envelope brackets the mean
    val spread = (1L to 200L).map(i => ("s", i, i.toDouble)).toDF("g", "rid", "v")
    val g2 = Relational.bootstrapMeanCi(spread, Seq("g"), "rid", "v")
      .as[(String, Long, Long, Long, Long, Long)].collect().head
    assert(g2._2 == 200L && g2._4 == 64L, s"$g2")
    assert(g2._5 < g2._3 && g2._3 < g2._6,
      s"CI [${g2._5}, ${g2._6}] must bracket the mean ${g2._3}")
    // a 1-row group: ~37% of resamples draw weight 0 and drop out
    val tiny = Seq(("t", 1L, 5.0)).toDF("g", "rid", "v")
    val g3 = Relational.bootstrapMeanCi(tiny, Seq("g"), "rid", "v")
      .as[(String, Long, Long, Long, Long, Long)].collect().head
    assert(g3._4 >= 1L && g3._4 < 64L, s"1-row group must lose resamples: $g3")
    assert(g3._5 == 500L && g3._6 == 500L, s"surviving means are all 500: $g3")
    // a NULL group key is a real group and must survive the join
    val nullg = (1L to 30L).map(i => (null.asInstanceOf[String], i, 1.00))
      .toDF("g", "rid", "v")
    val g4 = Relational.bootstrapMeanCi(nullg, Seq("g"), "rid", "v")
      .as[(Option[String], Long, Long, Long, Long, Long)].collect().toSeq
    assert(g4 == Seq((None, 30L, 100L, 64L, 100L, 100L)), s"$g4")
  }

  test("cohenKappa: textbook 2x2 reads 0.4 exactly; NULLs excluded; pe = 1 reads NULL") {
    // cells yes/yes 4, yes/no 1, no/yes 2, no/no 3: N=10, agree=7,
    // pe_num = 5*6 + 5*4 = 50 → kappa = (70-50)/(100-50) = 0.4
    val rows = Seq.fill(4)(("yes", "yes")) ++ Seq(("yes", "no")) ++
      Seq.fill(2)(("no", "yes")) ++ Seq.fill(3)(("no", "no")) ++
      Seq((null, "yes"), ("yes", null)) // excluded
    val got = Relational.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq((10L, 7L, Some(400000L))), s"$got")
    // all mass in one matched cell: pe = 1, no beyond-chance margin
    val degenerate = Seq.fill(5)(("x", "x")).toDF("a", "b")
    val g2 = Relational.cohenKappa(degenerate, "a", "b")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(g2 == Seq((5L, 5L, None)), s"$g2")
    // perfect agreement over 2+ categories = exactly 1e6
    val perfect = Seq(("x", "x"), ("y", "y")).toDF("a", "b")
    val g3 = Relational.cohenKappa(perfect, "a", "b")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(g3 == Seq((2L, 2L, Some(1000000L))), s"$g3")
  }

  test("int8QuantAudit: hand-computed scale and reconstruction error; zero dim reads clean") {
    // dim 1 lattice values: 1_000_000, -500_000, 250_000 → scale 1e6;
    // codes 127, -63, 31; recon 1_000_000, -496_062, 244_094;
    // errs 0, 3_938, 5_906 → max 5906, mean 9844/3 = 3281.
    // dim 2 is constant zero → scale 0, errors 0.
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(-0.5f, 0.0f)),
      (3L, Array(0.25f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.int8QuantAudit(df, "vec_id", "embedding")
      .orderBy("dim").as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1, 3L, 1000000L, 5906L, 3281L),
      (2, 3L, 0L, 0L, 0L)), s"$got")
  }

  test("kCenterCoreset: farthest-point order, non-increasing radii, duplicates never picked") {
    // points on a line at 0, 1, 10, 11 (exact floats → lattice 0, 1e6,
    // 1e7, 1.1e7) plus an exact duplicate of 0. Greedy: c1 = min id
    // (point 0); c2 = farthest (11, d² = 121e12); c3: points 1 and 10
    // tie at min-d² = 1e12 → smaller id wins (id 2); c4 = point 10,
    // same radius. k=5 asks for a 5th center but only 4 distinct points
    // exist → 4 rows, duplicate never picked.
    val df = Seq(
      (1L, Array(0.0f)), (2L, Array(1.0f)),
      (3L, Array(10.0f)), (4L, Array(11.0f)),
      (5L, Array(0.0f)) // duplicate of id 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(df, "vec_id", "embedding", k = 5)
      .as[(Int, Long, Option[Long])].collect().toSeq
    assert(got == Seq((1, 1L, None), (2, 4L, Some(121000000000000L)),
      (3, 2L, Some(1000000000000L)), (4, 3L, Some(1000000000000L))), s"$got")
  }

  test("mutualNearest keeps only reciprocal top-1 pairs; hubs fail the reverse test") {
    // left 0 ↔ right 11 are each other's nearest (a true pair).
    // left 2's nearest is right 11 too — but 11 prefers 0, so 2 pairs with
    // nobody: the mutuality filter at work. Orthogonal right 13 pairs with
    // nothing either.
    val left = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.435f, 0.0f))
    ).toDF("vec_id", "embedding")
    val right = Seq(
      (11L, Array(0.999f, 0.04f, 0.0f)),
      (13L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mutualNearest(left, right, "vec_id", "embedding")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 11L)), s"got: $got")
  }

  test("mutualNearest: an unblocked left cohort past maxUnblockedLeft fails LOUDLY") {
    // blocking=None broadcasts the left side — a corpus-sized cohort must
    // never slip into the all-pairs shape silently (r14 verdict #1)
    val left = (0L to 4L).map(i => (i, Array(1.0f, i.toFloat))).toDF("vec_id", "embedding")
    val right = Seq((10L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.mutualNearest(left, right, "vec_id", "embedding",
        maxUnblockedLeft = 3).collect()
    }
    assert(ex.getMessage.contains("blocking"), ex.getMessage)
    // the same call under the bound (or blocked) still works
    assert(Similarity.mutualNearest(left, right, "vec_id", "embedding",
      maxUnblockedLeft = 5).count() == 1L)
  }

  test("readability: hand-computed Flesch milli-points; empty doc yields NULL") {
    // "the cat sat. it ran!" → 2 sentence runs, 5 whitespace tokens,
    // 5 vowel groups → 206835 − 1015·5 DIV 2 − 84600·5 DIV 5 = 119698
    val docs = Seq((1L, "the cat sat. it ran!"), (2L, "   "), (3L, "no stops here"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "text")
      .select("doc_id", "n_sentences", "n_words", "n_syllables", "flesch_milli")
      .orderBy("doc_id")
      .collect()
    assert((got(0).getLong(1), got(0).getLong(2), got(0).getLong(3), got(0).getLong(4))
      == (2L, 5L, 5L, 119698L), s"${got(0)}")
    assert(got(1).isNullAt(4), s"whitespace-only doc must score NULL: ${got(1)}")
    // fragment with no terminator: sentence floor of 1, still scored
    assert(got(2).getLong(1) == 1L && !got(2).isNullAt(4), s"${got(2)}")
  }

  test("semanticDecontam: paraphrase-near vectors flagged, far ones pass, ties to smaller id") {
    // benchmark: two orthogonal eval items. corpus: 10 is a near-copy of
    // bench 100 (paraphrase shape — no shared n-gram needed), 11 sits
    // between (below threshold), 12 is orthogonal, 13 is a NULL vector
    // (wrong model version — must drop, not match)
    val bench = Seq(
      (100L, Array(1f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.999f, 0.02f, 0f)),
      (11L, Array(0.7f, 0.7f, 0f)),
      (12L, Array(0f, 0f, 1f)),
      (13L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontam(corpus, bench, "vec_id", "embedding",
        thresholdScaled = 950000000L)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got.map(_._1) == Seq(10L, 11L, 12L), s"NULL vector must drop: $got")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(10L)._2 == 100L && byId(10L)._4, s"near-copy flagged: $got")
    assert(!byId(11L)._4 && !byId(12L)._4, s"below-threshold pass: $got")
    // equidistant from both benches → ties to the SMALLER bench id
    val tie = Seq((20L, Array(1f, 1f, 0f))).toDF("vec_id", "embedding")
    val t = Similarity.semanticDecontam(tie, bench, "vec_id", "embedding", 999000000L)
      .as[(Long, Long, Long, Boolean)].collect()(0)
    assert(t._2 == 100L, s"tie must pick bench 100: $t")
  }

  test("blocked embedding ops ≡ exact on clustered corpora (IVF candidates + exact rerank)") {
    // 4 tight clusters (10 members each) at distinct angles in the (0,1)
    // plane, per-id jitter in dim 2 — every vector's true neighbors are its
    // own cluster, and each cluster has a UNIQUE nearest other cluster, so
    // probing 2 of 4 lists covers every exact op's argmax domain. The
    // planted-twin corpora a ≡ b make every (i, i) pair reciprocal.
    val angles = Seq(0.0, 25.0, 80.0, 140.0).map(_ * math.Pi / 180)
    def vec(i: Int): Array[Float] = {
      val th = angles(i / 10)
      Array(math.cos(th).toFloat, math.sin(th).toFloat, 0.001f * (i + 1),
        0f, 0f, 0f, 0f, 0f)
    }
    val a = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val b = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

    // mutual pairs, corpus×corpus path
    val exactMutual = Similarity.mutualNearest(a, b, "vec_id", "embedding")
      .as[(Long, Long, Long)].collect().toSet
    val blockedMutual = Similarity.mutualNearestIvf(a, b, "vec_id", "embedding",
        nLists = 4, nProbe = 2, sampleSize = 100)
      .as[(Long, Long, Long)].collect().toSet
    assert(exactMutual.map(p => (p._1, p._2)) == (0 until 40).map(i => (i.toLong, i.toLong)).toSet,
      s"planted twins not reciprocal: $exactMutual")
    assert(blockedMutual == exactMutual,
      s"blocked ≠ exact: only-blocked=${blockedMutual -- exactMutual} only-exact=${exactMutual -- blockedMutual}")
    // the INTEGER-EXACT quantizer (the oracle-replayable twin behind
    // emb_mutual_pairs_blocked) must agree with exact too — different
    // blocking geometry, same probe-covers-argmax property here
    val blockedExactQ = Similarity.mutualNearestIvfExact(a, b, "vec_id", "embedding",
        nLists = 4, nProbe = 2, sampleSize = 100)
      .as[(Long, Long, Long)].collect().toSet
    assert(blockedExactQ == exactMutual,
      s"int-quantizer blocked ≠ exact: only-blocked=${blockedExactQ -- exactMutual} only-exact=${exactMutual -- blockedExactQ}")

    // self-corpus candidates shared by the three single-corpus ops — both
    // blocking forms: SCORED at the list join (ivfScoredPairs, the scale
    // path) and unscored pairs (vectors joined back per pair)
    val labeled = (0 until 40).map(i => (i.toLong, vec(i), (i / 10).toLong))
      .toDF("vec_id", "embedding", "label")
    val candsScored = Similarity.ivfScoredPairs(labeled, labeled, "vec_id", "embedding",
      nLists = 4, nProbe = 2, sampleSize = 100)
    val candsUnscored = Similarity.ivfCandidates(labeled, labeled, "vec_id", "embedding",
      nLists = 4, nProbe = 2, sampleSize = 100, broadcastQueries = false)

    val exactKnn = Similarity.knnLabelAccuracy(labeled, "vec_id", "embedding", "label", k = 3)
      .collect().map(_.toSeq).toSet
    for ((cands, form) <- Seq(candsScored -> "scored", candsUnscored -> "unscored")) {
      val blockedKnn = Similarity.knnLabelAccuracy(labeled, "vec_id", "embedding", "label", k = 3,
        blocking = Some(cands)).collect().map(_.toSeq).toSet
      assert(blockedKnn == exactKnn, s"knn blocked($form) ≠ exact")
    }

    val exactTrip = Similarity.tripletMining(labeled, "vec_id", "embedding", "label")
      .collect().map(_.toSeq).toSet
    for ((cands, form) <- Seq(candsScored -> "scored", candsUnscored -> "unscored")) {
      val blockedTrip = Similarity.tripletMining(labeled, "vec_id", "embedding", "label",
        blocking = Some(cands)).collect().map(_.toSeq).toSet
      assert(blockedTrip == exactTrip,
        s"triplets blocked($form) ≠ exact: only-blocked=${blockedTrip -- exactTrip} only-exact=${exactTrip -- blockedTrip}")
    }

    val pos = (0 until 40).filter(_ % 10 < 9).map(i => (i.toLong, (i + 1).toLong))
      .toDF("q", "p")
    val exactNeg = Similarity.hardNegatives(labeled, pos, "vec_id", "embedding", "q", "p", k = 2)
      .collect().map(_.toSeq).toSet
    for ((cands, form) <- Seq(candsScored -> "scored", candsUnscored -> "unscored")) {
      val blockedNeg = Similarity.hardNegatives(labeled, pos, "vec_id", "embedding", "q", "p", k = 2,
        blocking = Some(cands)).collect().map(_.toSeq).toSet
      assert(blockedNeg == exactNeg, s"hardNegatives blocked($form) ≠ exact")
    }
  }

  test("groupAwareSplitBucket: a group's members share one fold; singletons fall back") {
    // docs 1,2,3 form one near-dup group (rep 1); docs 50, 51 are
    // singletons — 51 deliberately absent from the groups frame
    val docs = Seq(1L, 2L, 3L, 50L, 51L).toDF("doc_id")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (50L, 50L))
      .toDF("id", "group_id")
    val got = TextAnalysis.groupAwareSplitBucket(docs, "doc_id", groups)
      .select("doc_id", "group_key", "bucket")
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    val byDoc = got.map(g => g._1 -> g._3).toMap
    assert(got.filter(_._1 <= 3).map(_._2).distinct == Seq(1L))
    assert(byDoc(1L) == byDoc(2L) && byDoc(2L) == byDoc(3L),
      s"group members split across folds: $got")
    // the member bucket is the REP's bucket, not the member id's own
    val repBucket = docs.where($"doc_id" === 1L)
      .select(TextAnalysis.splitBucket($"doc_id")).as[Int].head()
    assert(byDoc(3L) == repBucket)
    // absent doc falls back to its own id
    assert(got.find(_._1 == 51L).get._2 == 51L)
    val ownBucket = docs.where($"doc_id" === 51L)
      .select(TextAnalysis.splitBucket($"doc_id")).as[Int].head()
    assert(byDoc(51L) == ownBucket)
  }

  test("basketRules: hand-computed confidence and lift, megabasket excluded") {
    import org.apache.spark.sql.functions.col
    val facts = Seq(
      (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "w")
    ).toDF("basket", "item")
    // sup: x=3 y=2 z=1 w=1; pair (x,y)=2; N=4
    // y→x: conf 1e6, lift 2·4e6/(2·3) = 1333333; x→y: conf 666666, same lift
    val got = Relational.basketRules(facts, "basket", "item", minSupport = 2, k = 10)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("y", "x", 2L, 1000000L, 1333333L),
      ("x", "y", 2L, 666666L, 1333333L)), s"$got")
    // a basket over maxBasket is excluded AND leaves N (its pairs would
    // dominate; N counts retained baskets so supports stay consistent)
    val withMega = facts.union(
      Seq((9L, "x"), (9L, "y"), (9L, "q")).toDF("basket", "item"))
    val g2 = Relational.basketRules(withMega, "basket", "item",
        minSupport = 2, k = 10, maxBasket = 2)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(g2 == got, s"$g2")
  }

  test("freshnessAudit: staleness vs the fixed anchor, NULL timestamps accounted") {
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    val rows = Seq(
      ("a", Some("2024-01-30 12:00:00")), ("a", Some("2024-01-02 00:00:00")),
      ("a", None),
      ("b", Some("2023-12-01 00:00:00"))
    ).toDF("src", "tss")
      .selectExpr("src", "CAST(tss AS TIMESTAMP) AS ts")
    val got = Maintenance.freshnessAudit(rows, "src", "ts",
        to_timestamp(lit("2024-02-01 00:00:00")))
      .orderBy("src")
      .as[(String, Long, Long, java.sql.Timestamp, Int, Long, Long, Long)]
      .collect().toSeq
    // a: 3 rows (1 null ts), last 01-30 → 2 days stale; 1 row in 7d,
    //    2 rows in 30d (01-02 is exactly asof-30d) → 666666 ppm of 3
    assert(got.head == (("a", 3L, 1L,
      java.sql.Timestamp.valueOf("2024-01-30 12:00:00"), 2, 1L, 2L, 666666L)),
      s"${got.head}")
    // b: 62 days stale, nothing recent
    assert(got(1) == (("b", 1L, 0L,
      java.sql.Timestamp.valueOf("2023-12-01 00:00:00"), 62, 0L, 0L, 0L)),
      s"${got(1)}")
  }

  test("chiSquareTest: independence = 0, perfect association = N·dof·1e6, zero cells count") {
    // independent 2×2: every observed cell equals its expectation
    val ind = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"),
      ("b", "x"), ("b", "y")).toDF("r", "c")
    val g1 = Relational.chiSquareTest(ind, "r", "c")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(g1 == ((6L, 2L, 2L, 1L, 0L)), s"$g1")
    // perfect diagonal association: χ² = N·dof = 6 → 6e6 scaled; the
    // two ZERO cells contribute 1.5e6 each — omitting them would halve it
    val dep = Seq(("a", "x"), ("a", "x"), ("a", "x"),
      ("b", "y"), ("b", "y"), ("b", "y")).toDF("r", "c")
    val g2 = Relational.chiSquareTest(dep, "r", "c")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(g2 == ((6L, 2L, 2L, 1L, 6000000L)), s"$g2")
    // NULL categories excluded; empty input → zero rows
    val withNull = Seq((Some("a"), Some("x")), (None, Some("x"))).toDF("r", "c")
    assert(Relational.chiSquareTest(withNull, "r", "c")
      .as[(Long, Long, Long, Long, Long)].head()._1 == 1L)
    assert(Relational.chiSquareTest(
      Seq.empty[(String, String)].toDF("r", "c"), "r", "c").count() == 0L)
  }

  test("sourceOverlap: pairwise distinct-token Jaccard, empty intersections absent") {
    val docs = Seq(
      ("A", "x y"), ("A", "y"),   // A = {x, y}
      ("B", "y z"),               // B = {y, z}
      ("C", "p")                  // C = {p} — overlaps nothing
    ).toDF("source", "text")
    val got = TextAnalysis.sourceOverlap(docs, "source", "text")
      .orderBy("s1", "s2")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", "B", 2L, 2L, 1L, 333333L)), s"$got")
  }

  test("benfordAudit: digit shares exact, exclusions accounted, constants sum to 1e6") {
    // digits: 1 (from 1), 1 (19), 2 (2000); excluded: -5, 0, NULL
    val v = Seq(Some(1L), Some(19L), Some(2000L), Some(-5L), Some(0L), None)
      .toDF("cents")
    val got = Maintenance.benfordAudit(v, "cents").orderBy("digit")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 9, s"$got") // zero-count digits included
    assert(got.head == ((1, 2L, 666666L, 301030L, 365636L, 3L)), s"${got.head}")
    assert(got(1) == ((2, 1L, 333333L, 176091L, 157242L, 3L)), s"${got(1)}")
    assert(got(2) == ((3, 0L, 0L, 124939L, 124939L, 3L)), s"${got(2)}")
    // the ppm-rounded Benford reference is a true distribution
    assert(got.map(_._4).sum == 1000000L)
    // all-excluded input: 9 rows, zero shares, exclusions counted
    val none = Seq(0L, -3L).toDF("cents")
    val g2 = Maintenance.benfordAudit(none, "cents").orderBy("digit")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(g2.size == 9 && g2.forall(r => r._2 == 0 && r._3 == 0 && r._6 == 2L), s"$g2")
    intercept[IllegalArgumentException] {
      Maintenance.benfordAudit(Seq(1.5).toDF("cents"), "cents")
    }
  }

  test("ksTest: hand-computed max CDF gap, ties to smallest value, disjoint = 1e6 ppm") {
    import org.apache.spark.sql.functions.col
    // A = {1,2}, B = {2,3}: |2·F1 − 2·F2| over v = 1,2,3 is [2,2,0] —
    // the tie between v=1 and v=2 breaks to the SMALLEST value
    val ab = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("side", "v")
    val got = Relational.ksTest(ab, "v", "side", "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((2L, 2L, 2L, 500000L, 1L)), s"$got")
    // identical samples: D = 0, argmax at the smallest value
    val same = Seq(("a", 5L), ("b", 5L), ("a", 9L), ("b", 9L)).toDF("side", "v")
    val g2 = Relational.ksTest(same, "v", "side", "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(g2 == ((2L, 2L, 0L, 0L, 5L)), s"$g2")
    // disjoint supports: D = 1 → exactly 1e6 ppm
    val dis = Seq(("a", 1L), ("a", 2L), ("b", 5L), ("b", 6L)).toDF("side", "v")
    val g3 = Relational.ksTest(dis, "v", "side", "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(g3 == ((2L, 2L, 4L, 1000000L, 2L)), s"$g3")
    // rows of neither side and NULL values are excluded
    val noisy = Seq(("a", Some(1L)), ("b", Some(1L)), ("c", Some(7L)),
      ("a", None)).toDF("side", "v")
    val g4 = Relational.ksTest(noisy, "v", "side", "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(g4 == ((1L, 1L, 0L, 0L, 1L)), s"$g4")
    // non-integral values rejected (quantize upstream)
    intercept[IllegalArgumentException] {
      Relational.ksTest(Seq(("a", 1.5)).toDF("side", "v"), "v", "side", "a", "b")
    }
    // no matching rows at all → ZERO rows, not one all-NULL row (the
    // shape any SQL replay of the argmax produces on empty input)
    val empty = Seq(("z", 1L)).toDF("side", "v")
    assert(Relational.ksTest(empty, "v", "side", "a", "b").count() == 0L)
  }

  test("logTemplates: uuid/hex/number mask precedence collapses variants to one shape") {
    val lines = Seq(
      "GET /u/4711 sid=deadbeef0042 rid=123e4567-e89b-12d3-a456-426614174000 took 3.5ms",
      "GET /u/99 sid=cafebabe9999 rid=00000000-0000-0000-0000-000000000000 took 11ms",
      "POST /login ok",
      "POST /login ok",
      // 'abc123' is NOT a hex run (too short after the letters rule — the
      // digits still mask); '1234567890' IS all-digits but 10 hex chars
      // with word boundaries → the HEX mask wins (applied first)
      "key abc123 token 1234567890",
      // hex is case-insensitive like the uuid class: the upper- and
      // lower-case spellings of one id collapse to ONE template
      "err code DEADBEEF0042 retry",
      "err code deadbeef0042 retry"
    ).toDF("line")
    val got = TextAnalysis.logTemplates(lines, "line", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(
      ("GET /u/<n> sid=<hex> rid=<uuid> took <n>ms", 2L),
      ("POST /login ok", 2L),
      ("err code <hex> retry", 2L),
      ("key abc<n> token <hex>", 1L)), s"$got")
  }

  test("classPrototypes: truncating centroid and nearest members, hand-computed") {
    // label 0: vectors (1,0), (0,1) → centroid (q/2 each comp, trunc):
    //   q = (1e6, 0) and (0, 1e6) → per-dim sums (1e6, 1e6), n=2 →
    //   centroid (5e5, 5e5); both members at cos = 1/√2 — tie to vec 1
    // label 1: (1,0), (-1,0) → centroid sums (0,·) → (0,0) → zero norm:
    //   cosine NaN/div-by-zero ⇒ cos_scaled NULL-safe? floor(NaN) — pin
    //   behavior by giving label 1 a dominant member instead
    val emb = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 1f), 0),
      (3L, Array(1f, 0f), 1),
      (4L, Array(0.9f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.classPrototypes(emb, "vec_id", "embedding", "label", k = 1)
      .orderBy("label")
      .as[(Long, Int, Long, Long)].collect().toSeq
    // label 0: cos(1,0)·(5e5,5e5) = 0.7071... both — smaller id wins
    // label 1: centroid = ((1e6 + 899999) DIV 2, (0 + 100000) DIV 2)
    //        = (949999, 50000) — angle ≈ 3.01°; v3 sits at 0°
    //   (cos ≈ 0.998618), v4 at ≈ 6.34° (cos ≈ 0.998316) → v3 wins
    assert(got.map(t => (t._1, t._2, t._3)) == Seq((0L, 1, 1L), (1L, 1, 3L)), s"$got")
    val label0Cos = got.head._4
    assert(label0Cos == 707106781L, s"got $label0Cos") // floor(1e9/√2)
  }

  test("classPrototypes: zero-norm centroid drops the label, never NaN-as-0") {
    // label 9: (1,0) and (-1,0) → per-dim sums (0, 0) → truncated integer
    // centroid is the all-zero vector → cosine is 0/0. The contract: the
    // label emits NO rows (NULL cos_scaled, dropped by TopKPairs) — NOT
    // rows ranked at cos_scaled = 0, which is what Spark's NaN→long cast
    // would silently produce while a SQL replay errors casting NaN.
    val emb = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 1f), 0),
      (3L, Array(1f, 0f), 9),
      (4L, Array(-1f, 0f), 9)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.classPrototypes(emb, "vec_id", "embedding", "label", k = 2)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got.map(_._1).toSet == Set(0L), s"label 9 must vanish: $got")
    assert(got.size == 2, s"$got")
  }

  test("simpsonRepeat: exact repeat probabilities; degenerate docs read NULL") {
    val docs = Seq(
      (1L, "a a a a"),        // all same → 1e6
      (2L, "a b c d"),        // all distinct → 0
      (3L, "a a b b"),        // rep = 2+2 = 4, pairs = 12 → 333333
      (4L, "single"),         // one word → no pair → NULL
      (5L, "   ")             // no words → 0 words, NULL
    ).toDF("doc_id", "text")
    val got = TextAnalysis.simpsonRepeat(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 4L, Some(1000000L)), (2L, 4L, Some(0L)), (3L, 4L, Some(333333L)),
      (4L, 1L, None), (5L, 0L, None)), s"$got")
  }

  test("naiveBayesClassify: separable vocabularies classify perfectly; unseen words smooth") {
    val docs = Seq(
      (1L, "apfel birne kirsche apfel", "de"),
      (2L, "birne apfel apfel kirsche", "de"),
      (3L, "apple pear cherry apple", "en"),
      (4L, "pear apple cherry cherry", "en"),
      // doc 5 mixes one UNSEEN word into an otherwise English doc:
      // add-one smoothing must absorb it, not zero the class out
      (5L, "apple pear zzzunseen cherry", "en")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.naiveBayesClassify(docs, "doc_id", "text", "lang")
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got.values.forall(_._2 == 1L), s"separable corpus must resubstitute perfectly: $got")
    assert(got(5L) == (("en", 1L)), s"smoothing failed: ${got(5L)}")
  }

  test("goldenRecords: majority wins, recency breaks ties, NULLs never survive a non-null") {
    val df = Seq(
      // group 1: 'a' twice vs 'b' once → majority 'a'; city NULL on the
      // majority rows but 'x' on one row → 'x' survives (per-field!)
      (1L, "a", null.asInstanceOf[String], 10L),
      (1L, "a", null.asInstanceOf[String], 11L),
      (1L, "b", "x", 12L),
      // group 2: 1-1 tie on name → latest tieCol wins ('new')
      (2L, "old", "y", 20L),
      (2L, "new", "y", 21L),
      // group 3: all fields NULL → golden NULLs, membership still counted
      (3L, null.asInstanceOf[String], null.asInstanceOf[String], 30L)
    ).toDF("grp", "name", "city", "ts")
    val got = Dedup.goldenRecords(df, "grp", Seq("name", "city"), "ts")
      .orderBy("grp")
      .as[(Long, Long, Option[String], Option[String])].collect().toSeq
    assert(got == Seq(
      (1L, 3L, Some("a"), Some("x")),
      (2L, 2L, Some("new"), Some("y")),
      (3L, 1L, None, None)), s"$got")
  }

  test("goldenRecords: a NULL group id keeps its golden values (null-safe join)") {
    // groupBy keeps NULL as a real group; the field frames must join
    // back with <=> or the NULL group's golden_* come back NULL
    val df = Seq(
      (Option(1L), "a", 10L), (Option(1L), "a", 11L),
      (Option.empty[Long], "z", 20L), (Option.empty[Long], "z", 21L),
      (Option.empty[Long], "q", 22L))
      .toDF("grp", "name", "ts")
    val got = Dedup.goldenRecords(df, "grp", Seq("name"), "ts")
      .as[(Option[Long], Long, Option[String])].collect().toSeq
      .sortBy(_._1.getOrElse(Long.MinValue))
    assert(got == Seq(
      (None, 3L, Some("z")),
      (Some(1L), 2L, Some("a"))), s"$got")
  }

  test("RFM composition: best customer scores 555, worst 111, scores stay in 1..5") {
    val ts0 = java.time.LocalDate.parse("2024-06-01")
    def ev(u: Long, daysAgo: Int, v: Double) =
      (u, java.sql.Timestamp.valueOf(ts0.minusDays(daysAgo).atStartOfDay),
        "purchase", v)
    // user 1: recent, frequent, big; user 5: stale, one tiny purchase
    val rows = (1 to 10).map(i => ev(1L, 0, 50.0)) ++
      (1 to 7).map(i => ev(2L, 5, 20.0)) ++
      (1 to 5).map(i => ev(3L, 10, 10.0)) ++
      (1 to 3).map(i => ev(4L, 20, 5.0)) ++
      Seq(ev(5L, 40, 1.0))
    val df = rows.toDF("user_id", "ts", "event_type", "value")
    // the events_rfm composition inline (the query itself is hash-gated)
    val p = df.where(col("event_type") === "purchase")
    val maxDay = p.agg(max(col("ts").cast("date")).as("d1"))
    val u = p.groupBy("user_id")
      .agg(max(col("ts").cast("date")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("monetary_cents"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency_days", datediff(col("d1"), col("__last")).cast("long"))
      .drop("__last", "d1")
    val b = Relational.quantileBuckets(
      Relational.quantileBuckets(
        Relational.quantileBuckets(u, "recency_days", 5, "rb"),
        "frequency", 5, "fb"),
      "monetary_cents", 5, "mb")
    val got = b.select(col("user_id"),
        ((lit(5) - col("rb")) * 100 + (col("fb") + 1) * 10 + col("mb") + 1)
          .cast("long").as("rfm"))
      .as[(Long, Long)].collect().toSeq
    val byUser = got.toMap
    assert(byUser(1L) == 555L, s"$byUser")
    assert(byUser(5L) == 111L, s"$byUser")
    assert(got.forall { case (_, rfm) =>
      val (r, f, m) = (rfm / 100, rfm / 10 % 10, rfm % 10)
      Seq(r, f, m).forall(s => s >= 1 && s <= 5)
    }, s"$got")
  }

  test("joinDelta: stored-join append equals the full recompute, multiset-exactly") {
    def rows(seed: Long, n: Int, keyMod: Int) = (1 to n).map { i =>
      val h = graft.functions.Mix.splitmix64(seed + i)
      ((h % keyMod + keyMod) % keyMod, i.toLong)
    }
    val aAll = rows(0xaaL, 300, 40).toDF("k", "av")
    val bAll = rows(0xbbL, 300, 40).toDF("k", "bv")
    val (ao, ad) = (aAll.where($"av" % 3 =!= 0), aAll.where($"av" % 3 === 0))
    val (bo, bd) = (bAll.where($"bv" % 4 =!= 0), bAll.where($"bv" % 4 === 0))
    val delta = Maintenance.joinDelta(ao, bo, ad, bd, "k")
      .select("k", "av", "bv").collect().map(_.toString).sorted.toSeq
    val full = aAll.join(bAll, "k").select("k", "av", "bv")
      .collect().map(_.toString).sorted.toSeq
    val old = ao.join(bo, "k").select("k", "av", "bv")
      .collect().map(_.toString).sorted.toSeq
    assert((old ++ delta).sorted == full,
      "old-join plus delta must be the full join, duplicates included")
  }

  test("joinDelta: empty deltas append nothing; one-sided delta still joins both ways") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "av")
    val b = Seq((1L, "p"), (2L, "q")).toDF("k", "bv")
    val none = Seq.empty[(Long, String)].toDF("k", "av")
    val noneB = Seq.empty[(Long, String)].toDF("k", "bv")
    assert(Maintenance.joinDelta(a, b, none, noneB, "k").isEmpty)
    // only B grows: the new b-row must pair with the STORED a-row
    val got = Maintenance.joinDelta(a, b, none, Seq((2L, "r")).toDF("k", "bv"), "k")
      .select("k", "av", "bv").as[(Long, String, String)].collect().toSet
    assert(got == Set((2L, "y", "r")))
  }

  test("mojibakeAudit: planted damage counted exactly; clean and NULL text read clean") {
    val docs = Seq(
      (1L, "caf\u00C3\u00A9 and \u00E2\u20AC\u0153quotes\u00E2\u20AC"),
      (2L, "clean ascii text"),
      (3L, "bad byte \uFFFD here \uFFFD"),
      (4L, "nel\u0085line"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.mojibakeAudit(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: \u00C3+\u00A9 is a pair; \u00E2+\u20AC twice more (the
    // \u0153 after the first is not a pair member) -> 3 pairs, no C1,
    // no replacement char
    assert(got(1L) == ((0L, 0L, 3L, 1L)), s"${got(1L)}")
    assert(got(2L) == ((0L, 0L, 0L, 0L)))
    assert(got(3L) == ((2L, 0L, 0L, 1L)))
    assert(got(4L) == ((0L, 1L, 0L, 1L)), "NEL is C1 damage")
    assert(got(5L) == ((0L, 0L, 0L, 0L)), "NULL text reads clean")
  }

  test("dimAudit: dead dimension flagged, exact integer variance") {
    val emb = Seq(
      (1L, Seq(0.5f, 1.0f, 0.0f)),
      (2L, Seq(0.5f, 3.0f, 0.0f)),
      (3L, Seq(0.5f, 2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.dimAudit(emb, "embedding")
      .orderBy("dim")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // dim 0: constant 500000 → var 0, dead; dim 1: q = (1e6, 3e6, 2e6) →
    // mean 2e6, var = ((3*14e12) − (6e6)²)/9 = 6e12/9 = 666666666666
    assert(got == Seq(
      (0L, 3L, 500000L, 500000L, 500000L, 0L, 1L),
      (1L, 3L, 1000000L, 3000000L, 2000000L, 666666666666L, 0L),
      (2L, 3L, 0L, 0L, 0L, 0L, 1L)), s"$got")
  }

  test("fdAudit: holds / violated counts, NULL det is a real group, NULL dep ignored") {
    val df = Seq(
      (1, "a", Some("x")), (1, "a", Some("x")),   // key 1: consistent
      (2, "b", Some("x")), (2, "c", Some("y")),   // key 2: violates k→v
      (3, "d", None)                              // NULL dep → nd = 0, no violation
    ).toDF("k", "v", "w")
      .union(Seq((0, "e", Some("x")), (0, "f", Some("x"))).toDF("k", "v", "w")
        .withColumn("k", lit(null.asInstanceOf[Integer])))   // NULL det, 2 values
    val got = Maintenance.fdAudit(df, Seq(("k", "v"), ("k", "w")))
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._6))).toMap
    // k→v: 4 det groups (1, 2, 3, NULL); key 2 and the NULL group violate
    assert(got(("k", "v")) == ((4L, 2L, 0L)), s"$got")
    // k→w: key 2 violates (x≠y); NULL-dep row is not a violation; the
    // NULL det group agrees on 'x'
    assert(got(("k", "w")) == ((4L, 1L, 0L)), s"$got")
  }

  test("topNOther: exact OTHER bucket, totals reconcile, NULLs land in OTHER, string ties") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq("d", "e") ++ Seq(null.asInstanceOf[String])).toDF("k")
    val got = Relational.topNOther(df, "k", topN = 2)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // top-2 by (n desc, key asc): a(5), b(3) — the b/c tie breaks to 'b';
    // OTHER = c(3) + d + e + null = 4 keys / 6 rows of 14 total
    assert(got("a") == ((1L, 5L, 357142L)), s"$got")
    assert(got("b") == ((1L, 3L, 214285L)), s"$got")
    assert(got("OTHER") == ((4L, 6L, 428571L)), s"$got")
    assert(got.values.map(_._2).sum == 14L, "every row in exactly one bucket")
  }

  test("topNOther: all keys inside top-N → no OTHER row") {
    val df = Seq("x", "x", "y").toDF("k")
    val got = Relational.topNOther(df, "k", topN = 5)
      .as[(String, Long, Long, Long)].collect().map(_._1).toSet
    assert(got == Set("x", "y"), s"$got")
  }

  test("topNOther: a real key named 'OTHER' fails loudly instead of merging with the remainder") {
    val df = Seq("x", "x", "OTHER", "y").toDF("k")
    val e = intercept[Exception] {
      Relational.topNOther(df, "k", topN = 1).collect()
    }
    assert(e.getMessage.contains("OTHER") || e.getCause != null,
      s"expected the reserved-sentinel guard, got: ${e.getMessage}")
  }

  test("naiveBayesClassify: token-less labeled docs report with NULL prediction, correct = 0") {
    // the avg(correct) denominator must include EVERY labeled doc — a
    // silently absent empty doc shrinks it (the wordEntropy convention)
    val docs = Seq(
      (1L, "apfel birne apfel", "de"),
      (2L, "apple pear apple", "en"),
      (3L, "   ", "en"),                      // zero tokens
      (4L, null.asInstanceOf[String], "de"))  // NULL text
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.naiveBayesClassify(docs, "doc_id", "text", "lang")
      .orderBy("doc_id")
      .as[(Long, String, Option[String], Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L),
      s"every labeled doc must report: $got")
    assert(got(2)._3.isEmpty && got(2)._4 == 0L, s"empty doc contract: $got")
    assert(got(3)._3.isEmpty && got(3)._4 == 0L, s"NULL-text contract: $got")
    assert(got(0)._4 == 1L && got(1)._4 == 1L, s"scored docs unaffected: $got")
  }

  test("wordEntropy: exact 64ths-of-a-bit at power-of-two vocab, 0 when repetitive, NULL when empty") {
    // lg64 is EXACT at powers of two: k distinct words once each →
    // entropy64 = 64·log2(k); one word repeated → 0; no words → NULL
    val docs = Seq(
      (1L, "aa bb cc dd"),           // 4 distinct → 64·2 = 128
      (2L, "aa aa aa aa aa"),        // 1 distinct → 0
      (3L, "aa bb aa bb aa bb aa bb"), // 2 distinct, uniform → 64
      (4L, "   "),                   // no words
      (5L, "a b c d e f g h")        // 8 distinct → 64·3 = 192
    ).toDF("doc_id", "text")
    val got = TextAnalysis.wordEntropy(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 4L, Some(128L)), (2L, 5L, Some(0L)), (3L, 8L, Some(64L)),
      (4L, 0L, None), (5L, 8L, Some(192L))))
  }

  test("wordEntropy ranks diverse text above templated text") {
    val docs = Seq(
      (1L, "click here to win click here to win click here to win"),
      (2L, "the quarterly report shows revenue growth across several regional markets")
    ).toDF("doc_id", "text")
    val e = TextAnalysis.wordEntropy(docs, "doc_id", "text")
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r._3.get).toMap
    assert(e(2L) > e(1L), s"templated doc must score lower: $e")
  }

  test("zipfSlope: hand-computed OLS on a power-of-two Zipf; ties rank by token") {
    // counts 8,4,2,1 → every lg64 is exact: points (64,256) (128,192)
    // (160,128) (192,64); OLS slope = -13312/8960 → floor(-1485.71 + .5)
    val docs = Seq(
      (1L, "s1", ("a " * 8 + "b " * 4 + "c " * 2 + "d").trim),
      // s2: x/y tie at count 2 → ranks x=1, y=2 (byte order), z=3;
      // moments by hand: num = -8192, den = 14336 → -571
      (2L, "s2", "x x y y z")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.zipfSlope(docs, "source", "text")
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("s1", 4L, -1486L), ("s2", 3L, -571L)), s"$got")
  }

  test("zipfSlope: a source with one distinct token has no line and drops out") {
    val docs = Seq((1L, "s1", "same same same")).toDF("doc_id", "source", "text")
    assert(TextAnalysis.zipfSlope(docs, "source", "text").count() == 0L)
  }

  test("sourceKl: single source reads exactly 0; power-of-two split is exact") {
    val one = Seq((1L, "only", "a a b c")).toDF("doc_id", "source", "text")
    val g1 = TextAnalysis.sourceKl(one, "source", "text")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(g1 == Seq(("only", 4L, 3L, 0L)), s"$g1")
    // s1 = "a a b" (3 of 4 tokens), s2 = "c": per-term diffs are 0
    // (disjoint vocab), the totals term is exact at powers of two:
    // s1 → 3·(lg64(4)−lg64(3))·1000 DIV (64·3) = 500 mb,
    // s2 → (lg64(4)−lg64(1))·1000 DIV 64 = 2000 mb (= true log2 4)
    val two = Seq((1L, "s1", "a a b"), (2L, "s2", "c"))
      .toDF("doc_id", "source", "text")
    val g2 = TextAnalysis.sourceKl(two, "source", "text")
      .orderBy("source").as[(String, Long, Long, Long)].collect().toSeq
    assert(g2 == Seq(("s1", 3L, 2L, 500L), ("s2", 1L, 1L, 2000L)), s"$g2")
  }

  test("skewAudit: hand-computed Gini, top-share, straggler bound; NULLs excluded") {
    // counts {a:4, b:1, c:1}: K=3, S=6, sorted ranksum = 1·1+1·2+4·3 = 15
    // G = (2·15 − 4·6)/(3·6) = 1/3 → 333333 ppm (truncating DIV)
    val df = (Seq.fill(4)("a") ++ Seq("b", "c") ++ Seq(null.asInstanceOf[String]))
      .toDF("k")
    val got = Maintenance.skewAudit(df, "k", topK = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 6L, 4L, 1000000L, 333333L)), s"$got")
    val top1 = Maintenance.skewAudit(df, "k", topK = 1)
      .select("top_share_ppm").as[Long].collect().head
    assert(top1 == 666666L, "top-1 share = 4/6")
  }

  test("skewAudit: uniform keys → Gini 0; ties inside the count-of-counts block stay exact") {
    val df = Seq("a", "a", "b", "b", "c", "c").toDF("k")
    val got = Maintenance.skewAudit(df, "k", topK = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // top-2 of 3 uniform keys = 4/6 → 666666 ppm
    assert(got == Seq((3L, 6L, 2L, 666666L, 0L)), s"$got")
  }

  test("skewAudit: empty input emits ZERO rows, never a NULL row") {
    val df = Seq.empty[String].toDF("k")
    assert(Maintenance.skewAudit(df, "k").collect().isEmpty)
  }

  test("skewAudit agrees with a literal per-key replay on random skewed data") {
    val keys = (1 to 2000).map(i =>
      (graft.functions.Mix.splitmix64(0x5ca1eL + i) % 100 match {
        case m if m < 0 => -m; case m => m
      }) match { case m => (m * m / 100).toString }) // quadratic skew
    val df = keys.toDF("k").repartition(7)
    val got = Maintenance.skewAudit(df, "k", topK = 5)
      .as[(Long, Long, Long, Long, Long)].collect().head
    // literal replay
    val counts = keys.groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
    val sorted = counts.sorted
    val kk = counts.size.toLong
    val s = counts.sum
    val ranksum = sorted.zipWithIndex.map { case (x, i) => BigInt(x) * (i + 1) }.sum
    val gini = ((2 * ranksum * 1000000 - BigInt(kk + 1) * s * 1000000) /
      (BigInt(kk) * s)).toLong
    val topShare = sorted.reverse.take(5).sum * 1000000L / s
    assert(got == ((kk, s, sorted.max, topShare, gini)), s"$got")
  }
}
