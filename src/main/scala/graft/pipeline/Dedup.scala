package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShim => E}

import graft.functions.{Bloom, BloomAgg, BloomMightContain, CosineSim, Hamming64, MinHashSignature, SimHash64}

/** Deduplication family for LLM training-data pipelines.
  *
  * Shuffle budget (SURVEY §2.6), per op:
  *  - exact: 1 shuffle (window over content hash — no join-back)
  *  - minhash LSH: signature map-side (0 shuffles) → 1 shuffle on band
  *    bucket (window size-guard rides the same shuffle) → self-join
  *    co-partitioned on bucket → verify map-side via the joined texts
  *  - simhash: fingerprint map-side → 1 shuffle on (combo, key)
  * No all-pairs stage exists anywhere: blocking always precedes verify,
  * which is what keeps these plans viable at 10^9+ documents.
  *
  * Cache lifecycle: intermediates consumed more than once are cut by
  * [[Materialize]] (`localCheckpoint`: RDD-owned blocks the ContextCleaner
  * frees, so nothing leaks in a long-lived session; not replicated, so an
  * executor loss fails the job).
  */
object Dedup {

  private def minhashCol(text: Column, numHashes: Int, shingle: Int): Column =
    E.column(MinHashSignature(E.expression(text), numHashes, shingle))

  /** Per-band bucket keys off a `sig` column — md5-h60 of
    * `"band:p_i,p_i+1,…"` (r11: replaced xxhash64, which DuckDB cannot
    * replay; the whole banding now unrolls into a SQL oracle). */
  private def bandBucketsExpr(bands: Int, r: Int): String =
    s"transform(sequence(0, ${bands - 1}), b -> " +
      "CAST(conv(substring(md5(concat(CAST(b AS STRING), ':', " +
      s"array_join(transform(slice(sig, b * $r + 1, $r), x -> CAST(x AS STRING)), ','))), " +
      "1, 15), 16, 10) AS BIGINT))"
  private def simhashCol(text: Column, shingle: Int): Column =
    E.column(SimHash64(E.expression(text), shingle))

  /** Exact dedup on normalized content hash. Keeps the smallest id per
    * group. Output: input columns + `is_duplicate`. One shuffle: the
    * per-group min is a window aggregate over the hash, not a
    * groupBy + join-back (which would shuffle twice). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.withColumn("__h",
      md5(regexp_replace(lower(col(textCol)), "\\s+", " ")))
    hashed
      .withColumn("is_duplicate",
        col(idCol) =!= min(col(idCol)).over(Window.partitionBy(col("__h"))))
      .drop("__h")
  }

  /** Cross-corpus (incremental) dedup: admit rows of `fresh` whose
    * normalized content does NOT already exist in `ref` — the curation step
    * that gates every new crawl batch against the corpus already shipped.
    *
    * Plan shape: the reference side reduces to a DISTINCT set of content
    * hashes (map-side partial distinct), then a LEFT ANTI join on the hash.
    * With `broadcastRef` the reference hash set broadcasts and the fresh
    * side — the 100 TB side — is scanned once and never shuffled; without
    * it, both sides co-partition on the hash (the right shape when the
    * reference corpus is itself huge). Normalization matches [[exact]]
    * (md5 over whitespace-collapsed lowercase) so the two compose, and the
    * same hash is DuckDB-expressible for the oracle. NULL-text rows hash
    * to NULL, which never equals an anti-join key — they are always
    * admitted (filter them upstream if they should not survive). */
  def crossCorpus(fresh: DataFrame, ref: DataFrame, textCol: String,
                  broadcastRef: Boolean = false): DataFrame = {
    require(!fresh.columns.contains("__h"),
      "crossCorpus reserves column name __h; rename it on the fresh side")
    val refHashes = ref.select(contentHash(col(textCol)).as("__h")).distinct()
    fresh.withColumn("__h", contentHash(col(textCol)))
      .join(if (broadcastRef) broadcast(refHashes) else refHashes, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** The normalization every EXACT cross-corpus gate keys on: md5 over
    * whitespace-collapsed lowercase — identical to [[exact]] and DuckDB-
    * expressible, so all the exact gates compose and oracle-gate. */
  private def contentHash(t: Column): Column =
    md5(regexp_replace(lower(t), "\\s+", " "))

  /** [[crossCorpus]] for the regime where the reference's DISTINCT hash
    * set is too big to broadcast AND shuffling the fresh corpus is
    * unaffordable — i.e. the actual 100 TB shape. A Bloom filter of the
    * reference hashes (bounded-state mergeable [[BloomAgg]], a few GB at
    * one byte per reference document where the hash set is hundreds) ships
    * as plan-constant bytes and prefilters the fresh side with a PURE MAP:
    * bloom-negative rows — the overwhelming majority of a daily batch —
    * are admitted definitively (Bloom filters have no false negatives)
    * without ever touching a join. Only the candidate DISTINCT hashes
    * (true dups + an `fpp` sliver) shuffle into an exact semi-join against
    * the reference hashes, and the confirmed-dup set — bounded by the
    * batch's own dup cardinality — broadcasts back into the final anti
    * join. The OUTPUT IS EXACT (the bloom only routes; membership is
    * confirmed exactly), hash-identical to [[crossCorpus]], so the same
    * NOT-EXISTS oracle gates it.
    *
    * Shuffle budget: candidate distinct hashes only. The fresh corpus is
    * scanned twice (a text-column-pruned candidate pass + the output
    * pass) but never shuffles; set `broadcastConfirmed = false` if a
    * degenerate batch (mostly dups) overflows the broadcast cap.
    *
    * `expectedItems` sizes the filter; defaults to counting the reference
    * hash set (one cheap job on the materialized hashes — at build time,
    * not query time). */
  def crossCorpusBloom(fresh: DataFrame, ref: DataFrame, textCol: String,
                       fpp: Double = 0.01, expectedItems: Long = -1L,
                       broadcastConfirmed: Boolean = true): DataFrame = {
    require(!fresh.columns.contains("__h"),
      "crossCorpusBloom reserves column name __h; rename it on the fresh side")
    val refHashes = Materialize.cutLazy(ref.select(contentHash(col(textCol)).as("__h")).distinct())
    bloomGateAgainst(fresh, refHashes, buildBloomBytes(refHashes, fpp, expectedItems),
      textCol, broadcastConfirmed)
  }

  /** Aggregate a materialized `__h`-hash frame into serialized Bloom bytes. */
  private def buildBloomBytes(refHashes: DataFrame, fpp: Double,
                              expectedItems: Long): Array[Byte] = {
    val n = (if (expectedItems > 0) expectedItems else refHashes.count()).max(1L)
    val (numBits, k) = Bloom.geometry(n, fpp)
    val agg = E.column(BloomAgg(
      E.expression(xxhash64(col("__h"))), numBits, k).toAggregateExpression())
    refHashes.agg(agg.as("__bloom")).head.getAs[Array[Byte]](0)
  }

  /** The shared gate: bloom-prefilter on xxhash64(__h), exact confirm on
    * the md5 itself (the 64-bit bloom key is a router, never the
    * membership verdict — a 64-bit collision cannot drop a clean row).
    * NULL-text rows: the probe is explicitly gated on `__h IS NOT NULL`
    * (Spark's xxhash64 maps NULL to the seed hash, NOT to NULL — without
    * the guard a NULL row would probe a real bit), so they are never
    * bloom candidates and never equal an anti-join key — always admitted,
    * matching [[crossCorpus]]. */
  private def bloomGateAgainst(fresh: DataFrame, refHashes: DataFrame,
                               bloomBytes: Array[Byte], textCol: String,
                               broadcastConfirmed: Boolean): DataFrame = {
    require(!fresh.columns.contains("__h"),
      "the bloom gate reserves column name __h; rename it on the fresh side")
    val withH = fresh.withColumn("__h", contentHash(col(textCol)))
    val might = when(col("__h").isNotNull, E.column(BloomMightContain(
      E.expression(lit(bloomBytes)), E.expression(xxhash64(col("__h"))))))
    if (fresh.isStreaming) {
      // stateless micro-batch shape: a streaming frame can neither feed a
      // broadcast nor run an unwatermarked distinct, so bloom-negative
      // rows (definitively clean, incl. NULL-text rows whose probe is
      // NULL) pass straight through and only bloom-positive rows ride the
      // stream-static anti join against the stored hashes
      withH.where(coalesce(!might, lit(true)))
        .union(withH.where(might).join(refHashes, Seq("__h"), "left_anti")
          .select(withH.columns.map(col).toSeq: _*))
        .drop("__h")
    } else {
      val candHashes = withH.where(might).select("__h").distinct()
      val confirmed = candHashes.join(refHashes, Seq("__h"), "left_semi")
      withH.join(if (broadcastConfirmed) broadcast(confirmed) else confirmed,
          Seq("__h"), "left_anti")
        .drop("__h")
    }
  }

  /** Persist the exact-dedup bloom gate once — `dir/bloom` (one row of
    * serialized filter bytes, self-describing geometry) + `dir/hashes`
    * (the DISTINCT reference content hashes for exact confirmation) — so
    * every later batch gates against the STORED artifacts and the
    * reference corpus is never re-read: the daily-crawl lifecycle, same as
    * [[buildNearDupGate]] for the near-dup gate. */
  def buildBloomGate(ref: DataFrame, textCol: String, dir: String,
                     fpp: Double = 0.01, expectedItems: Long = -1L): Unit = {
    require(!ref.isStreaming, "the reference corpus must be a static DataFrame")
    val refHashes = Materialize.cutLazy(ref.select(contentHash(col(textCol)).as("__h")).distinct())
    refHashes.write.mode("overwrite").parquet(s"$dir/hashes")
    import ref.sparkSession.implicits._
    Seq(Tuple1(buildBloomBytes(refHashes, fpp, expectedItems))).toDF("bloom")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/bloom")
  }

  /** Gate a fresh batch against a gate built by [[buildBloomGate]]:
    * identical output to [[crossCorpusBloom]] (spec-pinned), reference
    * corpus untouched. The filter bytes load once at PLAN time; works on
    * a streaming `fresh` too (stream-static anti join, stateless). */
  def queryBloomGate(fresh: DataFrame, textCol: String, dir: String,
                     broadcastConfirmed: Boolean = true): DataFrame = {
    val spark = fresh.sparkSession
    val bloomBytes = spark.read.parquet(s"$dir/bloom").head.getAs[Array[Byte]](0)
    bloomGateAgainst(fresh, spark.read.parquet(s"$dir/hashes"), bloomBytes,
      textCol, broadcastConfirmed)
  }

  /** MinHash/LSH candidate pairs: (a, b) with a < b sharing ≥1 LSH band.
    * numHashes = bands × rowsPerBand. Oversized buckets (skew guard) are
    * dropped — at 100 TB a degenerate bucket (e.g. boilerplate docs) would
    * otherwise quadratically dominate the join. The guard is a count window
    * over (band, bucket), so it rides the same shuffle that co-partitions
    * the self-join; the guarded bucket table is locally checkpointed so the
    * signature pass runs once, not once per join side. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 128, bands: Int = 16,
                        shingle: Int = 5, maxBucket: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    minhashCandidatesFromSigs(
      df.select(col(idCol).as("id"),
        minhashCol(col(textCol), numHashes, shingle).as("sig")),
      numHashes, bands, maxBucket)
  }

  /** [[minhashCandidates]] over a PRE-SHINGLED frame `(id, __sh)` — the
    * shared-shingle-pass variant (r17, guide §2.4): the signature derives
    * from the stored [[graft.functions.ShingleSet]] array via
    * [[graft.functions.MinHashFromSet]] (value-identical — same distinct
    * shingles, same h60, same permutations; a min is order/duplicate-
    * insensitive), so a caller that also needs the exact sets (the
    * banding audit, the LSH-then-verify chain) shingles ONCE. */
  private def minhashCandidatesOnSets(sets: DataFrame, numHashes: Int,
                                      bands: Int, maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    minhashCandidatesFromSigs(
      sets.select(col("__id").as("id"),
        E.column(graft.functions.MinHashFromSet(
          E.expression(col("__sh")), numHashes)).as("sig")),
      numHashes, bands, maxBucket)
  }

  /** Shared banding tail: band-bucket keys, the windowed skew guard, the
    * co-partitioned self-join. ONE implementation for the text-input and
    * pre-shingled variants, so the banding can never drift between them. */
  private def minhashCandidatesFromSigs(sigs: DataFrame, numHashes: Int,
                                        bands: Int, maxBucket: Int): DataFrame = {
    val r = numHashes / bands
    // band → bucket key (md5-h60 of the band's signature slice + band index)
    val buckets = sigs.select(col("id"), posexplode(
      expr(bandBucketsExpr(bands, r))).as(Seq("band", "bucket")))
    val kept = Materialize.cutLazy(buckets
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .where(col("__n") <= maxBucket)
      .drop("__n"))
    kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** BANDING precision/recall audit (r11) — the eval harness for the
    * minhash blocking itself, the dedup analogue of the `ann_*_recall`
    * family: candidates from the PRODUCTION banding
    * ([[minhashCandidates]], same signature family / skew guard)
    * measured against EXACT ground truth from the zero-recall-loss
    * prefix-filter join ([[similarityJoin]], same shingle sets, same
    * threshold). Precision says how much verify work the bands waste;
    * recall says what the bands MISS — the number a "tune
    * bands×rows-per-band" decision actually needs, and the one an
    * unaudited LSH deployment silently gets wrong.
    *
    * Output (one row): `n_candidates, n_truth, n_true_candidates,
    * precision_ppm, recall_ppm` (ppm NULL when the denominator is 0).
    * Both inputs are deterministic, so the metric hash-gates.
    *
    * SCALE: the audit runs the exact join — affordable on a SAMPLE or a
    * per-source slice (the threshold-curve convention); at full corpus
    * scale the production path stays banded and this is the offline
    * eval you run on the slice you can afford. */
  def bandingPrAudit(docs: DataFrame, idCol: String, textCol: String,
                     thresholdPct: Int = 80, numHashes: Int = 128,
                     bands: Int = 16, shingle: Int = 5,
                     maxBucket: Int = 200): DataFrame = {
    // r17 (guide §2.4): ONE shingling pass — the banding side used to
    // re-shingle every doc inside MinHashSignature(text) while the exact
    // side shingled the same docs again for the prefix filter. Both now
    // read one materialized (id, shingle-set) frame; the signature folds
    // over the stored set (MinHashFromSet — value-identical).
    Search.requireIntegralId(docs, idCol, "bandingPrAudit")
    val sets = Materialize.cutLazy(docs.select(
      col(idCol).cast("long").as("__id"),
      shingleSet(col(textCol), shingle).as("__sh")))
    val cands = Materialize.cutLazy(
      minhashCandidatesOnSets(sets, numHashes, bands, maxBucket)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b")))
    val truth = Materialize.cutLazy(
      similarityJoinOnSets(sets, thresholdPct)
        .select(col("a"), col("b")))
    val tp = cands.join(truth, Seq("a", "b"), "left_semi")
    cands.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_true_candidates"))))
      .selectExpr(
        "n_candidates", "n_truth", "n_true_candidates",
        "CASE WHEN n_candidates > 0 THEN n_true_candidates * 1000000 DIV n_candidates END AS precision_ppm",
        "CASE WHEN n_truth > 0 THEN n_true_candidates * 1000000 DIV n_truth END AS recall_ppm")
  }

  /** NEAR-dup cross-corpus gate: MinHash band-bucket candidates between a
    * FRESH batch (or stream) and a static REFERENCE corpus — the
    * approximate sibling of [[crossCorpus]] (which catches only exact
    * normalized duplicates). Output: (a = fresh id, b = matching ref id)
    * candidate pairs; compose with [[verifyJaccard]] + an anti join to
    * admit only genuinely novel documents.
    *
    * Stream-safe by construction: the fresh side is a pure map (signature
    * → band keys) followed by an equi join against the PRE-BUILT reference
    * bucket table — no window, no self-join, no state. In batch, the
    * reference table is built once (`Materialize`) and the fresh (new
    * crawl) side never shuffles when `broadcastRef` is set; on a stream,
    * pass the already-materialized reference as a static DataFrame. For
    * REPEATED gating against the same reference corpus (the daily-crawl
    * lifecycle), build the bucket table once with [[buildNearDupGate]] and
    * gate each batch with [[queryNearDupGate]] — later batches then skip
    * the reference pass entirely. The
    * maxBucket skew guard applies to the reference side only (a window on
    * the stream side would break append mode).
    *
    * Pair multiplicity: in BATCH the output is distinct (a, b). On a
    * STREAM the same pair may be emitted once per matching band (at most
    * `bands` times) — a streaming dropDuplicates would be unbounded state
    * (no watermark can expire pair keys), violating the no-state contract
    * above. The intended consumer (admit fresh docs with NO match — an
    * anti join / EXISTS on `a`) is insensitive to pair multiplicity. */
  def minhashCrossCandidates(fresh: DataFrame, ref: DataFrame, idCol: String,
                             textCol: String, numHashes: Int = 128,
                             bands: Int = 16, shingle: Int = 5,
                             maxBucket: Int = 200,
                             broadcastRef: Boolean = false): DataFrame = {
    require(!ref.isStreaming, "the reference corpus must be a static DataFrame")
    val refKeys = Materialize.cutLazy(guardedBandKeys(ref, "b", idCol, textCol,
      numHashes, bands, shingle, maxBucket))
    crossCandidatesAgainst(fresh, refKeys, idCol, textCol,
      numHashes, bands, shingle, broadcastRef)
  }

  /** (side, band, bucket) LSH band keys of every row — the shared
    * construction of both cross-gate sides and the persisted gate. */
  private def bandKeys(df: DataFrame, side: String, idCol: String, textCol: String,
                       numHashes: Int, bands: Int, shingle: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(!Set("sig", "band", "bucket", "a", "b").contains(idCol) && idCol != textCol,
      s"the cross-corpus gate reserves column names sig/band/bucket/a/b; rename '$idCol'")
    val r = numHashes / bands
    df.select(col(idCol).as(side),
        minhashCol(col(textCol), numHashes, shingle).as("sig"))
      .select(col(side), posexplode(
        expr(bandBucketsExpr(bands, r))).as(Seq("band", "bucket")))
  }

  /** Reference-side band keys with the maxBucket skew guard applied (the
    * count window rides the same shuffle that co-partitions the join). */
  private def guardedBandKeys(ref: DataFrame, side: String, idCol: String,
                              textCol: String, numHashes: Int, bands: Int,
                              shingle: Int, maxBucket: Int): DataFrame =
    bandKeys(ref, side, idCol, textCol, numHashes, bands, shingle)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .where(col("__n") <= maxBucket)
      .drop("__n")

  /** Fresh side of the gate: pure map to band keys, equi join against a
    * prepared reference bucket table. */
  private def crossCandidatesAgainst(fresh: DataFrame, refKeys: DataFrame,
                                     idCol: String, textCol: String,
                                     numHashes: Int, bands: Int, shingle: Int,
                                     broadcastRef: Boolean): DataFrame = {
    val freshKeys = bandKeys(fresh, "a", idCol, textCol, numHashes, bands, shingle)
    val joined = freshKeys.join(
        if (broadcastRef) broadcast(refKeys) else refKeys, Seq("band", "bucket"))
      .select(col("a"), col("b"))
    if (fresh.isStreaming) joined else joined.dropDuplicates("a", "b")
  }

  /** Persisted near-dup gate: the reference corpus's guarded band-bucket
    * table is built ONCE and lands on storage — the [[Similarity.buildIvfIndex]]
    * lifecycle applied to the cross-corpus gate. An incremental crawl
    * pipeline gates batches daily against the same 100 TB reference;
    * in-job [[minhashCrossCandidates]] recomputes the reference signatures
    * per batch, which at that cadence is a full extra corpus pass per day.
    * Layout under `dir`:
    *  - `buckets/` — (b, band, bucket) parquet, skew guard pre-applied;
    *  - `meta/`    — one row (num_hashes, bands, shingle, max_bucket), so
    *    queries derive the signature parameters FROM the index and can
    *    never probe with mismatched band geometry. */
  def buildNearDupGate(ref: DataFrame, idCol: String, textCol: String, dir: String,
                       numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
                       maxBucket: Int = 200): Unit = {
    require(!ref.isStreaming, "the reference corpus must be a static DataFrame")
    guardedBandKeys(ref, "b", idCol, textCol, numHashes, bands, shingle, maxBucket)
      .write.mode("overwrite").parquet(s"$dir/buckets")
    import ref.sparkSession.implicits._
    Seq((numHashes, bands, shingle, maxBucket))
      .toDF("num_hashes", "bands", "shingle", "max_bucket")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Gate a fresh batch (or stream) against a gate built by
    * [[buildNearDupGate]]: the fresh side is a pure map (signature → band
    * keys) joined against the STORED bucket table — the reference corpus
    * is not touched at all. Output and semantics match
    * [[minhashCrossCandidates]] exactly (spec-pinned), including the
    * streaming pair-multiplicity contract.
    *
    * `broadcastRef` defaults to false like the in-job gate: the stored
    * bucket table is docs × bands rows — at the 100 TB reference scale
    * this lifecycle exists for, that is far beyond the broadcast cap, so
    * the safe default co-partitions both sides on (band, bucket). Set it
    * true only when the reference corpus is genuinely small. */
  def queryNearDupGate(fresh: DataFrame, idCol: String, textCol: String,
                       dir: String, broadcastRef: Boolean = false): DataFrame = {
    val spark = fresh.sparkSession
    val m = spark.read.parquet(s"$dir/meta")
      .select("num_hashes", "bands", "shingle").head
    crossCandidatesAgainst(fresh, spark.read.parquet(s"$dir/buckets"),
      idCol, textCol, m.getInt(0), m.getInt(1), m.getInt(2), broadcastRef)
  }

  /** Exact character-shingle Jaccard for a pair DataFrame (a, b) against the
    * source texts: appends n_int / n_union / jaccard. Built-in expressions
    * only — stays inside whole-stage codegen. */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingle: Int = 3): DataFrame = {
    val sh = shingleSet(col(textCol), shingle)
    // materialized: joined twice, and without materialization the per-DOC
    // shingle sets are recomputed per PAIR (candidate count ≫ doc count)
    verifyJaccardOnSets(pairs,
      Materialize.cutLazy(docs.select(col(idCol).as("__id"), sh.as("__sh"))))
  }

  /** [[verifyJaccard]] against an ALREADY-MATERIALIZED `(__id, __sh)`
    * shingle-set frame (r17 shared-shingle pass — the candidate stage and
    * the verify stage read the same blocks). */
  private def verifyJaccardOnSets(pairs: DataFrame, withSets: DataFrame): DataFrame = {
    pairs
      .join(withSets.withColumnRenamed("__sh", "__sha"), pairs("a") === col("__id")).drop("__id")
      .join(withSets.withColumnRenamed("__sh", "__shb"), pairs("b") === col("__id")).drop("__id")
      .withColumn("n_int", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .withColumn("n_union", (size(col("__sha")) + size(col("__shb"))).cast("long") - col("n_int"))
      .withColumn("jaccard", col("n_int").cast("double") / col("n_union"))
      .drop("__sha", "__shb")
  }

  /** Distinct character n-gram set of the normalized text — single-pass
    * Catalyst expression (see ShingleSet scaladoc for why not built-ins). */
  def shingleSet(text: Column, n: Int): Column =
    E.column(graft.functions.ShingleSet(E.expression(text), n))

  /** EXACT threshold similarity self-join — ALL pairs with shingle-set
    * Jaccard ≥ `thresholdPct`/100, no sampling, no hash collisions, no
    * recall loss — via PREFIX FILTERING (AllPairs: Bayardo, Ma & Srikant,
    * WWW 2007; PPJoin: Xiao, Wang, Lin & Yu, WWW 2008). The exact
    * complement to the probabilistic minhash/simhash family: when the
    * dedup decision feeds a contractual guarantee ("no two retained docs
    * exceed J = t"), a banded-LSH miss is unacceptable and the naive
    * fix — the quadratic cross join — is unrunnable at corpus scale.
    *
    * Why this is NOT a cross join: under any fixed total order over
    * tokens, if |A∩B| ≥ α then the first |A|−α+1 tokens of A and the
    * first |B|−α+1 tokens of B must share a token (else all ≥ α common
    * tokens hide in suffixes that are only α−1 long — the prefix-filter
    * theorem). J ≥ t implies |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so an equi join
    * on PREFIX tokens (length |x| − ⌈t·|x|⌉ + 1 ≈ (1−t)·|x|, e.g. 20%
    * of each doc at t = 0.8) finds every qualifying pair. The order is
    * chosen rarest-first (global frequency asc, token asc) so prefixes
    * hold the rarest shingles a doc has — candidate buckets stay small
    * on the heavy-tailed vocabularies of real corpora. A cheap length
    * filter rides the join (J ≥ t forces t ≤ |A|/|B| ≤ 1/t), then exact
    * set intersection over the materialized shingle sets keeps only true
    * pairs — cross-multiplied integers, bit-replayable by the oracle.
    *
    * Plan shape: shingle sets materialize once (consumed by the token
    * explode and twice by the verify joins); token frequencies are one
    * map-side-combining aggregate over the exploded tokens; the ordered
    * prefix is a per-doc array_sort of (freq, token) structs — no global
    * rank window, the pair itself is the total order; candidates come
    * from ONE equi self-join on prefix token + distinct. At 100 TB every
    * stage is key-partitioned with bounded state; the quadratic danger
    * lives only INSIDE a candidate bucket, and rarest-first ordering is
    * exactly what keeps those buckets small. Docs with empty shingle
    * sets (len(text) < shingle after normalization) cannot clear t > 0
    * against anything and are excluded up front.
    *
    * SHINGLE CHOICE IS THE SCALE KNOB: prefix filtering only prunes when
    * the gram space is much larger than the corpus — a char-3 alphabet
    * tops out at ~50k grams, so past a few thousand documents EVERY
    * "rare" gram sits in thousands of prefixes and the candidate join
    * degenerates toward all-pairs (measured here: a 5 000-doc corpus
    * with 377 live 3-grams produced 50M candidates ≈ the full cross
    * join). Use [[similarityJoinWords]] (word n-grams — the vocabulary
    * grows combinatorially, so buckets stay near 1) for prose at corpus
    * scale; char shingles remain right for short keys/names where word
    * tokens are too coarse.
    *
    * Output: (a, b, n_int, n_union), a < b, integer columns only. */
  def similarityJoin(docs: DataFrame, idCol: String, textCol: String,
                     thresholdPct: Int, shingle: Int = 3): DataFrame =
    similarityJoinOn(docs, idCol,
      shingleSet(col(textCol), shingle), thresholdPct, "similarityJoin")

  /** [[similarityJoin]] over DISTINCT word `gramWords`-gram sets (the
    * shared WordTok tokenizer — one lowercase+split per doc). Word
    * 4-grams of natural text are nearly unique across a corpus, which is
    * exactly the property prefix filtering needs — candidate buckets of
    * ~1 instead of the saturated char-gram buckets (see the shingle-
    * choice note on [[similarityJoin]]). */
  def similarityJoinWords(docs: DataFrame, idCol: String, textCol: String,
                          thresholdPct: Int, gramWords: Int = 4): DataFrame = {
    require(gramWords >= 1 && gramWords <= 16,
      s"gramWords must be in [1, 16], got $gramWords")
    similarityJoinOn(docs, idCol,
      array_distinct(E.column(graft.functions.WordGrams(
        E.expression(col(textCol)), gramWords))),
      thresholdPct, "similarityJoinWords")
  }

  /** Shared front of the similarity and containment joins: materialized
    * distinct-set frame, its token explode, and the per-doc rarest-first
    * ordering — ONE implementation, so a tokenization/ordering fix can
    * never reach one join and miss the other. (freq, token) IS the total
    * order — array_sort on the struct sorts lexicographically by field,
    * so no dense-rank window over the global vocabulary is ever needed. */
  private def orderedTokenSets(docs: DataFrame, idCol: String,
                               setCol: Column, opName: String)
      : (DataFrame, DataFrame, DataFrame) = {
    Search.requireIntegralId(docs, idCol, opName)
    orderedTokenSetsFrom(Materialize.cutLazy(docs
      .select(col(idCol).cast("long").as("__id"), setCol.as("__sh"))
      .where(col("__sh").isNotNull && size(col("__sh")) > 0)))
  }

  /** [[orderedTokenSets]] over an ALREADY-MATERIALIZED `(__id, __sh)`
    * frame (r17 shared-shingle pass): the null/empty filter is applied on
    * top (a row filter over cut blocks — no recompute), so a shared sets
    * frame that keeps every doc (the minhash side needs them all) feeds
    * the prefix-filter side unchanged. */
  private def orderedTokenSetsFrom(sets0: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val sets = sets0.where(col("__sh").isNotNull && size(col("__sh")) > 0)
    val toks = sets.select(col("__id"), explode(col("__sh")).as("__t"))
    val freq = toks.groupBy("__t").agg(count(lit(1)).as("__n"))
    val ordered = toks.join(freq, "__t")
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__n"), col("__t")))).as("__o"))
      .select(col("__id"), expr("transform(__o, e -> e.__t)").as("__ord"))
    (sets, toks, ordered)
  }

  private def similarityJoinOn(docs: DataFrame, idCol: String,
                               setCol: Column, thresholdPct: Int,
                               opName: String): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1, 100], got $thresholdPct")
    val (sets, _, ordered) = orderedTokenSets(docs, idCol, setCol, opName)
    similarityJoinTail(sets, ordered, thresholdPct)
  }

  /** [[similarityJoinOn]] over a shared pre-shingled `(__id, __sh)` frame
    * (r17 — the bandingPrAudit one-shingling-pass path). */
  private def similarityJoinOnSets(sets0: DataFrame,
                                   thresholdPct: Int): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1, 100], got $thresholdPct")
    val (sets, _, ordered) = orderedTokenSetsFrom(sets0)
    similarityJoinTail(sets, ordered, thresholdPct)
  }

  private def similarityJoinTail(sets: DataFrame, ordered: DataFrame,
                                 thresholdPct: Int): DataFrame = {
    val prefixed = Materialize.cutLazy(ordered.select(col("__id"),
      size(col("__ord")).as("__sz"),
      expr(s"slice(__ord, 1, size(__ord) - (($thresholdPct * size(__ord) + 99) DIV 100) + 1)")
        .as("__pfx")))
    val probe = prefixed.select(col("__id"), col("__sz"), explode(col("__pfx")).as("__t"))
    val cands = probe.as("l").join(probe.as("r"),
        col("l.__t") === col("r.__t") && col("l.__id") < col("r.__id") &&
          col("l.__sz") * 100 >= col("r.__sz") * thresholdPct &&
          col("r.__sz") * 100 >= col("l.__sz") * thresholdPct)
      .select(col("l.__id").as("a"), col("r.__id").as("b")).distinct()
    cands
      .join(sets.select(col("__id"), col("__sh").as("__sha")), col("a") === col("__id"))
      .drop("__id")
      .join(sets.select(col("__id"), col("__sh").as("__shb")), col("b") === col("__id"))
      .drop("__id")
      .withColumn("n_int", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .withColumn("n_union",
        (size(col("__sha")) + size(col("__shb"))).cast("long") - col("n_int"))
      .where(col("n_int") * 100 >= col("n_union") * thresholdPct)
      .select(col("a"), col("b"), col("n_int"), col("n_union"))
  }

  /** EXACT containment join — ORDERED pairs (a, b), a ≠ b, with
    * C(a, b) = |A∩B| / |A| ≥ `thresholdPct`/100 over distinct word
    * `gramWords`-gram sets: "a is (mostly) contained in b" — the
    * quote/excerpt/snippet detector Jaccard misses by construction
    * (a 25-word quote inside a 10 000-word page has near-zero Jaccard
    * and containment 1.0). Zero recall loss, no cross join.
    *
    * Prefix filter, containment form: C ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so
    * the first |A| − ⌈t·|A|⌉ + 1 tokens of A (rarest-first order) must
    * hit B — but B contributes its FULL token set to the index (its
    * required overlap is relative to |A|, so no B-side prefix is sound).
    * The candidate join is therefore A-prefix tokens × the full inverted
    * index of B tokens: per-token cost dfA_prefix(w)·df(w) — word-gram
    * df ≈ 1 on prose keeps it linear; the char-gram saturation caveat on
    * [[similarityJoin]] applies doubly here. No length filter exists in
    * the containment direction (|B| ≫ |A| is the POINT). Exact
    * intersection over materialized sets verifies. Output:
    * (a, b, n_int, n_a) — a the contained side. */
  def containmentJoinWords(docs: DataFrame, idCol: String, textCol: String,
                           thresholdPct: Int, gramWords: Int = 4): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1, 100], got $thresholdPct")
    require(gramWords >= 1 && gramWords <= 16,
      s"gramWords must be in [1, 16], got $gramWords")
    val (sets, toks, ordered) = orderedTokenSets(docs, idCol,
      array_distinct(E.column(graft.functions.WordGrams(
        E.expression(col(textCol)), gramWords))),
      "containmentJoinWords")
    val prefix = ordered.select(col("__id").as("__ida"),
      expr(s"slice(__ord, 1, size(__ord) - (($thresholdPct * size(__ord) + 99) DIV 100) + 1)")
        .as("__pfx"))
      .select(col("__ida"), explode(col("__pfx")).as("__t"))
    val cands = prefix.join(toks.select(col("__id").as("__idb"), col("__t")), "__t")
      .where(col("__ida") =!= col("__idb"))
      .select(col("__ida").as("a"), col("__idb").as("b")).distinct()
    cands
      .join(sets.select(col("__id"), col("__sh").as("__sha")), col("a") === col("__id"))
      .drop("__id")
      .join(sets.select(col("__id"), col("__sh").as("__shb")), col("b") === col("__id"))
      .drop("__id")
      .withColumn("n_int", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .withColumn("n_a", size(col("__sha")).cast("long"))
      .where(col("n_int") * 100 >= col("n_a") * thresholdPct)
      .select(col("a"), col("b"), col("n_int"), col("n_a"))
  }

  /** Near-dup pairs: LSH blocking then exact-Jaccard verification.
    * r17 (guide §2.4): ONE shingling pass — the signature folds over the
    * same materialized shingle-set frame the verify joins read
    * (MinHashFromSet is value-identical to MinHashSignature over text). */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8, numHashes: Int = 128,
                        bands: Int = 32, shingle: Int = 5): DataFrame = {
    val sets = Materialize.cutLazy(df.select(col(idCol).as("__id"),
      shingleSet(col(textCol), shingle).as("__sh")))
    val cands = minhashCandidatesOnSets(sets, numHashes, bands, maxBucket = 200)
    verifyJaccardOnSets(cands, sets)
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** SimHash near-dup candidates via combinatorial block blocking
    * (Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    * Crawling", WWW 2007): the 64-bit fingerprint is split into `blocks`
    * bit-blocks, and every (blocks − maxHamming)-subset of blocks is
    * concatenated into a blocking key. A pair within hamming distance
    * ≤ maxHamming corrupts at most maxHamming blocks, so at least one
    * key subset is clean on both sides — recall within the radius is
    * GUARANTEED (up to bucket-cap drops), unlike single-band chunking
    * where only distance < #bands was covered.
    *
    * Scale posture: default blocks=6, maxHamming=3 → C(6,3)=20 keys/doc of
    * ~32 bits → 2^32 key space, so at 10^9 docs the mean bucket holds < 1
    * doc (the 16-bit single-band scheme capped at 65 536 buckets and
    * degenerated to ~15k-doc buckets). Oversized buckets from degenerate
    * content are dropped by the same windowed `maxBucket` guard as the
    * minhash path. Output: (a, b, hamming), a < b, hamming ≤ maxHamming. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingle: Int = 3, maxHamming: Int = 3,
                        blocks: Int = 6, maxBucket: Int = 200): DataFrame =
    hamming64Pairs(
      df.select(col(idCol).as("id"), simhashCol(col(textCol), shingle).as("fp")),
      "id", "fp", maxHamming, blocks, maxBucket)

  /** Persisted HAMMING gate — the [[buildNearDupGate]] lifecycle for
    * 64-bit fingerprints (text simhash, image dHash): the reference
    * set's Manku banded keys land on storage once; each fresh batch (or
    * micro-batch — the query side is a pure map + equi join, stream-safe)
    * probes only the banded-key join and verifies with exact
    * [[Hamming64]]. The same `maxBucket` skew guard as
    * [[hamming64Pairs]] is applied AT BUILD TIME (a degenerate
    * fingerprint mass — blank/uniform images all hashing alike — would
    * otherwise detonate every query join; dropped buckets trade recall
    * for survival, same contract as the minhash gate). Layout under
    * `dir`: `bands/` (ref_id, ref_fp, combo, key) skew-capped, `meta/`
    * one row (max_hamming, blocks, max_bucket) so queries can never
    * probe with mismatched band geometry. */
  def buildHammingGate(ref: DataFrame, idCol: String, fpCol: String,
                       dir: String, maxHamming: Int = 3,
                       blocks: Int = 6, maxBucket: Int = 200): Unit = {
    require(!ref.isStreaming, "the reference set must be a static DataFrame")
    banded64(ref.select(col(idCol).as("id"), col(fpCol).as("fp")),
        maxHamming, blocks)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("combo", "key")))
      .where(col("__n") <= maxBucket)
      .select(col("id").as("ref_id"), col("fp").as("ref_fp"),
        col("combo"), col("key"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    import ref.sparkSession.implicits._
    Seq((maxHamming, blocks, maxBucket))
      .toDF("max_hamming", "blocks", "max_bucket")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Fresh rows within the stored gate's hamming radius of ANY reference
    * fingerprint: `(id, ref_id, hamming)`. Works on a STREAMING `fresh`
    * unchanged (stateless: map-side banding + a stream-static join); on a
    * stream the same (id, ref_id) may be emitted once per matching key
    * subset — up to C(blocks, blocks−maxHamming) times — because a
    * streaming dropDuplicates would be unbounded state; the batch path
    * dedups to the MINIMUM hamming per (id, ref_id) — a re-crawled id
    * carrying two fingerprints must not report a partition-dependent
    * pick. Band geometry comes FROM the index metadata. */
  def queryHammingGate(fresh: DataFrame, idCol: String, fpCol: String,
                       dir: String, broadcastRef: Boolean = false): DataFrame = {
    val spark = fresh.sparkSession
    val m = spark.read.parquet(s"$dir/meta").select("max_hamming", "blocks").head
    val (maxHamming, blocks) = (m.getInt(0), m.getInt(1))
    val freshKeys = banded64(
      fresh.select(col(idCol).as("id"), col(fpCol).as("fp")),
      maxHamming, blocks)
    val ref = spark.read.parquet(s"$dir/bands")
    val joined = freshKeys
      .join(if (broadcastRef) broadcast(ref) else ref, Seq("combo", "key"))
      .select(col("id"), col("ref_id"),
        E.column(Hamming64(
          E.expression(col("fp")), E.expression(col("ref_fp")))).as("hamming"))
      .where(col("hamming") <= maxHamming)
    if (fresh.isStreaming) joined
    else joined.groupBy("id", "ref_id").agg(min(col("hamming")).as("hamming"))
  }

  /** All id pairs whose 64-bit fingerprints are within hamming distance
    * ≤ `maxHamming` — the GENERIC radius join behind [[simhashCandidates]]
    * (text simhash) and the image dHash path
    * ([[Multimodal.grayDHash]]): any map-side 64-bit fingerprint gets the
    * same Manku combinatorial blocking + exact [[Hamming64]] verify.
    * Recall within the radius is guaranteed up to `maxBucket` drops;
    * precision is exact (every emitted pair re-checked). Output:
    * `(a, b, hamming)`, a < b. */
  def hamming64Pairs(fps: DataFrame, idCol: String, fpCol: String,
                     maxHamming: Int = 3, blocks: Int = 6,
                     maxBucket: Int = 200): DataFrame = {
    val kept = Materialize.cutLazy(
      banded64(fps.select(col(idCol).as("id"), col(fpCol).as("fp")),
        maxHamming, blocks)
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("combo", "key")))
        .where(col("__n") <= maxBucket)
        .drop("__n"))
    kept.as("x").join(kept.as("y"),
        col("x.combo") === col("y.combo") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        E.column(Hamming64(
          E.expression(col("x.fp")), E.expression(col("y.fp")))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (id, fp, combo, key) rows for the Manku combinatorial blocking —
    * shared by the radius join and the bucket-histogram diagnostic.
    * Input must already carry `id` + 64-bit `fp`. */
  private def banded64(fps: DataFrame, maxHamming: Int,
                       blocks: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming < blocks && blocks <= 16,
      s"need 1 <= maxHamming < blocks <= 16; got maxHamming=$maxHamming blocks=$blocks")
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockCol(i: Int): Column =
      shiftrightunsigned(col("fp"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val keyCols = (0 until blocks).combinations(blocks - maxHamming).map { c =>
      c.foldLeft(lit(0L))((acc, i) => shiftleft(acc, widths(i)).bitwiseOR(blockCol(i)))
    }.toSeq
    fps.select(col("id"), col("fp"),
      posexplode(array(keyCols: _*)).as(Seq("combo", "key")))
  }

  /** Connected components over an undirected pair set (a, b): returns
    * (id, group_id) with group_id = the smallest id in the component —
    * turns near-dup PAIRS into dedup GROUPS (keep one doc per group).
    *
    * Min-label propagation with path doubling: each round hooks (label =
    * min of self and neighbors' labels) then jumps (label = label's
    * label), so the reachable-min spreads in O(log diameter) rounds of
    * co-partitioned joins — the standard large-graph CC recipe (cf.
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). Lineage is cut per round with localCheckpoint so the
    * iterated plan stays flat.
    *
    * Iterates to a CHECKED fixpoint, not a fixed round count: labels are
    * monotone non-increasing (the self-loop puts a node's own label in
    * every hook min, and the jump maps through hooked labels which satisfy
    * label(x) ≤ x), so the per-round convergence test is a scalar —
    * sum(label) unchanged ⟺ no label changed — computed on the
    * already-materialized checkpoint, with no extra join or shuffle.
    * The sums compared are CONSECUTIVE HOOK sums: the chain
    * hooked(i−1) ≥ jumped(i−1) ≥ hooked(i) is pointwise monotone, so
    * equal endpoint sums force equality everywhere between — one scalar
    * action per round, none on the jump frame.
    *
    * Shuffle shape per round: the edge table is hash-partitioned on the
    * join key ONCE up front (and each round's hook output arrives
    * partitioned by node from its own groupBy), so the hook join runs
    * without re-exchanging the edges — only the groupBy and the jump's
    * self-join move data. At 100 TB the edge table is the big side; not
    * re-shuffling it every round is the difference between O(rounds) and
    * O(1) passes over the edges.
    * `maxIters` is a safety cap only; if labels are still changing when it
    * is hit the method THROWS rather than silently returning truncated
    * groups (the at-scale failure mode: a duplicate chain longer than the
    * rounds cover would otherwise get wrong group_ids with no error).
    * Path doubling covers diameter 2^rounds, so the default cap handles
    * diameters into the billions. */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
                          maxIters: Int = 40): DataFrame = {
    // self-loops make every node its own neighbor, so one join+groupBy per
    // round covers both "keep own label" and "take neighbors' min".
    // repartition(y): materialize the edges already partitioned on the
    // per-round join key — every hook join then reuses this one exchange
    // instead of re-shuffling the (large) edge table each round
    // r16: lazy checkpoints — labelSum's full-scan aggregate is each
    // round's ONE materializing action (the eager cuts paid a separate
    // driver job per frame per round on top of it)
    val edges = Materialize.cutLazy(pairs.select(col("a").as("x"), col("b").as("y"))
      .union(pairs.select(col("b").as("x"), col("a").as("y")))
      .union(ids.select(col("id").as("x"), col("id").as("y")))
      .repartition(col("y")))
    var labels = Materialize.cutLazy(ids.select(col("id"), col("id").as("label")))
    // decimal sum: exact at any node count (a bigint sum could overflow at
    // 10^9+ rows of 10^9+ ids, turning the convergence test into UB)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty id set
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // hooked is checkpointed because the jump self-joins it: without
      // it, BOTH join sides would recompute the edge-join + groupBy
      val hooked = Materialize.cutLazy(edges.join(labels, edges("y") === labels("id"))
        .groupBy("x").agg(min("label").as("label"))
        .withColumnRenamed("x", "id"))
      val sH = labelSum(hooked) // forces hooked AND (first use) labels
      if (sH.compareTo(prevSum) == 0) {
        // hook-fixpoint ⟺ converged: labels are constant across every edge,
        // so each component already carries its minimum — skip the jump.
        // (Comparing consecutive HOOK sums is sound by the monotone chain
        // hooked(i−1) ≥ jumped(i−1) ≥ hooked(i): equal sums at the ends
        // force pointwise equality throughout.)
        converged = true
        labels = hooked
      } else {
        prevSum = sH
        val jumped = hooked.as("h1").join(hooked.as("h2"), col("h1.label") === col("h2.id"))
          .select(col("h1.id").as("id"), col("h2.label").as("label"))
        labels = Materialize.cutLazy(jumped)
      }
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: labels still changing after maxIters=$maxIters rounds " +
          "(component diameter exceeds 2^maxIters); raise maxIters")
    labels.withColumnRenamed("label", "group_id")
  }

  /** INCREMENTAL near-dup group maintenance: fold an appended batch's
    * verified pairs into a stored `(id, group_id)` table WITHOUT re-running
    * [[connectedComponents]] over the history.
    *
    * The stored table already encodes the old corpus's connectivity as
    * stars (every member points at its component's min id), so the new
    * connectivity is CC over { stars ∪ newPairs } — but only components an
    * incoming pair TOUCHES can change. Each touched component is
    * CONTRACTED to its representative (sound because group_id IS the
    * component's min member: the contracted minimum equals the true
    * minimum over all members), the batch's pairs are rewritten onto
    * representatives, and the CC fixpoint runs on that contracted graph
    * alone — batch-plus-touched-components sized, NOT history-sized.
    * Untouched rows pass through byte-identical.
    *
    * Cost: ONE column-pruned pass over the stored table (routing touched
    * vs untouched and emitting the new snapshot — any implementation must
    * write the union) and zero iterative passes over it; the path-doubling
    * rounds see only the contracted graph. This is the [[Maintenance]]
    * `rollupState` discipline applied to graph state.
    *
    * Contracts, all loud: batch ids must be disjoint from stored ids (a
    * re-crawled id is an upsert, not an append — resolve upstream);
    * every pair endpoint must be a stored id or a batch id (an unknown id
    * means the caller verified pairs against a different corpus version).
    * `newPairs` are the batch's VERIFIED pairs — batch×batch and
    * batch×stored (e.g. [[queryNearDupGate]] candidates → [[verifyJaccard]]).
    * Output: the new `(id, group_id)` table over stored ∪ batch.
    *
    * Spec: append(batch) ≡ full recompute over a∪b on chains that thread
    * batches together, including merges of two previously-separate stored
    * components through a batch doc. */
  def appendGroups(storedGroups: DataFrame, newIds: DataFrame,
                   newPairs: DataFrame, maxIters: Int = 40): DataFrame = {
    val a = storedGroups.select(col("id").cast("long").as("id"),
      col("group_id").cast("long").as("group_id"))
    val b = newIds.select(col("id").cast("long").as("id")).distinct()
    val p = newPairs.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // loud overlap check: batch ids must be new (one semi join, batch-sized)
    val nOverlap = a.join(b, Seq("id"), "left_semi").count()
    require(nOverlap == 0,
      s"appendGroups: $nOverlap batch id(s) already exist in the stored table — " +
        "an append must carry new ids only (re-crawls are upserts, resolve upstream)")
    // resolve each pair endpoint to its contracted node: stored id → its
    // group rep, batch id → itself, unknown → loud per-row error
    val bFlag = b.withColumn("__inb", lit(true))
    def side(c: String): DataFrame => DataFrame = df => df
      .join(a.select(col("id").as(c), col("group_id").as(s"__r$c")), Seq(c), "left")
      .join(bFlag.select(col("id").as(c), col("__inb").as(s"__b$c")), Seq(c), "left")
    val resolved = side("b")(side("a")(p))
      .select(
        coalesce(col("__ra"), when(col("__ba"), col("a")),
          expr("raise_error(concat('appendGroups: pair endpoint ', " +
            "CAST(a AS STRING), ' is neither a stored nor a batch id'))")
            .cast("long")).as("ca"),
        coalesce(col("__rb"), when(col("__bb"), col("b")),
          expr("raise_error(concat('appendGroups: pair endpoint ', " +
            "CAST(b AS STRING), ' is neither a stored nor a batch id'))")
            .cast("long")).as("cb"))
    val cEdges = Materialize.cutLazy(resolved
      .select(col("ca").as("a"), col("cb").as("b"))
      .where(col("a") =!= col("b")).distinct())
    val nodes = b.select(col("id"))
      .union(cEdges.select(col("a").as("id")))
      .union(cEdges.select(col("b").as("id")))
      .distinct()
    // the contracted fixpoint: batch + touched-representative sized
    val comp = connectedComponents(nodes, cEdges.select("a", "b"), maxIters)
    val remap = comp.select(col("id").as("__rep"), col("group_id").as("__newgid"))
    // batch rows: every batch id is a contracted node (reps are stored ids,
    // disjoint from the batch by the check above)
    val bRows = remap.join(b, remap("__rep") === b("id"), "left_semi")
      .select(col("__rep").as("id"), col("__newgid").as("group_id"))
    // stored rows: touched components remap through their rep; untouched
    // pass through unchanged — the one history pass, no iteration
    val touchedA = a.join(remap.where(col("__rep") =!= col("__newgid")),
        a("group_id") === col("__rep"))
      .select(a("id"), col("__newgid").as("group_id"))
    val untouchedA = a.join(
        remap.where(col("__rep") =!= col("__newgid"))
          .select(col("__rep").as("group_id")),
        Seq("group_id"), "left_anti")
      .select(col("id"), col("group_id"))
    untouchedA.unionByName(touchedA).unionByName(bRows)
  }

  /** The persisted lifecycle of [[appendGroups]] — the [[buildNearDupGate]]
    * pattern applied to group state: `writeGroupTable` seeds `dir` with a
    * full [[connectedComponents]] run; `appendGroupTable` folds a batch in
    * and writes the next snapshot under a caller-named version subdir
    * (write-audit-publish style: never in place, the old snapshot stays
    * readable until the caller flips its pointer). Returns the new
    * snapshot path. */
  def writeGroupTable(ids: DataFrame, pairs: DataFrame, dir: String,
                      version: String = "v0"): String = {
    val path = s"$dir/$version"
    connectedComponents(ids, pairs).write.mode("errorifexists").parquet(path)
    path
  }

  def appendGroupTable(spark: org.apache.spark.sql.SparkSession,
                       currentPath: String, newIds: DataFrame,
                       newPairs: DataFrame, dir: String,
                       version: String): String = {
    val path = s"$dir/$version"
    appendGroups(spark.read.parquet(currentPath), newIds, newPairs)
      .write.mode("errorifexists").parquet(path)
    path
  }

  /** Typo-tolerant fuzzy matching: every id pair whose strings are within
    * Levenshtein distance 1, WITHOUT the quadratic all-pairs comparison.
    * Blocking is the deletion neighborhood (the SymSpell scheme): each
    * string is keyed by itself plus every single-character deletion, and
    * two strings within distance 1 PROVABLY share a key — substitution:
    * deleting the differing position from both yields the same string;
    * insert/delete: the shorter string IS a deletion key of the longer;
    * equality: the strings themselves. Shared keys only make candidates
    * (e.g. "ab"/"ba" share both "a" and "b" at distance 2), so every pair
    * is verified with an exact `levenshtein` before it is emitted — the
    * blocking affects cost, never the answer.
    *
    * Cost: |s|+1 keys per row — and |s|+1 STRINGS of length |s|, so the
    * explode is QUADRATIC bytes in string length. This is for SHORT
    * identifier-like strings (names, titles, SKUs) — the record-linkage
    * shape — not for document bodies; rows longer than `maxLen` FAIL the
    * job loudly (a per-row `assert_true`, no extra pass) rather than
    * silently detonating the shuffle — raise `maxLen` deliberately if
    * your keys really are that long. One shuffle on the deletion key,
    * `distinct` over candidate pairs only (a pair can meet under several
    * shared keys). NULL strings never match anything. Output: `a, b`
    * (id pairs, a < b), including distance-0 (identical-string) pairs. */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String,
                         maxLen: Int = 256): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    // loud on non-integral ids: a silent cast("long") would NULL string
    // ids (the common shape in exactly this record-linkage domain), the
    // join would match nothing, and the empty result would look plausible
    Search.requireIntegralId(df, idCol, "editDistance1Pairs")
    // the guard lives INSIDE the consumed column (a dropped assert_true
    // projection would be pruned by the optimizer and never run); Column
    // API, not an expr() string — exotic column names must keep working
    val s = df.where(col(strCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        when(length(col(strCol)) <= maxLen, col(strCol))
          .otherwise(raise_error(lit(
            s"editDistance1Pairs: string longer than maxLen=$maxLen — " +
              "the deletion-neighborhood explode is quadratic in string " +
              "length; raise maxLen only for genuinely long keys")))
          .as("__s"))
    // materialized: the self-join below consumes it twice, and the
    // |s|+1-key explode is the expensive upstream pass
    val keyed = Materialize.cutLazy(s.select(col("__id"), col("__s"),
      explode(expr(
        """CASE WHEN length(__s) = 0 THEN array(__s)
          |ELSE array_union(array(__s),
          |  transform(sequence(1, length(__s)),
          |    i -> concat(substring(__s, 1, i - 1), substring(__s, i + 1))))
          |END""".stripMargin)).as("__k")))
    keyed.as("l").join(keyed.as("r"),
        col("l.__k") === col("r.__k") && col("l.__id") < col("r.__id"))
      .where(levenshtein(col("l.__s"), col("r.__s")) <= 1)
      .select(col("l.__id").as("a"), col("r.__id").as("b"))
      .distinct()
  }

  /** Embedding near-dup pairs above a cosine threshold, restricted to a
    * blocking window (caller chooses the blocking: LSH buckets, shard key,
    * or a window join). Uses exact quantized-integer cosine (deterministic
    * across engines — see SparkEntry oracle notes). */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           pairs: DataFrame, threshold: Double): DataFrame = {
    val q = emb.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
    pairs
      .join(q.withColumnRenamed("__q", "__qa"), pairs("a") === col("__id")).drop("__id")
      .join(q.withColumnRenamed("__q", "__qb"), pairs("b") === col("__id")).drop("__id")
      .withColumn("cos", quantizedCosine(col("__qa"), col("__qb")))
      .drop("__qa", "__qb")
      .where(col("cos") >= threshold)
  }

  /** Semantic deduplication — SemDeDup (Abbas et al. 2023, arXiv:
    * 2303.09540): drop documents whose EMBEDDING is near-identical to
    * another document's within the same semantic cluster. Catches the
    * paraphrases and templated rewrites that lexical dedup (minhash /
    * simhash over surface n-grams) cannot see.
    *
    * Recipe: [[Similarity.assignClustersExact]] (r11 — the INTEGER-EXACT
    * spherical quantizer: md5-h60 spread sample, pure-long Lloyd,
    * smaller-id ties; one map-side assignment pass) blocks the corpus
    * into nClusters semantic regions; within each cluster, a
    * co-partitioned self-join tests the exact QUANTIZED cosine
    * ([[quantizedCosine]] — integer dot/norms, bit-identical in any
    * engine) ≥ `threshold`; a doc is a duplicate iff some SMALLER-id doc
    * in its cluster clears the threshold (greedy keep-min-id —
    * deterministic, and at most one survivor per mutually-similar set;
    * slightly more aggressive than a connected-components grouping on
    * borderline non-transitive chains, matching the paper's per-cluster
    * pruning). Every stage — sample, Lloyd rounds, assignment, identity
    * collapse, pairing — is replayable integer/IEEE arithmetic, so the
    * op HASH-GATES against a DuckDB unroll (r11; rows-only before).
    * Rows whose vector cannot be unit-quantized take cluster −1 (they
    * can never clear a cosine threshold but must not vanish).
    *
    * Scale shape: clustering shuffles nothing (plan-constant centroids);
    * the only shuffle is the block-key self-join, quadratic within a
    * block but bounded by `maxCluster`. BIT-EQUAL vectors collapse first
    * (map-side-combining aggregate; non-min members flag directly, cos
    * exactly 1) so exact-duplicate families — where web-corpus semantic
    * mass concentrates — never enter the quadratic stage at all; the
    * sub-split machinery below then only ever sees DISTINCT vectors.
    * Clusters larger than the cap are SUB-SPLIT, never skipped: over-cap blocks are re-clustered with a
    * finer per-block k-means (one driver-side training sample per over-cap
    * block — their count is ≤ N/maxCluster, tiny) until every block fits;
    * if `maxSplitDepth` rounds cannot split a block — or one round changes
    * nothing, which under the fixed seeds means no later round can either
    * — (only near-IDENTICAL vectors defeat k-means: ties all assign to
    * one centroid), it is
    * hash-chunked by id instead (a pure map — no window sort of the
    * giant family in one task). Every split additionally
    * emits a REPRESENTATIVE CHAIN — consecutive child-block min-ids pair
    * with each other — so a tight family that a split separates still
    * links up (identical vectors: cos = 1 along the chain, everything but
    * the global min flags — exactly right for the boilerplate families
    * that form giant clusters, the case the old skip-guard silently
    * exempted). General cross-boundary pairs between non-representatives
    * remain blocking misses, the same acceptance the paper makes for its
    * top-level clustering. Like the paper, nClusters should grow with
    * corpus size to keep N/k bounded.
    * Output: (idCol, cluster, is_semantic_duplicate) — `cluster` is the
    * TOP-level cluster id; sub-split block keys are internal. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nClusters: Int = 64,
                    sampleSize: Int = 10000, iters: Int = 10,
                    maxCluster: Int = 10000, maxSplitDepth: Int = 4): DataFrame = {
    // trained + assigned ONCE; materialized because it feeds the per-level
    // size checks, the pairing join (twice, via self-join) and the final
    // flag join. The pairing predicate is quantizedCosine over the
    // pre-quantized __qv (r11): integer dot/norms the oracle replays
    // bit-exactly — the same cosine dedup_embedding_cosine hash-gates.
    // __v (raw floats) rides along only as the sub-split re-clustering
    // input; __qv is quantized ONCE here, not per pair.
    // materialized: the corpus-wide centroid assignment + vector join is
    // the most expensive upstream pass and feeds the rep aggregate, the
    // identity-dup frame and the blocks frame below — without this cut it
    // would recompute per downstream action
    val assigned = Materialize.cutLazy(Similarity
      .assignClustersExact(emb, idCol, vecCol, nClusters, sampleSize, iters)
      .join(emb.select(col(idCol), col(vecCol).as("__v")), idCol)
      .withColumn("__qv", quantize(col("__v"))))
    // EXACT-duplicate collapse before anything quadratic: QUANTIZED-equal
    // vectors have quantizedCosine exactly 1 ≥ any threshold, so each
    // (cluster, __qv) identity group keeps only its min id in the pairwise
    // pipeline and every other member is flagged directly — a map-side-
    // combining aggregate (identical vectors collapse within each task,
    // so a 10^9-row boilerplate family ships ~one row per task, not 10^9)
    // + one co-partitioned join. This is EXACT in the op's own (quantized-
    // cosine) semantics, not an approximation: for a non-rep x, rep < x
    // with cos 1; for a rep r, any smaller similar y implies y's rep < r
    // with the same cosine. Grouping moved from __v to __qv in r11 so the
    // collapse and the pairwise predicate share ONE notion of equality —
    // and so the DuckDB oracle can group by the same integer lists.
    // Exempt (not collapsible, keep individual rows, can never flag):
    // vectors whose quantization carries a NULL element (NaN/±Inf floats
    // quantize to NULL → quantizedCosine is NULL) or is all-zero
    // (denominator 0 → NaN → predicate false). coalesce pins three-valued
    // logic: a NULL vector makes `exists` NULL, and a bare NULL predicate
    // would drop the row from BOTH the collapse and the keep branch —
    // silent document loss.
    val collapsible = coalesce(
      !exists(col("__qv"), x => x.isNull) &&
        exists(col("__qv"), x => x =!= lit(0L)), lit(false))
    val reps = assigned.where(collapsible)
      .groupBy(col("cluster"), col("__qv")).agg(min(col(idCol)).as("__rep"))
    val withRep = assigned.join(reps, Seq("cluster", "__qv"), "left")
    val identityDups = Materialize.cutLazy(withRep
      .where(collapsible && col(idCol) =!= col("__rep"))
      .select(col(idCol), col("cluster")))
    // r16: lazy checkpoints — the loop's own over-cap collect / rep-chain
    // collect are the materializing actions; the eager cuts each paid a
    // standalone driver job per round
    var blocks = Materialize.cutLazy(withRep
      .where(!collapsible || col(idCol) === col("__rep"))
      .select(col(idCol), col("cluster"), col("__v"), col("__qv"))
      .withColumn("__blk", col("cluster").cast("string")))
    // (a, b) rep-chain pairs, a < b — collected to the driver (≤ #children
    // per split: ≤ 64 for k-means splits, rows/maxCluster for chunk splits;
    // KBs) so their lifecycle is independent of the iterated frames
    var chainRows = List.empty[org.apache.spark.sql.Row]
    var depth = 0
    var done = false
    // absolute cap on split rounds: k-means rounds are bounded by
    // maxSplitDepth, and hash-chunking shrinks over-cap blocks with
    // near-certainty each round — but if pathological hashing ever kept a
    // block over the cap this long, THROW (the CC precedent: an explicit
    // failure beats an infinite loop or a silently skipped block)
    val maxRounds = maxSplitDepth + 16
    // over-cap blocks of the previous round (key → size) plus the
    // separator its split used: a round made NO progress for a parent iff
    // it produced exactly ONE over-cap child of the SAME size (identical
    // vectors assign identically under the fixed seeds every time).
    // Escalate to the chunk fallback only when EVERY parent is stuck —
    // matched PER PARENT by key prefix, so a productive split whose
    // still-over children coincidentally reproduce the previous round's
    // size multiset (different blocks, same sizes) can never trigger the
    // fallback and silently trade dense cross-chunk pairs for recall
    var prevOver: Map[String, Long] = null
    var prevSep: String = "."
    while (!done) {
      val over = blocks.groupBy("__blk").agg(count(lit(1)).as("__n"))
        .where(col("__n") > maxCluster)
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      if (over.isEmpty) done = true
      else {
        if (depth >= maxRounds)
          throw new IllegalStateException(
            s"semanticDedup: ${over.length} block(s) still over maxCluster=$maxCluster " +
              s"after $depth split rounds; raise maxCluster or maxSplitDepth")
        val prev = blocks
        val overKeys = over.map(_._1)
        val isOver = col("__blk").isin(overKeys: _*)
        // (a parent key is never a prefix-plus-sep of a sibling's children,
        // so the prefix match resolves each child to exactly one parent)
        val stuck = prevOver != null && {
          val byParent = over.toSeq
            .flatMap { case (k, n) =>
              prevOver.keys.find(p => k.startsWith(p + prevSep)).map(_ -> n) }
            .groupBy(_._1).map { case (p, kids) => p -> kids.map(_._2).sorted }
          prevOver.forall { case (p, n) => byParent.get(p).contains(Seq(n)) } &&
            over.forall { case (k, _) =>
              prevOver.keys.exists(p => k.startsWith(p + prevSep)) }
        }
        prevOver = over.toMap
        val (split, sep) =
          if (depth < maxSplitDepth && !stuck) {
            // finer per-block k-means: k sized so an even split lands
            // children at ~maxCluster/2
            (over.map { case (b, n) =>
              val k = math.min(64, math.max(2, math.ceil(2.0 * n / maxCluster).toInt))
              val sub = prev.where(col("__blk") === b)
              val asg = Similarity.assignClustersExact(
                  sub.select(col(idCol), col("__v").as(vecCol)), idCol, vecCol,
                  k, sampleSize, iters)
                .select(col(idCol), col("cluster").as("__sub"))
              sub.join(asg, idCol)
                .withColumn("__blk", concat_ws(".", col("__blk"), col("__sub")))
                .drop("__sub")
            }.reduce(_.union(_)), ".")
          } else {
            // depth cap: only (near-)identical-vector families get here —
            // k-means cannot split exact ties. HASH-chunk by id — a pure
            // MAP: a row_number window over the one giant block key would
            // sort the whole family in a single task, exactly the
            // straggler this operator exists to avoid. 2× headroom over
            // the target chunk count makes residual over-cap chunks
            // vanishingly rare; the loop's size check re-chunks any. For
            // identical vectors the rep chain below makes the flagging
            // EXACT (all but the global min).
            System.err.println(s"[graft] semanticDedup: ${over.length} block(s) / " +
              s"${over.map(_._2).sum} rows unsplittable after $depth k-means rounds — hash-chunking")
            val nChunks = over.foldLeft(lit(2L)) { case (acc, (b, n)) =>
              when(col("__blk") === b,
                lit(math.max(2L, 2L * ((n + maxCluster - 1) / maxCluster)))).otherwise(acc)
            }
            (prev.where(isOver).withColumn("__blk",
              concat_ws("#", col("__blk"),
                pmod(xxhash64(col(idCol)), nChunks).cast("string"))), "#")
          }
        prevSep = sep
        blocks = Materialize.cutLazy(prev.where(!isOver).union(split))
        // representative chain: consecutive child min-ids of each split
        // parent pair up (child keys = parent + sep + suffix; a parent key
        // is never a prefix-plus-sep of a sibling's children)
        val reps = blocks
          .where(overKeys.map(p => col("__blk").startsWith(p + sep)).reduce(_ || _))
          .groupBy("__blk").agg(min(col(idCol)).as("__rep"))
          .withColumn("__parent", expr(
            s"substring(__blk, 1, length(__blk) - length(substring_index(__blk, '$sep', -1)) - 1)"))
        val w = Window.partitionBy("__parent").orderBy("__rep")
        chainRows = chainRows ++ reps
          .select(lag("__rep", 1).over(w).as("a"), col("__rep").as("b"))
          .where(col("a").isNotNull)
          .collect() // first action on the new blocks frame — populates it
        depth += 1
      }
    }
    val within = blocks.as("x").join(blocks.as("y"),
        col("x.__blk") === col("y.__blk") &&
          col("x." + idCol) < col("y." + idCol))
      .where(quantizedCosine(col("x.__qv"), col("y.__qv")) >= threshold)
      .select(col("y." + idCol).as(idCol))
    val dups = (if (chainRows.isEmpty) within
    else {
      import scala.jdk.CollectionConverters._
      val idType = emb.schema(emb.schema.fieldIndex(idCol)).dataType
      val chain = emb.sparkSession.createDataFrame(chainRows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a", idType),
          org.apache.spark.sql.types.StructField("b", idType))))
      val vecs = blocks.select(col(idCol).as("__cid"), col("__qv"))
      val chained = chain
        .join(vecs.withColumnRenamed("__qv", "__qa"), col("a") === col("__cid")).drop("__cid")
        .join(vecs.withColumnRenamed("__qv", "__qb"), col("b") === col("__cid")).drop("__cid")
        .where(quantizedCosine(col("__qa"), col("__qb")) >= threshold)
        .select(col("b").as(idCol))
      within.union(chained)
    }).distinct()
    blocks
      .join(dups.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("__dup"), lit(false)).as("is_semantic_duplicate"))
      .union(identityDups.select(col(idCol), col("cluster"),
        lit(true).as("is_semantic_duplicate")))
  }

  /** GOLDEN-RECORD survivorship — the field-level fusion step after
    * entity resolution (pairs → groups → ONE canonical row per entity):
    * for each group and each field, the surviving value is the most
    * FREQUENT non-null value among the group's records, ties broken by
    * the latest `tieCol` carrying it, then by the largest value — all
    * three rules deterministic, so the golden table is replayable
    * (classic MDM survivorship: "majority, then recency"; per-field, so
    * one record's typo in one column doesn't poison its other columns).
    *
    * Plan: per field one (group, value) partial-aggregated count+max-tie
    * pass folded by a `max(struct(n, tie, value))` ARGMAX aggregate
    * (never a per-group window sort), then the k field frames join back
    * on the group id with NULL-SAFE equality (`<=>`): `groupBy` keeps a
    * NULL group id as a real group, so its golden values must survive
    * the join too — a plain equi-join would return that group's row
    * with every golden_* NULL even when it has values. k small by
    * definition (a schema's worth of columns). All-NULL fields survive
    * as NULL. Output: groupCol, `n_members`, one `golden_<field>` per
    * requested field. */
  def goldenRecords(df: DataFrame, groupCol: String, fields: Seq[String],
                    tieCol: String): DataFrame = {
    require(fields.nonEmpty, "goldenRecords needs at least one field")
    val members = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_members"))
    fields.foldLeft(members) { (acc, f) =>
      val best = df.where(col(f).isNotNull)
        .groupBy(col(groupCol), col(f))
        .agg(count(lit(1)).as("__n"), max(col(tieCol)).as("__t"))
        .groupBy(col(groupCol))
        .agg(max(struct(col("__n"), col("__t"), col(f))).as("__b"))
        .select(col(groupCol).as("__g"), col(s"__b.$f").as(s"golden_$f"))
      acc.join(best, col(groupCol) <=> col("__g"), "left").drop("__g")
    }
  }

  /** float vector → scaled bigint vector. The float→double widening is
    * exact and double×1e6 is IEEE-identical in any engine; without the
    * explicit cast Spark multiplies in float while DuckDB promotes. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1000000L).cast("long"))

  /** cosine over pre-quantized bigint vectors — integer dot/norms are exact,
    * so the resulting double is bit-identical in any engine. The three
    * inner products run as [[graft.functions.QuantizedDot]] tight loops
    * (value-identical to the HOF fold they replaced — same index order,
    * same NULL propagation — but ~10× cheaper per pair: the all-pairs
    * ops evaluate this once per PAIR, and the HOF tree's intermediate
    * array + boxing dominated their bench time). */
  def quantizedCosine(qa: Column, qb: Column): Column = {
    import org.apache.spark.sql.graftshim.{GraftShim => E}
    def qdot(a: Column, b: Column): Column =
      E.column(graft.functions.QuantizedDot(E.expression(a), E.expression(b)))
    // NULL on a zero-norm side (the CosineSim contract; r11): nothing to
    // normalize — and under ANSI mode a 0.0 divisor would otherwise be a
    // DIVIDE_BY_ZERO error instead of IEEE NaN. Values are unchanged for
    // every nonzero pair (the guard only gates the division).
    when(qdot(qa, qa) > 0L && qdot(qb, qb) > 0L,
      qdot(qa, qb).cast("double") /
        (sqrt(qdot(qa, qa).cast("double")) * sqrt(qdot(qb, qb).cast("double"))))
  }
}
