package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Table maintenance for long-lived curated corpora. A pipeline that
  * appends per-batch output (crawl ingests, dedup deltas) accumulates
  * small files; at 100 TB the resulting scan-task explosion and NameNode/
  * listing pressure dominate read cost long before raw bytes do.
  */
object Maintenance {

  /** Rewrite the parquet table at `src` into ≈`targetBytes` files under
    * `dst`. File count = ceil(current bytes / target), derived from the
    * source listing — no count() job and no data-dependent heuristics, so
    * the rewrite is ONE distributed pass (read → round-robin repartition →
    * write). Round-robin (not coalesce): coalesce would chain narrow
    * dependencies back into the scan and skew output files by input
    * locality; a compaction's whole point is evenly sized output.
    * Listing goes through the Hadoop FileSystem API, so `src`/`dst` may
    * live on any configured filesystem (local, HDFS, object store) — the
    * deployments whose listing pressure motivates compaction in the first
    * place. Returns (filesBefore, filesAfter, bytesBefore). */
  def compactParquet(spark: SparkSession, src: String, dst: String,
                     targetBytes: Long = 128L << 20): (Int, Int, Long) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val conf = spark.sessionState.newHadoopConf()
    def parts(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    }
    val before = parts(src)
    require(before.nonEmpty, s"no parquet part files under $src")
    val bytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(src)
      .repartition(nOut)
      .write.mode("overwrite").parquet(dst)
    (before.size, parts(dst).size, bytes)
  }
  /** Dataset card — the one-row release manifest: corpus size, source/
    * language cardinality, content volume, and the exact-duplicate rate,
    * in one aggregate pass plus the dedup hash distinct. All INTEGER/ppm
    * arithmetic (dup rate in ppm, floor) so the card is oracle-replayable
    * bit-for-bit — a dataset's published numbers should never drift
    * between engines. NULL-text rows count as ONE unique text among
    * themselves (SQL GROUP BY semantics, matching [[Dedup.exact]]'s
    * hash-groupBy which keeps one NULL row) — countDistinct alone would
    * skip them and report phantom duplicates. An empty corpus yields the
    * all-zeros card, not a divide-by-zero. */
  def datasetCard(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, sourceCol: String,
                  langCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    df.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col(sourceCol)).as("n_sources"),
      countDistinct(col(langCol)).as("n_langs"),
      coalesce(sum(length(col(textCol)).cast("long")), lit(0L)).as("total_chars"),
      (countDistinct(md5(regexp_replace(lower(col(textCol)), "\\s+", " "))) +
        coalesce(max(when(col(textCol).isNull, 1L).otherwise(0L)), lit(0L)))
        .as("n_unique_texts"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"), col("total_chars"),
        col("n_unique_texts"),
        expr("CASE WHEN n_docs = 0 THEN 0L ELSE (n_docs - n_unique_texts) * 1000000L DIV n_docs END")
          .as("dup_ppm"))
  }

  /** K-anonymity audit over a quasi-identifier column set: every value
    * combination shared by FEWER than `k` rows — the groups a release
    * would have to generalize or suppress (small groups are the
    * re-identification risk; a combination unique to one row IS that
    * row's fingerprint). One groupBy + HAVING; NULLs group as values
    * (SQL GROUP BY semantics — a NULL quasi-identifier still
    * fingerprints). Output: the quasi-identifier columns + `n` with
    * n < k; row order is unspecified (post-groupBy, partition-dependent)
    * — add `.orderBy("n")` to triage smallest groups first. */
  def kAnonymityViolations(df: org.apache.spark.sql.DataFrame,
                           quasiIdCols: Seq[String], k: Long): org.apache.spark.sql.DataFrame = {
    require(quasiIdCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2 (k = 1 can never be violated), got $k")
    import org.apache.spark.sql.functions.{col, count, lit}
    df.groupBy(quasiIdCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") < k)
  }

  /** FRESHNESS audit: per group (source, feed, partition key), row
    * count, the most recent timestamp, staleness in days against a
    * caller-supplied `asOf` anchor (an explicit Column — a wall-clock
    * default would make the audit non-replayable and non-gateable),
    * and the recent-activity split (rows in the trailing 7 / 30 days,
    * 30-day share in ppm) — the ops dashboard row that catches a dead
    * feed before a week of missing data poisons a training snapshot.
    * NULL timestamps are counted apart (`n_null_ts`), not dropped — a
    * feed going all-NULL on its timestamp IS a freshness failure.
    * One partial-aggregated groupBy; scan-priced at any scale.
    * Output: `groupCol, n_rows, n_null_ts, last_ts, days_stale,
    * n_7d, n_30d, share_30d_ppm`. */
  def freshnessAudit(df: org.apache.spark.sql.DataFrame, groupCol: String,
                     tsCol: String,
                     asOf: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ts = col(tsCol)
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(ts.isNull, 1L).otherwise(0L)).as("n_null_ts"),
        max(ts).as("last_ts"),
        sum(when(ts >= asOf - expr("INTERVAL 7 DAYS"), 1L).otherwise(0L)).as("n_7d"),
        sum(when(ts >= asOf - expr("INTERVAL 30 DAYS"), 1L).otherwise(0L)).as("n_30d"))
      .select(col(groupCol), col("n_rows"), col("n_null_ts"), col("last_ts"),
        datediff(asOf.cast("date"), col("last_ts").cast("date")).as("days_stale"),
        col("n_7d"), col("n_30d"),
        expr("CAST((n_30d * 1000000) DIV n_rows AS BIGINT)").as("share_30d_ppm"))
  }

  /** Functional-dependency audit — "does column A determine column B":
    * the key-discovery / denormalization-check pass of data profiling
    * (an FD that HOLDS means B can live in a dimension keyed by A; an FD
    * that almost-holds pinpoints the corrupt keys). Exact, not sampled:
    * per candidate `(determinant, dependent)` pair, one
    * `groupBy(det).agg(countDistinct(dep))` pass — partial-aggregated,
    * scan-priced — then the violation rollup. NULL determinants form a
    * real group (a NULL key determining two values IS a violation worth
    * seeing); NULL dependents are ignored inside countDistinct (SQL
    * convention, mirrored by the oracle). Output one row per pair:
    * `determinant, dependent, n_keys, n_violating_keys, violation_ppm,
    * holds` (1/0). */
  def fdAudit(df: org.apache.spark.sql.DataFrame,
              pairs: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(pairs.nonEmpty, "need at least one (determinant, dependent) pair")
    pairs.map { case (det, dep) =>
      df.groupBy(col(det).as("__k"))
        .agg(countDistinct(col(dep)).as("__nd"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_violating_keys"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_keys"), col("n_violating_keys"),
          expr("CAST((n_violating_keys * 1000000) DIV n_keys AS BIGINT)")
            .as("violation_ppm"),
          when(col("n_violating_keys") === 0, 1L).otherwise(0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Partition/join-KEY skew audit: the "will this key explode a
    * shuffle" pre-flight for the 1000-executor cluster, as one integer
    * summary row — `n_keys, n_rows, max_n` (the heaviest key's row
    * count: the straggler-task bound), `top_share_ppm` (the `topK`
    * heaviest keys' share of all rows: how much salting would help),
    * and `gini_ppm` (the Gini coefficient of the per-key count
    * distribution: 0 = perfectly uniform, →10⁶ = one key owns
    * everything).
    *
    * Scale shape: per-key counts (one partial-aggregated shuffle) fold
    * immediately into the COUNT-OF-COUNTS frame — distinct count
    * VALUES, which repeat heavily at scale, so the frame is bounded the
    * way ksTest's distinct-value frame is — and BOTH the Gini rank sum
    * and the top-K share are computed exactly on that collapsed frame:
    * a run of `m` keys all with count `n` starting at cumulative
    * 1-based rank `p+1` contributes `n·(m·p + m(m+1)/2)` to Σ rankᵢ·xᵢ,
    * and `n·min(m, topK − cum_above)` to the top-K total. The two
    * cumulative sums ride ONE range-partitioned [[RangeScan]] over that
    * collapsed frame (r12 — the frame is ≤ √(2N) rows, already tiny,
    * but the discipline is uniform now: no unpartitioned window scans
    * any data-sized frame anywhere in the engine); the descending
    * cumulative is recovered as `total − ascending-inclusive`, exact.
    * All moments in DECIMAL(38,0) (`m·p` alone overflows BIGINT at
    * ~10⁹ keys); Gini via the rank identity
    * `G = (2·Σ rankᵢ·xᵢ − (K+1)·S) / (K·S)` with truncating DIV.
    * NULL keys are excluded (a NULL join key doesn't collide — it
    * drops). Empty input → zero rows, never a NULL row. */
  def skewAudit(df: org.apache.spark.sql.DataFrame, keyCol: String,
                topK: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val coc = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .groupBy("__n").agg(count(lit(1)).as("__m"))
    val scanned = RangeScan.runningAgg(coc, Seq(col("__n")), Seq(
        RangeScan.Scan(col("__m"), "__pr"),
        RangeScan.Scan(col("__m"), "__ic", includeCurrent = true)))
    // total multiplicity from the MATERIALIZED scan frame, not the raw
    // lineage — the corpus collapse runs once, in RangeScan's job
    val totM = scanned.agg(sum("__m").as("__tm"))
    scanned
      .crossJoin(broadcast(totM))
      .withColumn("__p", coalesce(col("__pr"), lit(0L)))
      .withColumn("__cp", col("__tm") - col("__ic"))
      .agg(
        sum("__m").as("__kk"),
        sum(expr("__n * __m")).as("__s"),
        sum(expr(
          """CAST(__n AS DECIMAL(38,0)) *
             (CAST(__m AS DECIMAL(38,0)) * __p +
              CAST(__m AS DECIMAL(38,0)) * (__m + 1) DIV 2)"""))
          .as("__ranksum"),
        max("__n").as("__mx"),
        sum(expr(s"__n * greatest(0L, least(__m, ${topK}L - __cp))"))
          .as("__st"))
      .where(col("__kk").isNotNull)
      .select(
        col("__kk").as("n_keys"), col("__s").as("n_rows"),
        col("__mx").as("max_n"),
        expr("CAST((CAST(__st AS DECIMAL(38,0)) * 1000000) DIV __s AS BIGINT)")
          .as("top_share_ppm"),
        expr(
          """CAST((2 * __ranksum * 1000000 -
                   (CAST(__kk AS DECIMAL(38,0)) + 1) * __s * 1000000)
                  DIV (CAST(__kk AS DECIMAL(38,0)) * __s) AS BIGINT)""")
          .as("gini_ppm"))
  }

  /** BENFORD first-digit audit: the distribution of leading significant
    * digits of a positive integral column against Benford's law — the
    * classic fabricated-data / unit-mixup / truncated-export smell test
    * for financial and count columns (organically-grown magnitudes
    * follow log₁₀(1+1/d); hand-typed, clipped, or unit-mangled ones
    * don't). All arithmetic integer: the leading digit comes from the
    * value's decimal string (engine-identical for positive BIGINTs —
    * no log10/pow float path), observed shares are `n·10⁶ DIV total`,
    * and the reference shares are the ppm-rounded Benford constants
    * (they sum to exactly 10⁶). Zero, negative, and NULL values are
    * EXCLUDED and reported via `n_excluded` on every row — Benford
    * applies to positive magnitudes, and silently dropping rows without
    * accounting is how an audit op lies.
    *
    * One partial-aggregated groupBy over 9 possible groups + a 9-row
    * literal frame join — scan-priced at any scale. Output: one row per
    * digit 1–9 (zero-count digits INCLUDED): `digit, n, obs_ppm,
    * benford_ppm, dev_ppm, n_excluded`. */
  def benfordAudit(df: org.apache.spark.sql.DataFrame,
                   valueCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    val t = df.schema(valueCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(t),
      s"benfordAudit: '$valueCol' must be integral (quantize to cents " +
        s"upstream — the exactness contract), got ${t.simpleString}")
    val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L).toDF("digit", "benford_ppm")
    val counted = df
      .select(col(valueCol).cast("long").as("__v"))
      .select(when(col("__v") > 0,
        substring(col("__v").cast("string"), 1, 1).cast("int")).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n")) // NULL group = excluded
    val tot = counted.agg(
      sum(when(col("digit").isNotNull, col("n")).otherwise(0L)).as("__tot"),
      sum(when(col("digit").isNull, col("n")).otherwise(0L)).as("__exc"))
    benford.join(counted, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        expr("CAST(CASE WHEN __tot > 0 THEN (coalesce(n, 0) * 1000000) DIV __tot ELSE 0 END AS BIGINT)")
          .as("obs_ppm"),
        col("benford_ppm"),
        expr("CAST(abs(CASE WHEN __tot > 0 THEN (coalesce(n, 0) * 1000000) DIV __tot ELSE 0 END - benford_ppm) AS BIGINT)")
          .as("dev_ppm"),
        col("__exc").as("n_excluded"))
  }

  /** DATA-CONTRACT audit: evaluate named row-level EXPECTATIONS (each a
    * pass-predicate Column) in ONE aggregate pass over the table and
    * report per-rule violation counts — the ingest gate that catches a
    * broken upstream batch (negative prices, out-of-range quantities, a
    * column gone all-NULL) before it poisons every downstream join. A
    * NULL predicate result counts as a VIOLATION (an expectation that
    * cannot be evaluated did not pass — `col > 0` on a NULL must not
    * slide through on three-valued logic). Violation ROWS are the
    * caller's `df.where(!pred)` away; this op is the cheap always-on
    * counter, one partial-aggregated pass however many rules.
    * Output: one row per rule — `rule, violations, total`, input order
    * preserved. Uniqueness is a separate op ([[expectUnique]]) — it
    * needs a groupBy, and bundling it here would smuggle a shuffle into
    * what callers budget as a scan. */
  def expectations(df: org.apache.spark.sql.DataFrame,
                   rules: Seq[(String, org.apache.spark.sql.Column)]): org.apache.spark.sql.DataFrame = {
    require(rules.nonEmpty, "expectations: need at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      s"expectations: duplicate rule names in ${rules.map(_._1)}")
    import org.apache.spark.sql.functions.{coalesce, count, explode, lit, struct, sum, when, array, col}
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__v$i")
    } :+ count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(i).as("__ord"), lit(name).as("rule"),
          coalesce(col(s"__v$i"), lit(0L)).as("violations"),
          col("__total").as("total"))
      }: _*)).as("e"))
      .select(col("e.__ord").as("__ord"), col("e.rule").as("rule"),
        col("e.violations").as("violations"), col("e.total").as("total"))
      .orderBy("__ord").drop("__ord")
  }

  /** Duplicate-key audit companion to [[expectations]]: the number of
    * ROWS carrying a key that occurs more than once (not the number of
    * distinct duplicated keys — the row count is what a dedup pass will
    * touch). NULL-keyed rows group together like any value (a duplicate
    * NULL key is still a duplicate). One partial-aggregated groupBy.
    * Output: one row — `dup_rows, dup_keys, total`. */
  def expectUnique(df: org.apache.spark.sql.DataFrame,
                   keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "expectUnique: need at least one key column")
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(sum(when(col("__n") > 1, col("__n"))), lit(0L)).as("dup_rows"),
        coalesce(sum(when(col("__n") > 1, 1L)), lit(0L)).as("dup_keys"),
        coalesce(sum(col("__n")), lit(0L)).as("total"))
  }

  /** l-DIVERSITY audit — k-anonymity's second line of defense: a
    * quasi-identifier group can be large (k-anonymous) yet reveal the
    * SENSITIVE attribute anyway when every member shares one value
    * (homogeneity attack: "all 50 rows in that cohort are 'purchase'").
    * Returns the groups whose sensitive attribute takes fewer than `l`
    * distinct values, with the group size and observed diversity.
    * NULL sensitive values do NOT count toward diversity (an absent
    * value discloses nothing and must not mask a homogeneous group) —
    * an all-NULL group reports diversity 0. One partial-aggregated
    * groupBy, same shape and scale posture as [[kAnonymityViolations]].
    * Output: quasi-id columns + `n` + `n_distinct`. */
  def lDiversityViolations(df: org.apache.spark.sql.DataFrame,
                           quasiIdCols: Seq[String], sensitiveCol: String,
                           l: Long): org.apache.spark.sql.DataFrame = {
    require(quasiIdCols.nonEmpty, "need at least one quasi-identifier column")
    require(!quasiIdCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(l >= 2, s"l must be >= 2 (l = 1 can never be violated), got $l")
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    df.groupBy(quasiIdCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_distinct"))
      .where(col("n_distinct") < l)
  }

  /** t-CLOSENESS audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    * third rung of the release-audit ladder: k-anonymity bounds cohort
    * SIZE, l-diversity bounds sensitive-value VARIETY, t-closeness
    * bounds how far a cohort's sensitive-value DISTRIBUTION sits from
    * the table-wide one (a cohort can be large and 3-diverse yet still
    * leak — "this ZIP code is 95% top-income-bracket"). Distance is the
    * ordered-attribute Earth Mover's Distance of the paper:
    * `EMD = (1/(m−1)) · Σ_i |Σ_{j≤i}(p_j − q_j)|` over the m sensitive
    * values present GLOBALLY (a value absent from the cohort contributes
    * p_j = 0 — the grid is densified, not skipped).
    *
    * All arithmetic integer-exact and engine-replayable: the prefix
    * difference is kept as the cross-multiplied
    * `|cumG_i·N − cumA_i·n_g|` (DECIMAL(38,0) products — counts at
    * 100 TB overflow a BIGINT product) and
    * `emd_ppm = 10⁶·Σ DIV (n_g·N·(m−1))` — no float division anywhere,
    * so the audit is hash-gateable bit-for-bit.
    *
    * Contract: `sensitiveCol` must be integral — EMD's ground distance
    * needs an ORDER, and the caller owns the bucketing of raw values
    * into ordinal codes (the Benford/quantile-bucket convention). NULL
    * sensitive values carry no position: they are EXCLUDED from the
    * distribution but ACCOUNTED per cohort (`n_null`) — silently
    * dropping rows is how an audit op lies. Degenerate global
    * distributions (m < 2) fail loudly: EMD over one value is 0 by
    * construction and auditing it would vacuously pass everything.
    *
    * Plan shape at scale: one partial-aggregated groupBy to
    * (cohort, value) cells, per-value global rollup broadcast back as
    * the dense m-row grid (m is bounded by the bucketing contract —
    * 10–100s, never corpus-sized), both cumulative sums from ONE
    * cohort-partitioned window over m-row frames, one final groupBy.
    * The corpus is scanned once; nothing cohort-count-sized ever sits
    * on the driver. Output: quasi cols, `n` (non-NULL cohort size),
    * `n_null`, `emd_ppm`, filtered to `emd_ppm > tPpm`. */
  def tClosenessViolations(df: org.apache.spark.sql.DataFrame,
                           quasiIdCols: Seq[String], sensitiveCol: String,
                           tPpm: Long): org.apache.spark.sql.DataFrame = {
    require(quasiIdCols.nonEmpty, "need at least one quasi-identifier column")
    require(!quasiIdCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(tPpm >= 0 && tPpm < 1000000L,
      s"tPpm must be in [0, 1e6) (ppm of total mass), got $tPpm")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val integral = df.schema(sensitiveCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(integral,
      s"sensitiveCol must be integral (ordinal codes — the caller owns the bucketing), got ${df.schema(sensitiveCol).dataType}")
    val qi = quasiIdCols.map(col)
    // (cohort, value) cells; NULL sensitive rows counted apart per cohort
    val cells = df
      .groupBy(qi :+ col(sensitiveCol).cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__g"))
    val present = cells.where(col("__v").isNotNull)
    // global per-value mass + (N, m) — one bounded m-row frame, broadcast
    val gvals = present.groupBy(col("__v")).agg(sum("__g").as("__a"))
    val tot = gvals.agg(sum("__a").as("__N"), count(lit(1)).as("__m"))
    val grid = broadcast(gvals.join(broadcast(tot), lit(true)))
    // cohort sizes + the NULL accounting in ONE rollup over the cells
    val groups = cells.groupBy(qi: _*)
      .agg(sum(when(col("__v").isNotNull, col("__g")).otherwise(0L)).as("n"),
        sum(when(col("__v").isNull, col("__g")).otherwise(0L)).as("n_null"))
      .where(col("n") > 0)
    val cellsR = present.select(
      (quasiIdCols.map(n => col(n).as(s"__q_$n")) :+
        col("__v").as("__pv") :+ col("__g")): _*)
    // densify: every cohort × every global value (absent cell ⇒ g = 0)
    val dense = groups.join(grid, lit(true))
      .join(cellsR,
        quasiIdCols.map(n => col(n) <=> col(s"__q_$n")).reduce(_ && _) &&
          col("__v") === col("__pv"), "left")
      .select((qi :+ col("n") :+ col("n_null") :+ col("__v") :+ col("__a") :+
        col("__N") :+ col("__m") :+ coalesce(col("__g"), lit(0L)).as("__gd")): _*)
    val w = Window.partitionBy(qi: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stepped = dense
      .withColumn("__cumG", sum(col("__gd")).over(w).cast("decimal(38,0)"))
      .withColumn("__cumA", sum(col("__a")).over(w).cast("decimal(38,0)"))
      .withColumn("__d", abs(col("__cumG") * col("__N").cast("decimal(38,0)") -
        col("__cumA") * col("n").cast("decimal(38,0)")))
    stepped.groupBy((qi :+ col("n") :+ col("n_null")): _*)
      .agg(first(col("__N")).as("__N"), first(col("__m")).as("__m"),
        sum(col("__d")).as("__sum"))
      .withColumn("__m_ok",
        when(col("__m") >= 2, col("__m"))
          .otherwise(raise_error(lit(
            "tCloseness: fewer than 2 distinct global sensitive values — EMD is vacuous"))))
      .withColumn("emd_ppm", expr(
        """CAST((__sum * CAST(1000000 AS DECIMAL(38,0))) DIV
                (CAST(n AS DECIMAL(38,0)) * __N *
                 CAST(__m_ok - 1 AS DECIMAL(38,0))) AS BIGINT)"""))
      .select((qi :+ col("n") :+ col("n_null") :+ col("emd_ppm")): _*)
      .where(col("emd_ppm") > tPpm)
  }

  /** Deletion sweep — the takedown/right-to-be-forgotten pass: rewrite
    * the parquet table at `src` into `dst` WITHOUT the rows whose id
    * appears in `tombstones`. The tombstone set rides a BROADCAST anti
    * join when small (the usual case — deletion requests are rare events
    * against a huge corpus; set `broadcastTombstones = false` past the
    * broadcast cap and both sides co-partition on id instead). One
    * distributed pass, no driver collection of the corpus; returns
    * (rowsBefore, rowsDeleted). `dst` must differ from `src` — plain
    * parquet has no in-place delete, and a same-path rewrite that fails
    * mid-write would destroy the source. */
  def applyTombstones(spark: SparkSession, src: String, dst: String,
                      tombstones: org.apache.spark.sql.DataFrame, idCol: String,
                      broadcastTombstones: Boolean = true): (Long, Long) = {
    // fully qualify BOTH paths through the filesystem (scheme + authority
    // + absolute path) before comparing: "file:///data/x" vs "/data/x" or
    // a relative alias must not slip past the guard — overwrite deletes
    // dst before the lazy src read runs, so an aliased pair destroys the
    // source mid-job
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): org.apache.hadoop.fs.Path = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    require(qualified(src) != qualified(dst),
      "applyTombstones must write to a NEW path — a failed in-place rewrite would destroy the source")
    import org.apache.spark.sql.functions.{broadcast, col}
    val data = spark.read.parquet(src)
    val ids = tombstones.select(col(idCol)).distinct()
    val kept = data.join(
      if (broadcastTombstones) broadcast(ids) else ids, Seq(idCol), "left_anti")
    kept.write.mode("overwrite").parquet(dst)
    val before = data.count()
    val after = spark.read.parquet(dst).count()
    (before, before - after)
  }

  /** Mergeable per-key rollup STATE — the building block of incremental
    * aggregate maintenance: `(n, sum_cents, min_cents, max_cents)` per key
    * combination. Every component is a commutative monoid, so states from
    * disjoint batches MERGE ([[mergeRollups]]) into exactly the state a
    * full recompute would build — the 100 TB daily-report pattern: keep a
    * keys-cardinality-sized state table, fold each day's delta into it,
    * and NEVER rescan history. Derived metrics (avg) live in
    * [[rollupReport]], computed at read time — storing them would break
    * mergeability.
    *
    * Values fix to cents BEFORE aggregating (`floor(v·100 + 0.5)`, the
    * half-up rule shared with [[TimeSeries]]) so sums are integer-exact
    * and engine-replayable. `n` counts ALL rows of the key; NULL values
    * are excluded from sum/min/max (SQL aggregate semantics) — an
    * all-NULL key carries NULL metric columns through the merge
    * untouched. */
  def rollupState(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                  valueCol: String): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "rollupState needs at least one key column")
    import org.apache.spark.sql.functions._
    val cents = floor(col(valueCol) * 100 + 0.5).cast("long")
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(cents).as("sum_cents"),
      min(cents).as("min_cents"),
      max(cents).as("max_cents"))
  }

  /** BIVARIATE-MOMENT state (r13) — the [[rollupState]] idea extended to
    * the second-order moments every exact-stat readout in the engine is
    * built from: per key `(n, sx, sy, sxx, syy, sxy)` in DECIMAL(38,0),
    * a COMMUTATIVE MONOID under [[mergeMomentStates]] (plain sums), so a
    * stored state plus per-batch deltas maintains CUPED, Pearson
    * correlation and OLS slopes continuously — state cost is
    * keys-cardinality, never history. Inputs are integral (the cents
    * convention — callers quantize). Same disjoint-batches contract as
    * rollupState. */
  def momentState(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                  xCol: String, yCol: String): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "momentState needs at least one key column")
    import org.apache.spark.sql.functions._
    val dec = "decimal(38,0)"
    val x = col(xCol).cast("long").cast(dec)
    val y = col(yCol).cast("long").cast(dec)
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).cast("long").as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
  }

  /** Fold moment states from disjoint batches: union + component sums —
    * every field of the state is additive, so the merge IS the monoid
    * operation (no min/max split like the rollup). */
  def mergeMomentStates(keyCols: Seq[String],
                        states: org.apache.spark.sql.DataFrame*): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "mergeMomentStates needs at least one key column")
    require(states.nonEmpty, "mergeMomentStates needs at least one state frame")
    import org.apache.spark.sql.functions._
    states.reduce(_.unionByName(_)).groupBy(keyCols.map(col): _*).agg(
      sum(col("n")).cast("long").as("n"),
      sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
      sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"),
      sum(col("sxy")).as("sxy"))
  }

  /** Read Pearson correlation off a maintained moment state — the
    * rel_correlation formula (exact sums, IEEE only at the pinned final
    * cast, 1e9 fixed point; degenerate variance reads NULL). A CUPED or
    * OLS readout composes the same way off the same six numbers. */
  def correlationFromState(state: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val varX = s"(${d("n")} * ${d("sxx")} - ${d("sx")} * ${d("sx")})"
    val varY = s"(${d("n")} * ${d("syy")} - ${d("sy")} * ${d("sy")})"
    state.select(col("*"), expr(
      s"""CASE WHEN $varX > 0 AND $varY > 0
         THEN CAST(floor(1e9 * (${d("n")} * ${d("sxy")} - ${d("sx")} * ${d("sy")})
                   / (sqrt($varX) * sqrt($varY))) AS BIGINT) END""").as("corr_e9"))
      .drop("sx", "sy", "sxx", "syy", "sxy")
  }

  /** Merge rollup states from disjoint batches into one: union + one
    * re-aggregate on the key columns (sum for n/sum, min/max for the
    * extrema). Each input is keys-cardinality-sized, so the merge cost is
    * proportional to the STATE tables, not the data that built them —
    * rerunning this daily against a stored state + a fresh delta replaces
    * a full-history scan. Batches must be disjoint ROW sets (overlapping
    * batches double-count n/sum; min/max are merge-idempotent but the
    * additive components are not — append-only-ledger semantics, same
    * contract as [[graft.pipeline.Search.appendPostingsIndex]]). */
  def mergeRollups(keyCols: Seq[String],
                   states: org.apache.spark.sql.DataFrame*): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "mergeRollups needs at least one key column")
    require(states.nonEmpty, "mergeRollups needs at least one state frame")
    import org.apache.spark.sql.functions._
    states.reduce(_.unionByName(_)).groupBy(keyCols.map(col): _*).agg(
      sum(col("n")).as("n"),
      sum(col("sum_cents")).as("sum_cents"),
      min(col("min_cents")).as("min_cents"),
      max(col("max_cents")).as("max_cents"))
  }

  /** Incremental equi-JOIN maintenance — the classic view-maintenance
    * delta rule (Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, folded here as
    * ΔA⋈(B∪ΔB) ∪ A⋈ΔB): the rows to APPEND to a stored join output
    * when batch deltas arrive, without re-running the full join — the
    * join twin of [[rollupState]]/[[mergeRollups]] (which maintain
    * aggregates the same way).
    *
    * SCALE: the stored sides are never scanned in full — each is
    * LEFT-SEMI filtered to the (broadcast) key set of the OTHER side's
    * delta before joining, so the incremental cost is proportional to
    * the delta's touched keys, not to |A|, |B|, or |A⋈B|. With stored
    * sides bucketed on the key, even the semi probe prunes to touched
    * buckets. Append-only-ledger semantics (the [[mergeRollups]]
    * contract): deltas must be new rows, not updates — retractions need
    * the CDC path ([[cdcLatest]]). `key` must be the join column's name
    * on BOTH sides (USING semantics — deduped in the output); non-key
    * column names must not collide. */
  def joinDelta(aOld: org.apache.spark.sql.DataFrame,
                bOld: org.apache.spark.sql.DataFrame,
                aDelta: org.apache.spark.sql.DataFrame,
                bDelta: org.apache.spark.sql.DataFrame,
                key: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val bTouched = bOld
      .join(broadcast(aDelta.select(col(key)).distinct()), Seq(key), "left_semi")
      .unionByName(bDelta)
    val aTouched = aOld
      .join(broadcast(bDelta.select(col(key)).distinct()), Seq(key), "left_semi")
    aDelta.join(bTouched, Seq(key))
      .unionByName(aTouched.join(bDelta, Seq(key)))
  }

  /** Referential-integrity audit: one row counting child rows whose
    * foreign key has NO parent — the data-quality gate after any ingest,
    * backfill, or partial-restore (a lost parent partition shows up here
    * as an orphan spike long before a downstream join silently drops the
    * rows). NULL foreign keys are counted SEPARATELY (`n_null_fk`): a
    * NULL never matches any parent in SQL join semantics, but "absent by
    * design" and "dangling reference" are different findings. Output:
    * `n_child, n_orphans, n_null_fk, orphan_ppm` (ppm of ALL child rows,
    * floor; 0 on an empty child).
    *
    * SCALE: the parent reduces to DISTINCT keys (id-width bytes/row)
    * before the join; the child ships only its FK column. One
    * aggregation over the left join — no second pass for totals, no
    * driver-side counting. */
  def integrityAudit(child: org.apache.spark.sql.DataFrame, fkCol: String,
                     parent: org.apache.spark.sql.DataFrame,
                     pkCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    child.select(col(fkCol).as("__fk"))
      .join(parent.select(col(pkCol).as("__fk")).distinct()
          .withColumn("__p", lit(true)),
        Seq("__fk"), "left")
      .agg(
        count(lit(1)).as("n_child"),
        coalesce(sum(when(col("__p").isNull && col("__fk").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_orphans"),
        coalesce(sum(when(col("__fk").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_null_fk"))
      .withColumn("orphan_ppm",
        expr("CASE WHEN n_child = 0 THEN 0L ELSE n_orphans * 1000000L DIV n_child END"))
  }

  /** Read-time report over a rollup state: adds `avg_cents`
    * (`sum_cents DIV n` — integral division so the report replays
    * bit-identically cross-engine; truncation == floor for the
    * non-negative money/measurement values this targets). Derived
    * metrics are computed HERE, never stored: a stored average cannot
    * merge. */
  def rollupReport(state: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.expr
    state.withColumn("avg_cents", expr("sum_cents DIV n"))
  }

  /** CDC "latest snapshot" compaction: reduce a change-data-capture /
    * append-only change log to the CURRENT row per key — the newest
    * observation by (`tsCol`, `tieCol`), with keys whose newest row
    * matches `deleteFilter` (a tombstone) DROPPED from the snapshot.
    * This is the ingestion-side twin of [[rollupState]]: a 100 TB raw
    * changelog compacts to a keys-cardinality table that downstream
    * joins read instead of replaying history.
    *
    * The latest row is found with ONE `max(struct(ts, tie, payload…))`
    * aggregate — partial-aggregates map-side, only one struct per key
    * per task crosses the shuffle; NO window sort, no per-key
    * row_number over the full log (which would ship every version of
    * every key to its reducer just to discard all but one). The struct
    * comparison is decided entirely by the leading (ts, tie) pair
    * because (`tsCol`, `tieCol`) must be unique per key — `tieCol` (a
    * sequence/event id) makes timestamp collisions deterministic; the
    * payload columns ride behind and never tip the comparison.
    *
    * Tombstone semantics: the delete must WIN the (ts, tie) race to
    * delete — a key whose delete is followed by a newer upsert is alive
    * again (standard CDC replay order). Rows with NULL ts or tie have
    * no position in the version order and are EXCLUDED (the
    * [[TimeSeries.scd2]] / asofJoin NULL-time contract).
    *
    * Output: `keyCols…, tsCol, tieCol, payload…` (every other input
    * column), one row per live key. */
  def cdcLatest(changeLog: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                tsCol: String, tieCol: String,
                deleteFilter: Option[org.apache.spark.sql.Column] = None): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "cdcLatest needs at least one key column")
    import org.apache.spark.sql.functions._
    val payload = changeLog.columns.toSeq
      .filterNot(c => keyCols.contains(c) || c == tsCol || c == tieCol)
    val fields = (tsCol +: tieCol +: payload).map(c => col(c).as(c))
    val latest = changeLog
      .where(col(tsCol).isNotNull && col(tieCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(fields: _*)).as("__m"))
      .select(keyCols.map(col) ++ (tsCol +: tieCol +: payload)
        .map(c => col(s"__m.$c").as(c)): _*)
    deleteFilter.fold(latest)(d => latest.where(!d))
  }

  /** Snapshot DIFF between two corpus versions: which ids were added,
    * removed, or changed (content hash differs) — the review gate before
    * promoting a re-crawled / re-filtered corpus version. Output:
    * `idCol, change` ('added' | 'removed' | 'changed'); unchanged ids
    * are absent.
    *
    * SCALE: each side reduces to (id, md5(content)) BEFORE the join — the
    * full-outer join ships 16-byte hashes, never document bodies, and
    * both sides hash-partition on id. md5 (not xxhash64) so the digest is
    * engine-portable and the diff is oracle hash-gated.
    *
    * NULL content is a VALUE, not absence: id-presence is tracked by its
    * own flag, and a NULL content hashes to a sentinel no real md5 can
    * collide with — so NULL→"x" reports 'changed' (not 'added'),
    * "x"→NULL reports 'changed' (not 'removed'), NULL→NULL is unchanged. */
  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private val VersionRe = "^v=([0-9]+)$".r

  /** Versions present under `tableDir` (the `v=<n>` children), ascending.
    * Includes uncommitted/in-flight versions — see [[committedVersions]]
    * for the audit-passed set. */
  def listVersions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, tableDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match { case VersionRe(n) => Some(n.toLong); case _ => None }
    }.flatten.sorted
  }

  private val CommitMarker = "_GRAFT_COMMITTED"

  /** Versions whose audit passed (the commit marker exists), ascending.
    * A version directory WITHOUT the marker is an in-flight publish or an
    * orphan from a driver that died between staging and audit — never
    * data a reader may serve. */
  def committedVersions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val (fs, _) = fsOf(spark, tableDir)
    listVersions(spark, tableDir).filter(v =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$tableDir/v=$v/$CommitMarker")))
  }

  /** WRITE-AUDIT-PUBLISH: the transactional-sink discipline for curated
    * corpora. A plain `overwrite` that fails (or succeeds with garbage —
    * an upstream join gone wrong, a filter that dropped 99% of rows)
    * destroys the only good copy; at 100 TB "re-run yesterday's job" is a
    * day of compute. Instead: (1) WRITE the batch to the next `v=<n>`
    * directory — readers of the current version are untouched; (2) AUDIT
    * the staged files by RE-READING them (what was actually persisted,
    * not the in-memory frame — a lost task or a codec bug is exactly what
    * the audit exists to catch); (3) PUBLISH by pointing `_LATEST` at the
    * new version only if the audit passes — a failed audit deletes the
    * staging directory and throws, leaving the previous version live.
    *
    * `_LATEST` is a tiny pointer file written to a temp name and renamed
    * into place; the tiny non-atomic delete+rename window on stores
    * without atomic rename-overwrite is documented — readers that race it
    * fall back to the newest `v=` listing in [[readLatest]].
    *
    * Returns the published version number. */
  def publishVersioned(df: org.apache.spark.sql.DataFrame, tableDir: String,
                       audit: org.apache.spark.sql.DataFrame => Boolean): Long = {
    val spark = df.sparkSession
    val next = listVersions(spark, tableDir).lastOption.getOrElse(0L) + 1
    val stagingDir = s"$tableDir/v=$next"
    df.write.mode("errorifexists").parquet(stagingDir)
    val ok = try audit(spark.read.parquet(stagingDir)) catch {
      case e: Throwable =>
        val (fs, _) = fsOf(spark, tableDir)
        fs.delete(new org.apache.hadoop.fs.Path(stagingDir), true)
        throw new IllegalStateException(
          s"publishVersioned: audit of v=$next threw — staging deleted, " +
            s"previous version stays live", e)
    }
    if (!ok) {
      val (fs, _) = fsOf(spark, tableDir)
      fs.delete(new org.apache.hadoop.fs.Path(stagingDir), true)
      throw new IllegalStateException(
        s"publishVersioned: audit REJECTED v=$next — staging deleted, " +
          s"previous version stays live")
    }
    val (fs, _) = fsOf(spark, tableDir)
    // commit marker FIRST: a version without it is an orphan from a died
    // driver (staged but never audited) and no read/vacuum path may ever
    // treat it as published data
    fs.create(new org.apache.hadoop.fs.Path(s"$stagingDir/$CommitMarker"), true).close()
    val tmp = new org.apache.hadoop.fs.Path(s"$tableDir/_LATEST.tmp")
    val latest = new org.apache.hadoop.fs.Path(s"$tableDir/_LATEST")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(latest, false)
    if (!fs.rename(tmp, latest)) throw new IllegalStateException(
      s"publishVersioned: could not move _LATEST pointer for v=$next")
    next
  }

  /** Read the published version: the `_LATEST` pointer if present and
    * valid, else the newest COMMITTED `v=` directory (covers the
    * pointer-swap race and pointerless tables — never an in-flight or
    * orphaned staging directory, which has no commit marker). */
  def readLatest(spark: SparkSession, tableDir: String): org.apache.spark.sql.DataFrame = {
    val (fs, _) = fsOf(spark, tableDir)
    val latest = new org.apache.hadoop.fs.Path(s"$tableDir/_LATEST")
    val pointed =
      if (!fs.exists(latest)) None
      else {
        val in = fs.open(latest)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        txt.toLongOption.filter(v =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$tableDir/v=$v")))
      }
    val v = pointed.orElse(committedVersions(spark, tableDir).lastOption).getOrElse(
      throw new IllegalArgumentException(s"readLatest: no versions under $tableDir"))
    spark.read.parquet(s"$tableDir/v=$v")
  }

  /** Drop old versions, keeping the newest `keep` COMMITTED ones.
    * Returns the versions removed. NEVER deletes: the version `_LATEST`
    * points at (after a documented rollback the pointer may sit on an
    * OLD version — reclaiming it would serve rolled-back-from data via
    * the fallback), nor any version NEWER than the newest committed one
    * (an in-flight publish's staging). Uncommitted orphans older than
    * the newest committed version ARE reclaimed — they are dead staging
    * from died drivers, not data. Old versions are what make audits
    * cheap to trust (rollback = move the pointer), but they hold bytes;
    * vacuum is the explicit, bounded reclaim step. */
  def vacuumVersions(spark: SparkSession, tableDir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, s"vacuumVersions: keep must be >= 1, got $keep")
    val (fs, _) = fsOf(spark, tableDir)
    val committed = committedVersions(spark, tableDir)
    val keepSet = committed.takeRight(keep).toSet
    val latest = new org.apache.hadoop.fs.Path(s"$tableDir/_LATEST")
    val pointed: Option[Long] =
      if (!fs.exists(latest)) None
      else {
        val in = fs.open(latest)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        txt.toLongOption
      }
    val newestCommitted = committed.lastOption.getOrElse(Long.MinValue)
    val drop = listVersions(spark, tableDir).filter { v =>
      !keepSet.contains(v) && !pointed.contains(v) && v < newestCommitted
    }
    drop.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/v=$v"), true))
    drop
  }

  def snapshotDiff(oldDf: org.apache.spark.sql.DataFrame,
                   newDf: org.apache.spark.sql.DataFrame,
                   idCol: String, contentCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // md5 output is 32 hex chars; "null" cannot collide with any digest
    def h(c: org.apache.spark.sql.Column) = coalesce(md5(c.cast("string")), lit("null"))
    val o = oldDf.select(col(idCol), h(col(contentCol)).as("__ho"), lit(true).as("__po"))
    val n = newDf.select(col(idCol), h(col(contentCol)).as("__hn"), lit(true).as("__pn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__po").isNull, lit("added"))
          .when(col("__pn").isNull, lit("removed"))
          .when(col("__ho") =!= col("__hn"), lit("changed")).as("change"))
      .where(col("change").isNotNull)
  }

  /** LEAKAGE-SAFE TEMPORAL split (r11 — the time axis the md5-bucket
    * [[graft.pipeline.TextAnalysis.groupAwareSplitBucket]] family does
    * not cover: "train on the past, evaluate on the future" is the only
    * split that measures a model the way production will use it, and a
    * random split of time-stamped data silently leaks future state into
    * training). Cutoffs are the exact R-7 percentiles of the epoch-micro
    * timestamps at `trainPct` and `trainPct + valPct` (the rel_percentiles
    * parity both engines pin), floored to a long; rows split by
    * `micros ≤ c_train → train, ≤ c_val → val, else test`, so
    * max(train ts) ≤ min(test ts) BY CONSTRUCTION — the leakage guard is
    * structural, not audited after the fact.
    *
    * Output: input rows + `split` column. NULL timestamps are refused
    * loudly (a row that cannot be placed on the time axis must not
    * silently land in any split).
    *
    * Plan shape: one holistic percentile aggregate (two cutoffs from one
    * pass) broadcast as a 1-row frame, then a pure map — the corpus is
    * read twice and shuffled never. */
  def temporalSplit(df: org.apache.spark.sql.DataFrame, tsCol: String,
                    trainPct: Int = 80, valPct: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(trainPct >= 1 && valPct >= 0 && trainPct + valPct <= 99,
      s"need 1 <= trainPct, 0 <= valPct, trainPct + valPct <= 99; got $trainPct/$valPct")
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val mc = coalesce(micros, expr(
      s"raise_error('temporalSplit: NULL $tsCol — rows must be placeable on the time axis')"))
    val p1 = trainPct / 100.0
    val p2 = (trainPct + valPct) / 100.0
    val cuts = df.agg(
      expr(s"CAST(floor(percentile(unix_micros(CAST($tsCol AS TIMESTAMP)), $p1)) AS BIGINT)").as("__c1"),
      expr(s"CAST(floor(percentile(unix_micros(CAST($tsCol AS TIMESTAMP)), $p2)) AS BIGINT)").as("__c2"))
    df.crossJoin(broadcast(cuts))
      .withColumn("split",
        when(mc <= col("__c1"), lit("train"))
          .when(mc <= col("__c2"), lit("val"))
          .otherwise(lit("test")))
      .drop("__c1", "__c2")
  }
}
