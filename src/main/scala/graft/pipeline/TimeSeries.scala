package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Calendar-bucket resampling over an event stream: the
  * per-(key, day) rollup, the gap-filled daily spine (missing days
  * materialize as explicit zero rows — the shape every downstream
  * rolling/forecast/monitoring computation needs), and rolling-window
  * metrics over the filled spine.
  *
  * EXACTNESS: event values are fixed to cents BEFORE summing
  * (`floor(v·100 + 0.5)` — the engine-portable half-up rule used across
  * the relational family), so sums are integer-exact and oracle-gated;
  * day bucketing truncates the session-UTC timestamp to a calendar date,
  * identical to a SQL `CAST(ts AS DATE)`.
  *
  * SCALE: the rollup is one groupBy (shuffled by (key, day)); the spine
  * is a per-key min/max aggregate exploded through `sequence()` — output-
  * proportional, no driver loop, no cross join against a global calendar
  * (a key active for a week costs 7 rows regardless of corpus span). The
  * gap-fill join hits two frames both hash-partitioned on (key, day).
  * Rolling metrics ride a window PARTITIONED BY KEY — bounded per-key
  * state, and the gap-filled spine makes `ROWS BETWEEN n PRECEDING`
  * exactly an n+1-day calendar window (no RANGE frame needed). */
object TimeSeries {

  /** Per-(key, day) rollup with the gaps filled: every calendar day in
    * [min(day), max(day)] OF EACH KEY gets a row — `n_events` and
    * `value_cents` are 0 on days the key was silent. Output:
    * `keyCol, day, n_events, value_cents`. */
  def resampleGapFill(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String,
                      maxSpanDays: Int = 36500): DataFrame = {
    require(maxSpanDays >= 1, s"maxSpanDays must be >= 1, got $maxSpanDays")
    val day = to_date(col(tsCol))
    val rollup = events.groupBy(col(keyCol), day.as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("value_cents"))
    // span guard INSIDE the consumed column (prune-safe): one corrupt
    // timestamp (epoch-0 default, year 9999) would silently explode the
    // key's spine to millions of rows and every downstream window with
    // it — fail loudly naming the key instead; the default tolerates a
    // century per key, tighten per deployment
    val spine = events.groupBy(col(keyCol))
      .agg(min(day).as("__d0"), max(day).as("__d1"))
      .select(col(keyCol), explode(sequence(col("__d0"),
        when(datediff(col("__d1"), col("__d0")) <= maxSpanDays, col("__d1"))
          .otherwise(raise_error(concat(
            lit(s"resampleGapFill: key spine exceeds $maxSpanDays days ("),
            col(keyCol).cast("string"), lit(": "), col("__d0").cast("string"),
            lit(" .. "), col("__d1").cast("string"),
            lit(") — corrupt timestamp? raise maxSpanDays to override")))))
      ).as("day"))
    spine.join(rollup, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("value_cents"), lit(0L)).as("value_cents"))
  }

  /** Trailing `nDays`-day rolling totals over the gap-filled spine:
    * because [[resampleGapFill]] materializes every day, a ROWS frame of
    * `nDays - 1` preceding rows IS the calendar window — no RANGE frame,
    * no per-row interval arithmetic. Output adds `roll_events,
    * roll_cents`. The window partitions by key: per-key bounded state,
    * no global sort. */
  def rollingDaily(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, nDays: Int): DataFrame = {
    require(nDays >= 1, s"nDays must be >= 1, got $nDays")
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(-(nDays - 1), Window.currentRow)
    resampleGapFill(events, keyCol, tsCol, valueCol)
      .withColumn("roll_events", sum(col("n_events")).over(w))
      .withColumn("roll_cents", sum(col("value_cents")).over(w))
  }

  /** Forward-fill (last-observation-carried-forward) over the gap-filled
    * spine: silent days carry the value of the key's most recent OBSERVED
    * day instead of zero — the imputation a sensor/price/balance series
    * wants (a meter that went quiet did not read zero; it reads "what it
    * last read"). Observed days keep their own rollup value. The spine
    * starts at each key's FIRST observed day, so the fill is total — no
    * leading-NULL edge exists by construction.
    *
    * Same plan shape as [[rollingDaily]]: one key-partitioned window over
    * the spine (`last(..., ignoreNulls)` over an unbounded-preceding ROWS
    * frame — per-key bounded state, no self-join, no global sort).
    * Output: the [[resampleGapFill]] columns + `ffill_cents`. */
  def forwardFill(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    resampleGapFill(events, keyCol, tsCol, valueCol)
      .withColumn("ffill_cents",
        last(when(col("n_events") > 0, col("value_cents")), ignoreNulls = true).over(w))
  }

  /** Daily anomaly flags: a day is anomalous when its value deviates from
    * the TRAILING `nDays`-day baseline (the window ENDING the PREVIOUS
    * day — the tested day never contaminates its own baseline) by more
    * than `k` population standard deviations.
    *
    * The z-score test runs in INTEGER arithmetic with both sides
    * cross-multiplied — no sqrt, no float, oracle-replayable exactly:
    *
    *   (v·n − Σ)² · n  >  k² · (n·Σ² − (Σ)²) · n   reduces to
    *   (v·n − Σ)²      >  k² · (n·sumsq − sum²)
    *
    * (v in cents; n = baseline days actually present; a day with no full
    * baseline — fewer than nDays prior spine days — is never flagged).
    * Zero-variance baselines flag ANY deviation (the inequality is
    * strict, so an exactly-on-baseline day stays quiet). Magnitude note:
    * the cross-multiplied test SQUARES cents and multiplies by n·k² —
    * that wraps 2^63 around ~$1M/day (not the naive cents×n estimate),
    * a routine merchant volume, so the whole test runs in DECIMAL(38,0):
    * exact to ~1e17 cents/day, far past any real key.
    *
    * Output: the gap-filled spine + `base_days, base_sum, is_anomaly`.
    * Same plan shape as [[rollingDaily]]: one key-partitioned window over
    * the spine, no self-join. */
  def anomalies(events: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, nDays: Int, k: Int = 3): DataFrame = {
    require(nDays >= 2, s"a baseline needs nDays >= 2, got $nDays")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(-nDays, -1) // trailing window EXCLUDING the tested day
    val dec = "decimal(38,0)"
    resampleGapFill(events, keyCol, tsCol, valueCol)
      .withColumn("base_days", count(lit(1)).over(w))
      .withColumn("__bsum",
        coalesce(sum(col("value_cents").cast(dec)).over(w), lit(0L).cast(dec)))
      .withColumn("__sumsq",
        coalesce(sum(col("value_cents").cast(dec) * col("value_cents")).over(w),
          lit(0L).cast(dec)))
      .withColumn("base_sum", col("__bsum").cast("long"))
      .withColumn("is_anomaly",
        col("base_days") === nDays && {
          val dev = col("value_cents").cast(dec) * col("base_days") - col("__bsum")
          val varN2 = col("base_days") * col("__sumsq") - col("__bsum") * col("__bsum")
          dev * dev > lit(k.toLong * k) * varN2
        })
      .drop("__sumsq", "__bsum")
  }

  /** Rolling PERCENTILE over the gap-filled daily spine, EXACT (R-7):
    * the trailing `nDays`-window median/p-quantile of daily cents for
    * every day of each key's span — the robust rolling baseline a
    * rolling MEAN can't give (one spike day owns a mean; the median
    * shrugs). Holistic stats don't decompose over frames either, so
    * the same CONTRIBUTION EXPLODE as [[rollingDistinct]] applies:
    * each spine day feeds its ≤ `nDays` windows and the exact
    * percentile runs per (key, window) over ≤ `nDays` values — bounded
    * state however long the series, never a per-window rescan. Windows
    * trim to the key's span; the ramp-up windows hold fewer values,
    * exactly as the real metric does. Silent days contribute their
    * explicit ZEROS (the spine contract — a quiet day genuinely drags
    * the median). Output: `keyCol, win_day, p_value` (DOUBLE — R-7
    * interpolates; quantize at the call site for hashing). */
  def rollingPercentileDaily(events: DataFrame, keyCol: String,
                             tsCol: String, valueCol: String, nDays: Int,
                             p: Double = 0.5): DataFrame = {
    require(nDays >= 1 && nDays <= 370,
      s"nDays must be in [1, 370], got $nDays")
    require(p >= 0 && p <= 1, s"p must be in [0, 1], got $p")
    import org.apache.spark.sql.functions.broadcast
    val spine = resampleGapFill(events, keyCol, tsCol, valueCol)
    val bounds = spine.groupBy(col(keyCol))
      .agg(max("day").as("__d1"))
    spine.select(col(keyCol), col("value_cents"),
        explode(sequence(col("day"), date_add(col("day"), nDays - 1)))
          .as("win_day"))
      .join(broadcast(bounds), Seq(keyCol))
      .where(col("win_day") <= col("__d1"))
      .groupBy(col(keyCol), col("win_day"))
      .agg(expr(s"percentile(value_cents, $p)").as("p_value"))
  }

  /** Rolling DISTINCT actives (the WAU/DAU family), EXACT: for every
    * calendar day in each key's span, the count of distinct `idCol`
    * values seen in the trailing `nDays`-day window ending that day. A
    * windowed `count(DISTINCT)` doesn't exist in SQL engines because
    * distinctness doesn't decompose over frames — this op linearizes it
    * by CONTRIBUTION EXPLODE instead: each distinct (key, day, id)
    * fact feeds the ≤ `nDays` windows it can appear in, so cost is
    * `facts × nDays`, never a per-window rescan, and the count is exact
    * (no HLL error bar on a headline metric). The daily-distinct
    * pre-collapse runs FIRST — a chatty id costs one row per active
    * day, not one per event.
    *
    * Windows are trimmed to each key's observed [min, max] day (the
    * [[resampleGapFill]] spine rule: no phantom windows past the data,
    * and the trailing window ramps up over the first nDays−1 days
    * exactly as the real metric does). Plan: one distinct shuffle, the
    * explode, one partial-aggregated distinct count per (key, window);
    * the bounds frame is key-cardinality-sized and broadcast.
    * Output: `keyCol, win_day, n_distinct`. */
  def rollingDistinct(events: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, nDays: Int): DataFrame = {
    require(nDays >= 1 && nDays <= 370,
      s"nDays must be in [1, 370], got $nDays")
    import org.apache.spark.sql.functions.broadcast
    val day = to_date(col(tsCol))
    val dd = events
      .where(col(tsCol).isNotNull && col(idCol).isNotNull)
      .select(col(keyCol), day.as("__day"), col(idCol).as("__id"))
      .distinct()
    val bounds = dd.groupBy(col(keyCol))
      .agg(min("__day").as("__d0"), max("__day").as("__d1"))
    dd.select(col(keyCol), col("__id"),
        explode(sequence(col("__day"), date_add(col("__day"), nDays - 1)))
          .as("win_day"))
      .join(broadcast(bounds), Seq(keyCol))
      .where(col("win_day") >= col("__d0") && col("win_day") <= col("__d1"))
      .groupBy(col(keyCol), col("win_day"))
      .agg(countDistinct(col("__id")).as("n_distinct"))
  }

  /** Per-key OLS TREND: the least-squares slope of daily value (cents)
    * against the calendar day, fit over the gap-filled spine (a silent
    * day IS zero revenue — fitting observed days only would bias every
    * sparse key upward). All five moments (n, Σx, Σy, Σxy, Σx²)
    * accumulate EXACTLY in DECIMAL(38,0) — x is the absolute epoch day:
    * the OLS slope is translation-invariant in x, so no per-key
    * first-day window/join is needed and the whole fit is the spine +
    * ONE partial-aggregated groupBy. IEEE double appears only in the
    * final num/den division, with the cast at one pinned point so the
    * oracle replays it bit-for-bit (the `rel_correlation` rule).
    *
    * Output: `keyCol, n_days, slope_ppm` — slope in millionths of a
    * cent per day, half-up. Keys with a single spine day have no slope
    * and are excluded. The magnitude bound is generous: moments run in
    * decimal, and `num`/`den` (translation-invariant) stay within 2^53
    * for any key under ~$10M/day across a century, so the final double
    * division is exact-input. */
  def trend(events: DataFrame, keyCol: String, tsCol: String,
            valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val xy = resampleGapFill(events, keyCol, tsCol, valueCol)
      .select(col(keyCol),
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast(dec).as("__x"),
        col("value_cents").cast(dec).as("__y"))
    val m = xy.groupBy(col(keyCol))
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .where(col("__n") >= 2)
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    m.select(col(keyCol), col("__n").cast("long").as("n_days"),
      floor(num.cast("double") / den.cast("double") * 1e6 + 0.5)
        .cast("long").as("slope_ppm"))
  }

  /** Per-key CHANGEPOINT: the spine day that best splits the series into
    * a before/after mean shift, located by the CUSUM statistic
    * `D_k = |n·S_k − k·S_n|` (S_k = running cents sum, S_n = the key's
    * total) — the integer-exact numerator of the classic mean-shift
    * likelihood ratio, so the argmax replays exactly in any engine: no
    * variance estimate, no sqrt, no float. Ties break to the EARLIEST
    * day (first time the evidence peaks). The split day is the LAST day
    * of the left segment; k ranges over 1..n−1, so single-day keys drop
    * out and the maximum is over real splits only.
    *
    * Plan shape: the spine, two windows (running / whole-partition) on
    * ONE key-partitioned exchange, then the argmax groupBy on the same
    * key — bounded per-key state, no self-join. D fits BIGINT for any
    * key under ~$40M·days² of volume; the windows run in DECIMAL(38,0)
    * so the bound is on the OUTPUT cast only (loud in ANSI, monotone
    * everywhere else).
    *
    * Output: `keyCol, change_day, n_days, score` (score = max D). */
  def changepoint(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val wRun = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
    val scored = resampleGapFill(events, keyCol, tsCol, valueCol)
      .withColumn("__k", count(lit(1)).over(wRun).cast(dec))
      .withColumn("__sk", sum(col("value_cents").cast(dec)).over(wRun))
      .withColumn("__n", count(lit(1)).over(wAll).cast(dec))
      .withColumn("__sn", sum(col("value_cents").cast(dec)).over(wAll))
      .where(col("__k") < col("__n"))
      .withColumn("__d", abs(col("__n") * col("__sk") - col("__k") * col("__sn")))
    scored.groupBy(col(keyCol))
      .agg(min(struct((-col("__d")).as("negd"), col("day").as("d"))).as("__best"),
        first(col("__n")).cast("long").as("n_days"))
      .select(col(keyCol), col("__best.d").as("change_day"), col("n_days"),
        (-col("__best.negd")).cast("long").as("score"))
  }

  /** Slowly-changing-dimension type-2 interval builder: turn a per-key
    * CHANGE LOG (one row per observation, ordered by `tsCol` with
    * `tieCol` breaking timestamp collisions) into validity intervals —
    * one row per RUN of identical tracked values, with
    * `valid_from` = the run's first observation and `valid_to` = the
    * next run's start (NULL = current). Consecutive observations that
    * repeat the previous value COLLAPSE into the run (the SCD2 no-op-
    * update rule); a value that flips away and back later starts a NEW
    * interval (history is intervals, not a distinct-values list). Value
    * comparison is NULL-SAFE (`<=>`): NULL → NULL is a no-op, NULL ↔
    * value is a change. Rows with a NULL timestamp or tie-breaker carry
    * no position in the ordering and are EXCLUDED (the asofJoin
    * NULL-time contract). (`tieCol`, e.g. an event/sequence id, makes
    * same-timestamp runs deterministic — required, not optional,
    * because a change log WILL collide timestamps at scale.)
    *
    * Output: `keyCol, valueCols…, valid_from, valid_to, tieCol` (the
    * tie-breaker of the run's first row — kept so downstream ordering
    * and the oracle stay deterministic under `valid_from` collisions).
    *
    * Plan shape: ONE exchange. Both windows (the lag change-detection
    * and the lead valid_to) partition by key and order by (ts, tie), so
    * the second window reuses the first's partitioning AND sort — the
    * filter between them preserves both; no self-join, per-key bounded
    * state. At 100 TB the change log shuffles once on the dimension
    * key, exactly like the as-of join. */
  /** Per-key integer EWMA (exponential smoothing) over the gap-filled
    * daily spine: `e_1 = y_1; e_t = (num·y_t + (den−num)·e_{t−1}) DIV den`
    * with α = num/den — the trend-following baseline that discounts old
    * days geometrically where [[rollingDaily]] weights a hard window
    * uniformly. The recurrence runs in INTEGER floor-division so every
    * step replays bit-for-bit in any engine (a float EWMA drifts a ulp
    * per day and can never be hash-gated); silent days smooth toward
    * ZERO (the spine contract — a quiet day is real signal, not a gap
    * to interpolate over).
    *
    * A floor recurrence is inherently SEQUENTIAL per key (no closed
    * form survives the per-step floor), so the series is packed per key
    * (one `collect_list` groupBy — per-key state is the whole spine)
    * and the recurrence runs inside [[graft.functions.EwmaSeries]], a
    * single O(n) pass per key — a pure map, no driver loop, no window
    * chain. (r8: this replaced an `aggregate`+`array_append` lambda
    * whose accumulator copied the whole array per step — O(n²) element
    * copies, 23.6 s at the 10-year SCALE_PROBE worst case; value-
    * identical since JVM Long division truncates toward zero exactly
    * like `DIV`.) Span is capped by `maxSpanDays` (default ~10 years ⇒
    * ≤ 3 700 longs/key — CALENDAR-bounded), and the guard fails LOUDLY
    * on a corrupt timestamp.
    * Negative daily totals (refund/correction days) flow through:
    * Spark `DIV` and DuckDB `//` both TRUNCATE toward zero, so the
    * recurrence replays exactly on either sign (spec-pinned with a
    * non-divisible negative step).
    * Magnitude: num·cents ≤ 1e6 · 9e12 fits BIGINT to ~$90B/key/day.
    *
    * Output: `keyCol, day, value_cents, ewma_cents` — one row per spine
    * day. Plan: the spine's two shuffles + ONE groupBy(key), then pure
    * map + explode. */
  def ewma(events: DataFrame, keyCol: String, tsCol: String,
           valueCol: String, alphaNum: Long = 1L, alphaDen: Long = 4L,
           maxSpanDays: Int = 3700): DataFrame = {
    require(alphaDen >= 2 && alphaDen <= 1000000L,
      s"alphaDen must be in [2, 1e6], got $alphaDen")
    require(alphaNum >= 1 && alphaNum < alphaDen,
      s"alphaNum must be in [1, alphaDen), got $alphaNum/$alphaDen")
    val packed = resampleGapFill(events, keyCol, tsCol, valueCol, maxSpanDays)
      .select(col(keyCol), struct(col("day"), col("value_cents")).as("__x"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(col("__x"))).as("__s"))
    val ewmas = {
      import org.apache.spark.sql.graftshim.{GraftShim => E}
      E.column(graft.functions.EwmaSeries(
        E.expression(expr("transform(__s, x -> x.value_cents)")),
        alphaNum, alphaDen))
    }
    packed
      .withColumn("__e", ewmas)
      .select(col(keyCol),
        explode(expr(
          "zip_with(__s, __e, (s, e) -> struct(s.day AS day, s.value_cents AS value_cents, e AS ewma_cents))"))
          .as("__r"))
      .select(col(keyCol), col("__r.day").as("day"),
        col("__r.value_cents").as("value_cents"),
        col("__r.ewma_cents").as("ewma_cents"))
  }

  /** The survival family's event indicator, VALIDATED in the consumed
    * column (the pageRank weight-guard style): values must be exactly
    * 0/1 (booleans cast; so do 0L/1L of any integral width) — any other
    * encoding (2, -1, NULL) raise_errors instead of silently counting
    * as censored, which would skew the curve with no signal. */
  private def eventFlag(eventCol: String, op: String): org.apache.spark.sql.Column = {
    // validate through a VALUE-PRESERVING cast (double), not the long
    // cast: a DOUBLE 0.9 (a churn probability mis-wired as the flag)
    // truncates to 0 under cast("long") and would silently count as
    // censored — exactly the failure this guard exists to make loud.
    // Booleans cast to exactly 1.0/0.0; integral 0/1 of any width are
    // exact in double far beyond any flag's range.
    val ev = col(eventCol).cast("double")
    when(ev === 1.0, 1L).when(ev === 0.0, 0L)
      .otherwise(raise_error(concat(
        lit(s"$op: eventCol must be 0 (censored) or 1 (event), got "),
        coalesce(col(eventCol).cast("string"), lit("NULL")))))
  }

  /** KAPLAN-MEIER survival curve (Kaplan & Meier, JASA 1958) with
    * right-censoring, in INTEGER log-space — retention/churn's
    * statistically honest form: naive "x% still active after t days"
    * curves silently treat still-active users as churned-at-end; KM
    * removes censored subjects from the risk set without counting them
    * as events.
    *
    * Instead of the float product Π(1 − dᵢ/nᵢ) (whose engine-order
    * float error would break hash gates), the curve is carried as the
    * NEGATIVE LOG survival in the lg64 fixed-point grade:
    * `neg_log64_surv(t) = Σ_{s≤t, d_s>0} (lg64(n_s) − lg64(n_s−d_s))`
    * — integer, monotone, bit-replayable; `S(t) ≈ 2^(−neg/64)`. Once
    * the risk set dies out entirely (n = d), survival is exactly 0 and
    * the column reads NULL from that point on (log of zero; pinned by
    * spec).
    *
    * Input: one row per SUBJECT — `durationCol` (integral time units),
    * `eventCol` (1 = event/churn observed, 0 = right-censored at that
    * duration). Plan: subjects collapse to per-duration
    * (events, censored) counts — the distinct-duration frame, bounded
    * the ksTest way (durations are calendar-bounded) — then two
    * cumulative windows over that collapse; the subject total rides in
    * as a broadcast one-row cross. Output per distinct duration:
    * `t, n_at_risk, n_events, n_censored, neg_log64_surv`. */
  def kaplanMeier(subjects: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def lg(x: String) = graft.functions.Lg64.sql(x)
    val s = subjects.where(col(durationCol).isNotNull)
      .withColumn("__ev", eventFlag(eventCol, "kaplanMeier"))
    val c = s.groupBy(col(durationCol).cast("long").as("t"))
      .agg(sum(col("__ev")).as("n_events"),
        sum(lit(1L) - col("__ev")).as("n_censored"))
    val tot = s.agg(count(lit(1)).as("__tot"))
    // two range-partitioned prefix scans (the distinct-duration frame is
    // calendar-bounded, but the RangeScan discipline costs nothing and the
    // bound no longer rests on that assumption): pass 1 yields the at-risk
    // counts, pass 2 folds the survival terms computed FROM pass 1
    val atRisk = RangeScan.runningAgg(
        c.crossJoin(broadcast(tot)), Seq(col("t")), Seq(
          RangeScan.Scan(col("n_events") + col("n_censored"), "__pre")))
      .withColumn("n_at_risk", col("__tot") - coalesce(col("__pre"), lit(0L)))
      .withColumn("__term", when(col("n_events") === 0, 0L).otherwise(
        expr(s"${lg("n_at_risk")} - ${lg("n_at_risk - n_events")}")))
    RangeScan.runningAgg(atRisk, Seq(col("t")), Seq(
        RangeScan.Scan(when(col("n_at_risk") === col("n_events"), 1L)
          .otherwise(0L), "__gone", isMax = true, includeCurrent = true),
        RangeScan.Scan(col("__term"), "__cum", includeCurrent = true)))
      .withColumn("neg_log64_surv",
        when(col("__gone") === 1L, lit(null).cast("long"))
          .otherwise(col("__cum")))
      .select(col("t"), col("n_at_risk"), col("n_events"), col("n_censored"),
        col("neg_log64_surv"))
  }

  /** LOG-RANK observed-vs-expected churn comparison (Mantel 1966) — the
    * A/B companion to [[kaplanMeier]]: at every pooled event time, each
    * cohort's EXPECTED events under "no difference" is the pooled event
    * count split by at-risk share, `e_g(t) = d(t)·n_g(t) DIV n(t)` in
    * ppm; a cohort whose observed events run persistently above its
    * expectation churns faster — the comparison naive "cohort A churned
    * x%, B y%" gets wrong whenever censoring differs between arms.
    * Integer throughout (the expectation is the standard log-rank
    * numerator term, scaled 10⁶ and floor-divided — the variance/p-value
    * denominator needs floats and is deliberately NOT emitted; the O−E
    * DIRECTION and magnitude are the replayable readout). Output per
    * group: `groupCol, n_subjects, o_events, e_events_ppm,
    * o_minus_e_ppm` (o·10⁶ − e_ppm).
    *
    * Plan: per-(group, duration) collapse, densified to the pooled
    * distinct-duration × group grid (groups bounded by definition —
    * arms of an experiment), one per-group cumulative window for the
    * at-risk counts, pooled totals re-aggregated from the same grid —
    * the kaplanMeier scale discipline with a tiny group factor. */
  def logRank(subjects: DataFrame, durationCol: String, eventCol: String,
              groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = subjects.where(col(durationCol).isNotNull && col(groupCol).isNotNull)
      .withColumn("__ev", eventFlag(eventCol, "logRank"))
    val c = s.groupBy(col(groupCol).as("__g"),
        col(durationCol).cast("long").as("t"))
      .agg(sum(col("__ev")).as("__d"),
        sum(lit(1L) - col("__ev")).as("__c"))
    val grid = c.select(col("t")).distinct()
      .crossJoin(broadcast(c.select(col("__g")).distinct()))
      .join(c, Seq("t", "__g"), "left")
      .na.fill(0L, Seq("__d", "__c"))
    val totg = s.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__ng"))
    // keyed RangeScan (r13): a per-GROUP cumulative window over the
    // pooled distinct-duration grid is still one reducer PER ARM — with
    // 2 arms over 10⁷ raw durations that is the single-reducer regime
    // the r12 rewrite removed from the unkeyed rank stats. Groups are
    // bounded by definition (experiment arms), the exact shape the keyed
    // scan's broadcast-offset contract wants.
    val atRisk = Materialize.cutLazy(RangeScan.runningAgg(
        grid.join(broadcast(totg), Seq("__g")),
        Seq(col("t")),
        Seq(RangeScan.Scan(col("__d") + col("__c"), "__pre")),
        partitionBy = Seq("__g"))
      .withColumn("__nat", col("__ng") - coalesce(col("__pre"), lit(0L)))
      .drop("__pre"))
    val pooled = atRisk.groupBy("t")
      .agg(sum(col("__d")).as("__dt"), sum(col("__nat")).as("__nt"))
    atRisk.join(pooled, Seq("t"))
      .withColumn("__e", when(col("__nt") > 0 && col("__dt") > 0,
        expr("""CAST((CAST(__dt AS DECIMAL(38,0)) * __nat * 1000000)
                DIV __nt AS BIGINT)""")).otherwise(0L))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__ng")).as("n_subjects"),
        sum(col("__d")).as("o_events"),
        sum(col("__e")).as("e_events_ppm"))
      .withColumn("o_minus_e_ppm",
        col("o_events") * 1000000L - col("e_events_ppm"))
  }

  /** ROLLING-ORIGIN forecast backtest: does the EWMA actually beat
    * persistence? Every spine day t ≥ 2 is an evaluation point — the
    * one-step-ahead EWMA forecast is yesterday's level `e_{t−1}`, the
    * naive forecast is yesterday's value `v_{t−1}`, and both absolute
    * errors accumulate per key. The honest-forecasting gate every
    * "we smooth it" dashboard skips: a series whose smoother loses to
    * persistence (`beats_naive = 0`) is telling you the smoothing adds
    * lag, not signal. All integer cents, same floor recurrence as
    * [[ewma]] (bit-replayable); sums are per-key and calendar-capped
    * like the spine itself. One lag window over the already
    * key-partitioned EWMA frame + one rollup. Output:
    * `keyCol, n_evals, err_ewma_cents, err_naive_cents, beats_naive`. */
  def forecastBacktest(events: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, alphaNum: Long = 1L,
                       alphaDen: Long = 4L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy("day")
    ewma(events, keyCol, tsCol, valueCol, alphaNum, alphaDen)
      .withColumn("__pe", lag(col("ewma_cents"), 1).over(w))
      .withColumn("__pn", lag(col("value_cents"), 1).over(w))
      .where(col("__pe").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_evals"),
        sum(abs(col("value_cents") - col("__pe"))).as("err_ewma_cents"),
        sum(abs(col("value_cents") - col("__pn"))).as("err_naive_cents"))
      .withColumn("beats_naive",
        when(col("err_ewma_cents") < col("err_naive_cents"), 1L).otherwise(0L))
  }

  /** SPLIT-CONFORMAL forecast band (Vovk et al. '05; Lei et al. JASA'18
    * lineage) over the [[forecastBacktest]] residuals — the error bar
    * every point forecast in the family (ewma/holt/holtWinters/croston)
    * ships without: the calibration set is the key's one-step-ahead
    * EWMA absolute residuals |y_t − e_{t−1}|, and the band half-width
    * is their CONFORMAL QUANTILE — the ⌈(n+1)(1−α)⌉-th smallest
    * residual, an ORDER STATISTIC the data contains (the theilSen
    * lower-median convention generalized to any rank; no two-middle
    * interpolation, no float quantile — the band hash-gates). Keys
    * whose calibration set is too small for the level (rank > n) read
    * a NULL band, never a fake interval: at α = 10% you need ≥ 9
    * residuals before any finite band is honest. Coverage ≥ 1−α holds
    * under exchangeability of residuals — time series bend that
    * assumption (the standard conformal-forecasting caveat, documented
    * not hidden); the one-step EWMA residual stream is the closest
    * exchangeable proxy the spine offers.
    *
    * Rank arithmetic exact: `q_rank = ((n+1)·(10⁶−alphaPpm) + 10⁶−1)
    * DIV 10⁶` (integer ceiling, cross-multiplied — no float α).
    *
    * Plan: the EWMA spine frame is already key-partitioned; the residual
    * rank window, the count rollup, and the last-level pick all reuse
    * that one exchange. Output per key: `keyCol, n_cal, q_rank,
    * q_cents, forecast_cents, lo_cents, hi_cents`. */
  def conformalBand(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, alphaPpm: Long = 100000L,
                    alphaNum: Long = 1L, alphaDen: Long = 4L): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm <= 999999,
      s"alphaPpm must be in [1, 999999], got $alphaPpm")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy("day")
    val ew = Materialize.cutLazy(
      ewma(events, keyCol, tsCol, valueCol, alphaNum, alphaDen)
        .withColumn("__pe", lag(col("ewma_cents"), 1).over(w))
        .withColumn("__rnd",
          row_number().over(Window.partitionBy(keyCol).orderBy(col("day").desc))))
    val resid = ew.where(col("__pe").isNotNull)
      .select(col(keyCol), abs(col("value_cents") - col("__pe")).as("__r"),
        col("day"))
    val ranked = resid.withColumn("__rank",
      row_number().over(Window.partitionBy(keyCol).orderBy(col("__r"), col("day"))).cast("long"))
    val counts = resid.groupBy(keyCol)
      .agg(count(lit(1)).as("n_cal"))
      .withColumn("q_rank",
        expr(s"((n_cal + 1) * ${1000000L - alphaPpm} + 999999) DIV 1000000"))
    // the conformal pick: exactly the rank-q residual (a key whose rank
    // exceeds its calibration size simply has no row here — the NULL
    // band falls out of the left join below)
    val q = counts.join(ranked, Seq(keyCol))
      .where(col("__rank") === col("q_rank"))
      .select(col(keyCol), col("__r").as("q_cents"))
    val last = ew.where(col("__rnd") === 1)
      .select(col(keyCol), col("ewma_cents").as("forecast_cents"))
    val joined = last.join(counts.select(col(keyCol), col("n_cal"), col("q_rank")),
        Seq(keyCol), "left")
      .join(q.select(col(keyCol), col("q_cents")), Seq(keyCol), "left")
    joined.select(col(keyCol),
      coalesce(col("n_cal"), lit(0L)).as("n_cal"),
      col("q_rank"),
      when(col("q_rank") <= col("n_cal"), col("q_cents")).as("q_cents"),
      col("forecast_cents"),
      when(col("q_rank") <= col("n_cal"),
        col("forecast_cents") - col("q_cents")).as("lo_cents"),
      when(col("q_rank") <= col("n_cal"),
        col("forecast_cents") + col("q_cents")).as("hi_cents"))
  }

  /** HOLT LINEAR TREND (double exponential smoothing) + h-step
    * forecast, integer fixed-point: per key over the gap-filled spine,
    *
    *   l_1 = y_1,  b_1 = 0
    *   l_t = (αn·y_t + (αd−αn)·(l_{t−1} + b_{t−1})) DIV αd
    *   b_t = (βn·(l_t − l_{t−1}) + (βd−βn)·b_{t−1}) DIV βd
    *   forecast(h) = l_n + h·b_n
    *
    * — the level/trend decomposition a plain [[ewma]] can't give (an
    * EWMA of a steadily growing series lags forever; Holt's trend term
    * closes the gap), and the standard cheap what's-next baseline for
    * capacity planning and anomaly thresholds. Same contracts as
    * [[ewma]]: truncating division replays exactly in any engine
    * (including negative refund days — DIV ≡ DuckDB `//`), silent days
    * are real zeros, the recurrence is inherently sequential per key so
    * the series packs per key (array_sort shields partitioning) and
    * runs as ONE aggregate lambda over a struct-of-arrays accumulator;
    * span is CALENDAR-capped. Output: one row per key —
    * `keyCol, n_days, level_cents, trend_cents, forecast_cents`
    * (forecast at `horizon` days past the key's last spine day). */
  def holt(events: DataFrame, keyCol: String, tsCol: String,
           valueCol: String, alphaNum: Long = 1L, alphaDen: Long = 4L,
           betaNum: Long = 1L, betaDen: Long = 8L, horizon: Int = 7,
           maxSpanDays: Int = 3700): DataFrame = {
    Seq(("alpha", alphaNum, alphaDen), ("beta", betaNum, betaDen)).foreach {
      case (nm, n, d) =>
        require(d >= 2 && d <= 1000000L, s"${nm}Den must be in [2, 1e6], got $d")
        require(n >= 1 && n < d, s"${nm}Num must be in [1, ${nm}Den), got $n/$d")
    }
    require(horizon >= 0 && horizon <= 3700,
      s"horizon must be in [0, 3700], got $horizon")
    val packed = resampleGapFill(events, keyCol, tsCol, valueCol, maxSpanDays)
      .select(col(keyCol), struct(col("day"), col("value_cents")).as("__x"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(col("__x"))).as("__s"))
    val aKeep = alphaDen - alphaNum
    val bKeep = betaDen - betaNum
    // accumulator: (l, b, n) — scalars only, O(1) per step
    val state = expr(
      s"""aggregate(__s,
            CAST(NULL AS STRUCT<l: BIGINT, b: BIGINT, n: BIGINT>),
            (acc, x) -> CASE WHEN acc IS NULL
              THEN struct(x.value_cents AS l, CAST(0 AS BIGINT) AS b,
                          CAST(1 AS BIGINT) AS n)
              ELSE named_struct(
                'l', ($alphaNum * x.value_cents + $aKeep * (acc.l + acc.b)) DIV $alphaDen,
                'b', ($betaNum * ((($alphaNum * x.value_cents + $aKeep * (acc.l + acc.b)) DIV $alphaDen) - acc.l)
                      + $bKeep * acc.b) DIV $betaDen,
                'n', acc.n + 1)
            END)""")
    packed.withColumn("__st", state)
      .select(col(keyCol), col("__st.n").as("n_days"),
        col("__st.l").as("level_cents"), col("__st.b").as("trend_cents"),
        (col("__st.l") + lit(horizon.toLong) * col("__st.b")).as("forecast_cents"))
  }

  /** HOLT-WINTERS additive seasonal smoothing (triple exponential) +
    * h-step forecast, integer fixed-point — the seasonal completion of
    * the [[ewma]] → [[holt]] ladder: [[holt]]'s forecast of a weekly-
    * rhythmed series splits the difference between weekday and weekend;
    * the seasonal term carries each cycle position's own offset. Per
    * key over the gap-filled spine, with cycle position
    * `pos(t) = (t−1) mod period` and all-zero initial seasonals:
    *
    *   l_1 = y_1,  b_1 = 0,  s = [0,…,0]
    *   l_t = (αn·(y_t − s[pos]) + (αd−αn)·(l_{t−1} + b_{t−1})) DIV αd
    *   b_t = (βn·(l_t − l_{t−1}) + (βd−βn)·b_{t−1}) DIV βd
    *   s[pos] ← (γn·(y_t − l_t) + (γd−γn)·s[pos]) DIV γd
    *   forecast(h) = l_n + h·b_n + s[(n+h−1) mod period]
    *
    * The zero-seasonal init (rather than a first-cycle average) keeps
    * the recurrence uniform from t = 2 — one branch, engine-replayable;
    * the seasonal terms absorb the cycle shape over the first few
    * periods exactly as the level absorbs y under [[ewma]]'s own cold
    * start. Same contracts as [[holt]]: truncating DIV replays exactly
    * in any engine (negative refund days included), silent days are
    * real zeros, the recurrence is inherently sequential per key so the
    * series packs per key (array_sort shields partitioning) and runs as
    * ONE aggregate lambda; the accumulator is (l, b, n, s[period]) —
    * the per-step `transform` copies only the PERIOD-sized seasonal
    * array (bounded by the 366 cap, NOT by the series length — the
    * EWMA O(n²) lesson does not recur here). Span is CALENDAR-capped.
    *
    * Output: one row per key — `keyCol, n_days, level_cents,
    * trend_cents, season_cents (the seasonal applied at the horizon),
    * forecast_cents`. */
  def holtWinters(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, alphaNum: Long = 1L, alphaDen: Long = 4L,
                  betaNum: Long = 1L, betaDen: Long = 8L,
                  gammaNum: Long = 1L, gammaDen: Long = 4L,
                  period: Int = 7, horizon: Int = 7,
                  maxSpanDays: Int = 3700): DataFrame = {
    Seq(("alpha", alphaNum, alphaDen), ("beta", betaNum, betaDen),
      ("gamma", gammaNum, gammaDen)).foreach { case (nm, n, d) =>
      require(d >= 2 && d <= 1000000L, s"${nm}Den must be in [2, 1e6], got $d")
      require(n >= 1 && n < d, s"${nm}Num must be in [1, ${nm}Den), got $n/$d")
    }
    require(period >= 2 && period <= 366,
      s"period must be in [2, 366] (a 1-cycle is just holt), got $period")
    require(horizon >= 0 && horizon <= 3700,
      s"horizon must be in [0, 3700], got $horizon")
    val packed = resampleGapFill(events, keyCol, tsCol, valueCol, maxSpanDays)
      .select(col(keyCol), struct(col("day"), col("value_cents")).as("__x"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(col("__x"))).as("__s"))
    val (aK, bK, gK) = (alphaDen - alphaNum, betaDen - betaNum, gammaDen - gammaNum)
    val p = period
    val sPrev = s"element_at(acc.s, CAST(acc.n % $p AS INT) + 1)"
    val l2 = s"(($alphaNum * (x.value_cents - $sPrev) + $aK * (acc.l + acc.b)) DIV $alphaDen)"
    val b2 = s"(($betaNum * ($l2 - acc.l) + $bK * acc.b) DIV $betaDen)"
    val sNew = s"(($gammaNum * (x.value_cents - $l2) + $gK * $sPrev) DIV $gammaDen)"
    val state = expr(
      s"""aggregate(__s,
            CAST(NULL AS STRUCT<l: BIGINT, b: BIGINT, n: BIGINT, s: ARRAY<BIGINT>>),
            (acc, x) -> CASE WHEN acc IS NULL
              THEN named_struct('l', x.value_cents, 'b', CAST(0 AS BIGINT),
                                'n', CAST(1 AS BIGINT),
                                's', array_repeat(CAST(0 AS BIGINT), $p))
              ELSE named_struct(
                'l', $l2, 'b', $b2, 'n', acc.n + 1,
                's', transform(acc.s,
                       (v, i) -> IF(i = CAST(acc.n % $p AS INT), $sNew, v)))
            END)""")
    packed.withColumn("__st", state)
      .withColumn("__season", expr(
        s"element_at(__st.s, CAST((__st.n + ${horizon.toLong} - 1) % $p AS INT) + 1)"))
      .select(col(keyCol), col("__st.n").as("n_days"),
        col("__st.l").as("level_cents"), col("__st.b").as("trend_cents"),
        col("__season").as("season_cents"),
        (col("__st.l") + lit(horizon.toLong) * col("__st.b") + col("__season"))
          .as("forecast_cents"))
  }

  /** Gaps-and-islands interval UNION per key: merge a key's possibly-
    * overlapping half-open intervals `[start, end)` into maximal
    * contiguous ISLANDS — the coverage question every uptime / activity-
    * span / SLA computation reduces to ("how long was the user actually
    * active, counting overlap once?"). Touching intervals
    * (`end == next start`) MERGE: half-open adjacency is contiguous
    * coverage. Distinct from gap-based sessionization (points + idle
    * gap); inputs here are genuine intervals, and overlap — not
    * proximity — is the merge rule.
    *
    * The classic one-pass recipe: order each key's intervals by
    * (start, end); an interval OPENS a new island iff its start exceeds
    * the running max of all previous ends; the running count of opens is
    * the island id. Both windows share one (key)-partitioned exchange
    * (same partitioning AND sort); the island rollup then aggregates
    * partial-map-side. Per-key state is bounded by the window frame —
    * no self-join, no interval explosion.
    *
    * Contracts: start/end must be integral (seconds/millis — the
    * rangeJoin convention); `end < start` fails LOUDLY inside the
    * consumed column (a negative-length interval is corrupt data, and
    * silently clamping it would undercount coverage); NULL start/end
    * rows carry no position and are EXCLUDED (the asofJoin NULL-time
    * contract).
    *
    * Output: `keyCol, island_start, island_end, n_intervals,
    * covered` (= island_end − island_start, in the input's time unit). */
  def intervalIslands(iv: DataFrame, keyCol: String, startCol: String,
                      endCol: String): DataFrame = {
    Seq(startCol -> "start", endCol -> "end").foreach { case (c, role) =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val t = iv.schema(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
        s"intervalIslands: $role column '$c' must be integral " +
          s"(epoch seconds/millis), got ${t.simpleString}")
    }
    val s = col(startCol).cast("long")
    val e0 = col(endCol).cast("long")
    val e = when(e0 >= s, e0).otherwise(raise_error(concat(
      lit("intervalIslands: end < start for key "), col(keyCol).cast("string"),
      lit(" ("), s.cast("string"), lit(" .. "), e0.cast("string"), lit(")"))))
    val wPrev = Window.partitionBy(keyCol).orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(keyCol).orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.where(col(startCol).isNotNull && col(endCol).isNotNull)
      .select(col(keyCol), s.as("__s"), e.as("__e"))
      .withColumn("__open",
        when(col("__s") > coalesce(max(col("__e")).over(wPrev), lit(Long.MinValue)),
          1L).otherwise(0L))
      // first row per key: NULL running-max coalesces to MinValue, but a
      // MinValue start would compare false — force the first row open
      .withColumn("__open",
        when(max(col("__e")).over(wPrev).isNull, lit(1L)).otherwise(col("__open")))
      .withColumn("__isl", sum(col("__open")).over(wRun))
      .groupBy(col(keyCol), col("__isl"))
      .agg(min(col("__s")).as("island_start"), max(col("__e")).as("island_end"),
        count(lit(1)).as("n_intervals"))
      .select(col(keyCol), col("island_start"), col("island_end"),
        col("n_intervals"),
        (col("island_end") - col("island_start")).as("covered"))
  }

  /** AUTOCORRELATION function (ACF) over the gap-filled daily spine:
    * per (key, lag ∈ 1..maxLag), the Pearson correlation of
    * (value_t, value_{t−lag}) — the periodicity detector ("is this
    * series weekly?" reads as a peak at lag 7, and the lag-1
    * coefficient is the stickiness/burstiness readout). Silent days
    * are real zeros (the spine contract — an observed-days-only ACF
    * invents correlations across gaps). Moments accumulate EXACTLY in
    * DECIMAL(38,0) with IEEE double only in the final expression at
    * pinned cast points (the rel_correlation rule — a float running
    * corr drifts with merge order and can never be hash-gated);
    * degenerate pairs (either side variance 0, or fewer than 3 pairs)
    * yield NULL, never a fake coefficient.
    *
    * Plan: the spine materialized once (both join sides read it), the
    * lag explode (`spine × maxLag` skinny rows), ONE equi join on
    * (key, day − lag), one partial-aggregated moment groupBy — no
    * window, no per-lag pass. Output: `keyCol, lag, n_pairs, r_ppm`. */
  def autocorrelation(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, maxLag: Int = 14): DataFrame = {
    require(maxLag >= 1 && maxLag <= 370,
      s"maxLag must be in [1, 370], got $maxLag")
    val dec = "decimal(38,0)"
    val spine = Materialize.cutLazy(
      resampleGapFill(events, keyCol, tsCol, valueCol)
        .select(col(keyCol), col("day"), col("value_cents")))
    val a = spine
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .select(col(keyCol), col("lag"),
        date_sub(col("day"), col("lag")).as("__md"),
        col("value_cents").cast(dec).as("__y"))
    val b = spine.select(col(keyCol), col("day").as("__md"),
      col("value_cents").cast(dec).as("__x"))
    // moments multiply in DECIMAL(38,0) (the assortativity pattern) — a
    // LongType product would wrap silently past |value_cents| ~3e9
    a.join(b, Seq(keyCol, "__md"))
      .groupBy(col(keyCol), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__x")).as("sx"),
        sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"))
      .select(col(keyCol), col("lag"), col("n_pairs"),
        expr("""CASE WHEN n_pairs < 3
                  OR n_pairs * sxx - sx * sx = 0
                  OR n_pairs * syy - sy * sy = 0 THEN NULL
                ELSE CAST(floor(1e6 *
                  (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                   sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) + 0.5) AS BIGINT)
                END""").as("r_ppm"))
  }

  /** WEEKDAY-ADJUSTED residuals: each spine day's cents minus the key's
    * own same-weekday integer mean (`Σ DIV n` over the key's spine days
    * sharing that ISO weekday) — the deseasonalization step that stops
    * every Sunday from tripping a flat-baseline anomaly rule and every
    * Black-Friday-class weekday spike from hiding inside a weekly
    * rhythm. Silent days are real zeros in both the mean and the
    * residual (the spine contract). The mean is truncating-integral
    * (engine-portable per the ewma rule), computed as windowed sums
    * over a (key, dow) partition — ONE exchange, no self-join, and the
    * window frame is the key's ≤ span/7 same-weekday days.
    * Output: `keyCol, day, dow, value_cents, dow_mean_cents,
    * residual_cents`. */
  def dowAdjusted(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col("dow"))
    resampleGapFill(events, keyCol, tsCol, valueCol)
      .withColumn("dow", weekday(col("day")) + 1)
      .withColumn("__dsum", sum(col("value_cents")).over(w))
      .withColumn("__dcnt", count(lit(1)).over(w))
      .withColumn("dow_mean_cents", expr("__dsum DIV __dcnt"))
      .select(col(keyCol), col("day"), col("dow"), col("value_cents"),
        col("dow_mean_cents"),
        (col("value_cents") - col("dow_mean_cents")).as("residual_cents"))
  }

  /** Day-of-week seasonality profile: per (key, ISO weekday 1=Mon..7=Sun)
    * event count, cents total, and the day's SHARE of the key's events in
    * integer ppm (`n·10⁶ DIV total` — exact, replayable) — the weekly
    * rhythm readout that separates "traffic dropped" from "it's Sunday".
    * One partial-aggregated groupBy; the share denominators ride a
    * key-partitioned window over the already-collapsed ≤7-rows-per-key
    * frame (never the raw events). Output: `keyCol, dow, n_events,
    * value_cents, share_ppm`. */
  def dowProfile(events: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String): DataFrame = {
    val byDow = events.where(col(tsCol).isNotNull)
      .groupBy(col(keyCol), (weekday(col(tsCol)) + 1).as("dow"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("value_cents"))
    byDow
      .withColumn("__tot", sum(col("n_events")).over(Window.partitionBy(keyCol)))
      .withColumn("share_ppm", expr("CAST((n_events * 1000000) DIV __tot AS BIGINT)"))
      .select(col(keyCol), col("dow"), col("n_events"), col("value_cents"),
        col("share_ppm"))
  }

  def scd2(log: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "scd2: valueCols must be non-empty")
    val reserved = Set(keyCol, tsCol, tieCol)
    require(valueCols.forall(!reserved.contains(_)),
      s"scd2: valueCols must not repeat key/ts/tie columns, got $valueCols")
    // internal + output names, loudly (the groupAwareSplitBucket rule):
    // a value column literally named __chg would otherwise be silently
    // replaced by the change flag and every run would read 'true'
    Seq("__first", "__chg", "valid_from", "valid_to").foreach(c =>
      require(!valueCols.contains(c) && c != keyCol,
        s"scd2: column name '$c' is reserved"))
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val changed = valueCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val runs = log
      .where(col(tsCol).isNotNull && col(tieCol).isNotNull)
      .withColumn("__first", lag(col(tieCol), 1).over(w).isNull)
      .withColumn("__chg", col("__first") || changed)
      .where(col("__chg"))
    runs
      .select((col(keyCol) +: valueCols.map(col) :+
        col(tsCol).as("valid_from") :+
        lead(col(tsCol), 1).over(w).as("valid_to") :+ col(tieCol)): _*)
  }

  /** INCREMENTAL [[scd2]] maintenance (r13 — the verdict's "dimension
    * tables are THE canonical continuously-maintained state"): folds a
    * micro-batch of change-log rows into the STORED SCD2 table without
    * rescanning history — the [[Maintenance.rollupState]]/
    * [[Dedup.appendGroups]] `foreachBatch` lifecycle applied to validity
    * intervals. After any number of batches the state is IDENTICAL to
    * `scd2(all rows so far)` (spec-pinned, including a current interval
    * closing across batches and a same-value run collapsing across
    * batches).
    *
    * Merge rule: each key has exactly ONE open interval (scd2 never
    * closes the last run). The batch's affected keys reconstitute their
    * open interval as a log row (ts = valid_from), union the batch's
    * rows, and re-run [[scd2]] on that batch-sized mini-log; closed
    * intervals and unaffected keys pass through untouched.
    *
    * IN-ORDER contract, guarded LOUDLY: a batch row at or before its
    * key's open `valid_from` cannot be merged — history before that
    * point was already COLLAPSED to change points, and the original
    * observations between two change points are gone (a late row
    * splitting a closed run needs the full-log recompute). The guard is
    * an in-column `raise_error` (prune-safe), so late data fails the
    * batch by name instead of silently corrupting intervals. Rows at
    * the SAME ts as the open interval must arrive in that interval's
    * original batch (the tie column orders within a ts).
    *
    * Plan shape: the stored state sees one broadcast semi/anti join on
    * the batch's keys (scan-priced; a production sink would rewrite only
    * the affected key partitions); everything else is batch-sized. */
  def scd2Merge(state: DataFrame, batch: DataFrame, keyCol: String,
                tsCol: String, tieCol: String,
                valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "scd2Merge: valueCols must be non-empty")
    val b = batch.where(col(tsCol).isNotNull && col(tieCol).isNotNull)
    val bKeys = b.select(col(keyCol)).distinct()
    val open = state.where(col("valid_to").isNull)
      .join(broadcast(bKeys), Seq(keyCol), "left_semi")
    // open interval back to a log row: ts = valid_from
    val openAsLog = open.select(
      (col(keyCol) +: valueCols.map(col) :+
        col("valid_from").as(tsCol) :+ col(tieCol)): _*)
    val openVf = open.select(col(keyCol), col("valid_from").as("__ovf"))
    val guarded = b.join(broadcast(openVf), Seq(keyCol), "left")
      .withColumn(tsCol,
        when(col("__ovf").isNull || col(tsCol) > col("__ovf"), col(tsCol))
          .otherwise(raise_error(concat(lit(
            "scd2Merge: batch row at or before the open interval for key "),
            col(keyCol).cast("string"),
            lit(" — late data needs the full-log recompute")))))
      .select((col(keyCol) +: valueCols.map(col) :+ col(tsCol) :+ col(tieCol)): _*)
    val recomputed = scd2(openAsLog.unionByName(guarded),
      keyCol, tsCol, tieCol, valueCols)
    state.where(col("valid_to").isNotNull)
      .unionByName(state.where(col("valid_to").isNull)
        .join(broadcast(bKeys), Seq(keyCol), "left_anti"))
      .unionByName(recomputed)
  }

  /** CLASSICAL additive seasonal decomposition (the moving-average
    * decomposition behind every "decompose()" call; Kendall & Stuart's
    * ratio-to-moving-average, additive form) over the gap-filled daily
    * spine: `value = trend + seasonal + residual`, all integer cents —
    * the "is Monday really bigger, net of growth" readout that completes
    * the smoothing ladder (EWMA → Holt → Holt-Winters track/forecast;
    * this one EXPLAINS):
    *
    *   trend_t    = centered `period`-day moving average (integer DIV;
    *                defined only where the window is FULL — the first
    *                and last period/2 days read NULL, never a fake)
    *   seasonal_p = Σ detrended over phase p  DIV  n_p, then grand-mean
    *                centered (Σ over the period's indices DIV period
    *                subtracted) so seasonals sum ≈ 0 per key
    *   residual_t = value − trend − seasonal  (interior days only)
    *
    * EVEN periods (12 = monthly, 24 = hourly — the two most common
    * cycles after weekly; r13 closes the r11/r12 verdicts' documented
    * odd-only refusal) use the classic CENTERED 2×MA: the average of
    * the two adjacent period-MAs, i.e. a (period+1)-row window with the
    * endpoints half-weighted. Integer-exact as
    * `(2·Σ_{−h..h} − x_{−h} − x_{+h}) DIV (2·period)` with h =
    * period/2 — one windowed sum plus a lag and a lead on the SAME
    * key-partitioned exchange, defined only where all period+1 rows
    * exist (edges NULL, one row wider per side than the odd case).
    * Phase = epoch-day mod period —
    * anchored to the calendar, not to each key's first day, so two keys'
    * Mondays share a phase. Silent days are REAL ZEROS in all three
    * components (the resampleGapFill contract — observed-only
    * decomposition inflates the seasonal of sparse keys).
    *
    * Plan shape at scale: the spine's one exchange feeds the key-
    * partitioned MA window; phase means are one partial-aggregated
    * groupBy of the interior frame joined back on (key, phase) —
    * key×period rows, bounded. Keys shorter than one full period get
    * NULL trend everywhere ⇒ no interior ⇒ no seasonal rows ⇒ NULL
    * seasonal/residual after the left join — too short to decompose,
    * never a fabricated cycle. */
  def seasonalDecompose(events: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, period: Int = 7,
                        maxSpanDays: Int = 3700): DataFrame = {
    require(period >= 2 && period <= 365,
      s"period must be in [2, 365], got $period")
    import org.apache.spark.sql.expressions.Window
    val h = period / 2
    val spine = resampleGapFill(events, keyCol, tsCol, valueCol, maxSpanDays)
      .withColumn("__phase", expr(s"datediff(day, DATE '1970-01-01') % $period"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(-h, h)
    val part = s"PARTITION BY $keyCol ORDER BY day"
    val trendExpr =
      if (period % 2 == 1)
        // odd: plain centered MA over period rows
        when(count(lit(1)).over(w) === period,
          expr(s"(sum(value_cents) OVER ($part " +
            s"ROWS BETWEEN $h PRECEDING AND $h FOLLOWING)) DIV $period"))
      else
        // even: centered 2×MA — (period+1)-row window, endpoints
        // half-weighted; numerator doubled so it stays integer-exact
        when(count(lit(1)).over(w) === period + 1,
          expr(s"(2 * (sum(value_cents) OVER ($part " +
            s"ROWS BETWEEN $h PRECEDING AND $h FOLLOWING)) " +
            s"- lag(value_cents, $h) OVER ($part) " +
            s"- lead(value_cents, $h) OVER ($part)) DIV ${2 * period}"))
    // the trended spine is read THREE times (phase means, grand mean,
    // final join) — cut it once or Catalyst re-expands the whole
    // gap-fill + MA window per reader (the CC self-join discipline)
    val withTrend = Materialize.cutLazy(spine.withColumn("trend_cents", trendExpr))
    val interior = withTrend.where(col("trend_cents").isNotNull)
      .select(col(keyCol), col("__phase"),
        (col("value_cents") - col("trend_cents")).as("__det"))
    // key×period rows, read twice (seasonal + grand) — cut
    val phaseMeans = Materialize.cutLazy(interior.groupBy(col(keyCol), col("__phase"))
      .agg(sum(col("__det")).as("__s"), count(lit(1)).as("__n"))
      .select(col(keyCol), col("__phase"), expr("__s DIV __n").as("__raw")))
    val grand = phaseMeans.groupBy(col(keyCol))
      .agg(expr(s"sum(__raw) DIV $period").as("__g"))
    val seasonal = phaseMeans.join(grand, Seq(keyCol))
      .select(col(keyCol), col("__phase"),
        (col("__raw") - col("__g")).as("seasonal_cents"))
    withTrend.join(seasonal, Seq(keyCol, "__phase"), "left")
      .select(col(keyCol), col("day"), col("value_cents"), col("trend_cents"),
        when(col("trend_cents").isNotNull, col("seasonal_cents"))
          .as("seasonal_cents"),
        (col("value_cents") - col("trend_cents") - col("seasonal_cents"))
          .as("residual_cents"))
  }

  /** Per-key one-sided CUSUM drift DETECTOR (Page, Biometrika '54): the
    * monitoring twin of [[changepoint]] — where changepoint locates the
    * single best retrospective split, CUSUM answers the control-chart
    * question "on which day did sustained upward drift from the
    * baseline first become undeniable, and how often since?".
    *
    * Over the gap-filled daily spine, the first `baselineDays` days of
    * each key fix the reference level μ = baseline mean; the detector
    * then tracks `S_t = max(0, S_{t−1} + (x_t − μ − slack))` and raises
    * an alarm on every day with `S_t > threshold`. The max-recurrence
    * has an exact PREFIX-SUM closed form — with `d_t = x_t − μ − slack`
    * and `P_t = Σ_{j≤t} d_j`, `S_t = P_t − min_{0≤j≤t} P_j` — so the
    * whole detector is two windows on one key-partitioned exchange, no
    * sequential per-key pass, and replays exactly in any engine.
    *
    * EXACTNESS: μ is a rational (baseSum / baselineDays), so everything
    * is scaled by `baselineDays` instead of divided: the detector runs
    * on `d'_t = b·x_t − baseSum − b·slack` (integers end-to-end) and
    * alarms on `S'_t > b·threshold` — identical decisions, zero
    * rounding. The reported `max_cusum_cents` is `maxS' DIV b`
    * (truncating division, the ts_ewma replay pattern). Windows run in
    * DECIMAL(38,0) (the changepoint discipline) so intermediate sums
    * cannot overflow; the bound lands on the output cast only.
    *
    * Keys whose spine is not LONGER than the baseline drop out (no
    * post-baseline day to monitor) — same contract as changepoint's
    * single-day keys. Baseline days themselves are never alarm days.
    *
    * Output: `keyCol, n_days, n_alarms, first_alarm_day (NULL = never),
    * max_cusum_cents`.
    *
    * Plan shape: the spine's two shuffles, then THREE window passes on
    * ONE (key → day) exchange (row_number + whole-partition baseline
    * sum, running prefix, running min — Catalyst collapses the
    * compatible frames), then the per-key argmax groupBy on the same
    * key. Per-key state is bounded by `maxSpanDays`; no self-join. */
  def cusum(events: DataFrame, keyCol: String, tsCol: String,
            valueCol: String, baselineDays: Int, slackCents: Long,
            thresholdCents: Long, maxSpanDays: Int = 36500): DataFrame =
    cusumOnSpine(resampleGapFill(events, keyCol, tsCol, valueCol, maxSpanDays),
      keyCol, "day", "value_cents", baselineDays, slackCents, thresholdCents)

  /** [[cusum]]'s detector core over a PRE-BUILT daily frame (one row per
    * (key, day), integer values) — the seam that lets the detector run
    * on DERIVED series: deseasonalized residuals ([[dowAdjusted]] /
    * [[seasonalDecompose]]), rolling deltas, any spine-shaped signal —
    * instead of only raw event rollups. Same closed form, same
    * integer-exact scaling, same output contract as [[cusum]]. */
  def cusumOnSpine(spineDf: DataFrame, keyCol: String, dayCol: String,
                   valueCol: String, baselineDays: Int, slackCents: Long,
                   thresholdCents: Long): DataFrame = {
    require(baselineDays >= 1, s"baselineDays must be >= 1, got $baselineDays")
    require(slackCents >= 0, s"slackCents must be >= 0, got $slackCents")
    require(thresholdCents >= 0, s"thresholdCents must be >= 0, got $thresholdCents")
    val dec = "decimal(38,0)"
    val b = lit(baselineDays).cast(dec)
    // windows resolve against the post-rename frame (dayCol → "day")
    val wOrd = Window.partitionBy(keyCol).orderBy("day")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
    val scored = spineDf
      .select(col(keyCol), col(dayCol).as("day"),
        col(valueCol).cast("long").as("value_cents"))
      .withColumn("__i", row_number().over(wOrd))
      .withColumn("__nd", count(lit(1)).over(wAll))
      .withColumn("__b0",
        sum(when(col("__i") <= baselineDays, col("value_cents"))
          .otherwise(0L).cast(dec)).over(wAll))
      // baseline rows contribute d = 0, which also plants the P_0 = 0
      // floor the closed form needs (min over j includes the start)
      .withColumn("__d",
        when(col("__i") > baselineDays,
          b * col("value_cents").cast(dec) - col("__b0")
            - b * lit(slackCents).cast(dec))
          .otherwise(lit(0).cast(dec)))
      .withColumn("__p", sum(col("__d")).over(wRun))
      .withColumn("__s", col("__p") - min(col("__p")).over(wRun))
      .where(col("__nd") > baselineDays && col("__i") > baselineDays)
      .withColumn("__alarm",
        col("__s") > b * lit(thresholdCents).cast(dec))
    scored.groupBy(col(keyCol))
      .agg(first(col("__nd")).cast("long").as("n_days"),
        sum(when(col("__alarm"), 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("__alarm"), col("day"))).as("first_alarm_day"),
        max(col("__s")).as("__maxs"))
      .select(col(keyCol), col("n_days"), col("n_alarms"),
        col("first_alarm_day"),
        expr(s"CAST(__maxs DIV $baselineDays AS BIGINT)").as("max_cusum_cents"))
  }

  /** Per-key Theil–Sen ROBUST trend (Theil '50 / Sen JASA '68): the
    * median of all pairwise slopes over the gap-filled daily spine —
    * the outlier-proof twin of [[trend]]'s OLS (one wild day moves an
    * OLS slope arbitrarily; it moves the pairwise-slope MEDIAN by at
    * most one rank). Slopes are integer ppm-per-day,
    * `((y_j − y_i)·10⁶) DIV (x_j − x_i)` (truncating division — Spark
    * DIV and DuckDB `//` agree on both signs, the ts_ewma pattern), and
    * the median is the LOWER median (rank `(m+1) DIV 2` of m pairs,
    * ordered by slope value) — a value the data actually contains,
    * deterministic without interpolating between two middles.
    *
    * COST: pairs are quadratic in span — a key spanning n days costs
    * n·(n−1)/2 rows. That is the algorithm, not an accident, so the
    * span cap DEFAULTS LOW (1100 days ≈ 3 years ⇒ ≤ ~604k pairs/key);
    * raising `maxSpanDays` is an explicit opt-in to the quadratic.
    *
    * Output: `keyCol, n_days, n_pairs, slope_ppm_day`.
    *
    * Plan shape: the spine materializes once and self-joins on the KEY
    * (both sides hash-partitioned on the same key — one exchange each,
    * co-located pair generation, never a cartesian); the rank pick is
    * one window + filter on the same key partitioning; per-key state
    * bounded by the span cap. */
  def theilSen(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, maxSpanDays: Int = 1100): DataFrame = {
    val spine = Materialize.cutLazy(
      resampleGapFill(events, keyCol, tsCol, valueCol, maxSpanDays)
        .withColumn("__n", count(lit(1))
          .over(Window.partitionBy(keyCol)))
        .select(col(keyCol), col("__n"),
          datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long").as("__x"),
          col("value_cents").as("__y")))
    val a = spine.select(col(keyCol), col("__n"),
      col("__x").as("__xa"), col("__y").as("__ya"))
    val bb = spine.select(col(keyCol),
      col("__x").as("__xb"), col("__y").as("__yb"))
    val pairs = a.join(bb, Seq(keyCol)).where(col("__xb") > col("__xa"))
      .select(col(keyCol), col("__n"),
        expr("((__yb - __ya) * 1000000L) DIV (__xb - __xa)").as("__slope"))
    val wAll = Window.partitionBy(keyCol)
    val wOrd = Window.partitionBy(keyCol).orderBy(col("__slope"))
    pairs
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__rn", row_number().over(wOrd))
      .where(expr("__rn = (__m + 1) DIV 2"))
      .select(col(keyCol), col("__n").cast("long").as("n_days"),
        col("__m").as("n_pairs"), col("__slope").as("slope_ppm_day"))
  }

  /** Per-key MANN–KENDALL trend TEST (Mann '45 / Kendall '75 — the
    * nonparametric SIGNIFICANCE companion of [[theilSen]]: Theil–Sen
    * answers "how steep", this answers "is there a monotone trend at
    * all", immune to the distributional assumptions [[trend]]'s OLS
    * carries). Over the gap-filled daily spine:
    *
    *  - `S = Σ_{i<j} sgn(y_j − y_i)` — exact integer;
    *  - `var18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)` — 18·Var(S) with
    *    the standard tie correction, exact integers (gap-filled zero
    *    days form a tie group like any other value);
    *  - `z_milli = ⌊(S − sgn(S))·1000 / √(var18/18)⌋` — the continuity-
    *    corrected normal grade; the √ is the house single-IEEE-op
    *    allowance, everything else integer. NULL when var18 = 0 (all
    *    days tied — no evidence either way); |z_milli| ≥ 1960 is the
    *    conventional 5% two-sided call, left to the reader.
    *
    * COST: the same deliberate quadratic as [[theilSen]] (S is a pairwise
    * sum), so the span cap defaults LOW and raising `maxSpanDays` is the
    * explicit opt-in. Output: `keyCol, n_days, s_stat, var18, z_milli`.
    *
    * Plan shape: spine materializes once; the sign sum rides the same
    * key-co-partitioned self-join as theilSen (one exchange per side,
    * partial-aggregated); the tie term is one (key, value) groupBy off
    * the SAME spine materialization. No window over pairs at all. */
  /** BOT / AUTOMATION screen over an event stream (r11 — the behavioral
    * complement of the content-side quality battery: scraped-then-
    * resubmitted or synthetic traffic poisons training data exactly like
    * boilerplate text does): per user, event count and the EXACT median
    * inter-event gap; the flag fires when a user is BOTH high-volume and
    * metronomic (`n_events ≥ minEvents AND median gap < maxMedianGapMs`).
    *
    * Exactness: gaps are integer milliseconds off consecutive timestamps
    * ordered by the timestamp alone — equal timestamps contribute the
    * same gap multiset under any stable order, so no tie-break column is
    * needed; the median is the exact R-7 percentile whose ×2 value is
    * integral on integer gaps (the rel_mad convention —
    * `median_gap_ms_x2` ships as the exact long).
    *
    * Output: `userCol, n_events, median_gap_ms_x2, is_bot` (users with a
    * single event have no gaps → NULL median, never flagged).
    *
    * Plan shape: one user-partitioned lag window + one groupBy(user) —
    * both ride the same key exchange; per-user state is that user's own
    * gap list inside the percentile aggregate (holistic, but bounded by
    * one user's events — the per-GROUP regime the quantile sketch exists
    * to avoid is the global one). */
  /** CROSTON's method for INTERMITTENT demand (Croston, Oper. Res. Q.
    * '72): the forecasting ladder's missing rung for series that are
    * mostly ZERO — spare parts, long-tail SKUs, rare event types — where
    * EWMA/Holt over the raw series chase the zeros to a useless
    * near-zero level and spike after every demand. Croston smooths the
    * two processes separately: ẑ = EWMA of the NONZERO demand sizes,
    * p̂ = EWMA of the inter-demand intervals, demand rate = ẑ/p̂ per
    * period.
    *
    * Integer-exact: daily cents buckets (nonzero = a demand), both
    * EWMAs ride the [[graft.functions.EwmaSeries]] recurrence (trunc
    * division — replays in any engine), intervals scaled ×1000 before
    * smoothing so single-day gaps keep precision, the rate in
    * cents/day ×10³ via one trailing DIV. Keys with a single demand
    * have no interval → p̂ and the rate read NULL (no evidence of a
    * cadence), never a fake.
    *
    * Plan: one (key, day) rollup, one per-key pack (the ewma/holt
    * collect_list convention — per-key state bounded by the demand
    * count), a linear EwmaSeries pass per key. Output: `key, n_demands,
    * z_hat_cents, p_hat_days_e3, rate_cents_day_e3`. */
  def croston(events: DataFrame, keyCol: String, tsCol: String,
              valueCol: String, alphaNum: Long = 1L, alphaDen: Long = 4L): DataFrame = {
    require(alphaDen >= 2 && alphaDen <= 1000000L,
      s"alphaDen must be in [2, 1e6], got $alphaDen")
    require(alphaNum >= 1 && alphaNum < alphaDen,
      s"alphaNum must be in [1, alphaDen), got $alphaNum/$alphaDen")
    import org.apache.spark.sql.graftshim.{GraftShim => E}
    def ewmaOf(c: org.apache.spark.sql.Column) =
      E.column(graft.functions.EwmaSeries(E.expression(c), alphaNum, alphaDen))
    val daily = events.select(col(keyCol), to_date(col(tsCol)).as("__day"),
        floor(col(valueCol) * 100 + 0.5).cast("long").as("__c"))
      .groupBy(col(keyCol), col("__day")).agg(sum(col("__c")).as("__cents"))
      .where(col("__cents") =!= 0)
    daily
      .select(col(keyCol), struct(col("__day"), col("__cents")).as("__x"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(col("__x"))).as("__s"))
      .withColumn("__sizes", expr("transform(__s, x -> x.__cents)"))
      .withColumn("__gaps", expr(
        """CASE WHEN size(__s) >= 2
           THEN transform(sequence(1, size(__s) - 1),
                          k -> datediff(__s[k].__day, __s[k - 1].__day) * 1000L)
           ELSE CAST(array() AS ARRAY<BIGINT>) END"""))
      .withColumn("__ez", ewmaOf(col("__sizes")))
      .withColumn("__ep", ewmaOf(col("__gaps")))
      .select(col(keyCol),
        size(col("__s")).cast("long").as("n_demands"),
        expr("element_at(__ez, -1)").as("z_hat_cents"),
        expr("CASE WHEN size(__gaps) > 0 THEN element_at(__ep, -1) END")
          .as("p_hat_days_e3"))
      .withColumn("rate_cents_day_e3", expr(
        "CASE WHEN p_hat_days_e3 > 0 THEN z_hat_cents * 1000000 DIV p_hat_days_e3 END"))
  }

  /** BURSTINESS of a key's inter-event times (Goh & Barabási, EPL '08):
    * B = (σ − μ)/(σ + μ) over the gap distribution — the one-number
    * temporal fingerprint between periodic (B = −1: a cron job, a bot
    * heartbeat) and maximally bursty (B → 1: human sessions, cascades).
    * Complements [[botScreen]]'s median-gap rule: a scraper with a
    * jittered-but-periodic clock passes a median gate and reads B ≈ −1
    * here.
    *
    * Exact end to end until the pinned cast: gaps in MICROS (never a
    * per-side ms floor — a sub-ms phase offset would shift the two
    * engines' gaps differently), moments n/Σg/Σg² in DECIMAL(38,0),
    * then with s2 = n·Σg² − (Σg)² the n cancels:
    *
    *   B_ppm = ⌊10⁶ · (√s2 − Σg) / (√s2 + Σg)⌋
    *
    * IEEE sqrt/divide at the same points in every engine (the
    * rel_correlation rule). Constant gaps read exactly −10⁶; an
    * all-zero-gap key (every event the same instant) is degenerate →
    * NULL. Keys with < `minGaps` gaps drop (too short to claim a
    * temporal signature).
    *
    * Plan: one key-partitioned lag window + one groupBy riding the same
    * exchange — per-key state is three numbers, skew-proof. Output:
    * `key, n_gaps, mean_gap_us, b_ppm`. */
  def burstiness(events: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, minGaps: Long = 4): DataFrame = {
    require(minGaps >= 2, s"minGaps must be >= 2, got $minGaps")
    val w = Window.partitionBy(keyCol).orderBy(col("__t"), col("__tie"))
    events
      .select(col(keyCol), unix_micros(col(tsCol).cast("timestamp")).as("__t"),
        col(tieCol).as("__tie"))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
      .where(col("__gap").isNotNull)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__gap").cast("decimal(38,0)")).as("__sg"),
        // cast BEFORE squaring: a months-long micros gap squares past
        // 2^63 (unlike the cents-sized rel_correlation inputs)
        sum(col("__gap").cast("decimal(38,0)")
          * col("__gap").cast("decimal(38,0)")).as("__sgg"))
      .where(col("n_gaps") >= minGaps)
      .select(col(keyCol), col("n_gaps"),
        expr("CAST(__sg DIV n_gaps AS BIGINT)").as("mean_gap_us"),
        expr("""CASE WHEN sqrt(CAST(n_gaps AS DOUBLE) * CAST(__sgg AS DOUBLE)
                          - CAST(__sg AS DOUBLE) * CAST(__sg AS DOUBLE))
                     + CAST(__sg AS DOUBLE) > 0
                THEN CAST(floor(1000000 *
                  (sqrt(CAST(n_gaps AS DOUBLE) * CAST(__sgg AS DOUBLE)
                        - CAST(__sg AS DOUBLE) * CAST(__sg AS DOUBLE))
                   - CAST(__sg AS DOUBLE)) /
                  (sqrt(CAST(n_gaps AS DOUBLE) * CAST(__sgg AS DOUBLE)
                        - CAST(__sg AS DOUBLE) * CAST(__sg AS DOUBLE))
                   + CAST(__sg AS DOUBLE))) AS BIGINT)
                ELSE NULL END""").as("b_ppm"))
  }

  def botScreen(events: DataFrame, userCol: String, tsCol: String,
                minEvents: Long, maxMedianGapMs: Long): DataFrame = {
    require(minEvents >= 2, s"minEvents must be >= 2, got $minEvents")
    // order by the derived micros (ts is projected away): same total
    // order, and equal timestamps yield the same gap multiset anyway
    val w = Window.partitionBy(userCol).orderBy(col("__t"))
    events
      .select(col(userCol), unix_micros(col(tsCol).cast("timestamp")).as("__t"))
      .withColumn("__prev", lag(col("__t"), 1).over(w))
      .withColumn("__gap", expr("(__t - __prev) DIV 1000"))
      .groupBy(userCol)
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(floor(percentile(__gap, 0.5) * 2 + 0.5) AS BIGINT)")
          .as("median_gap_ms_x2"))
      .withColumn("is_bot",
        coalesce(col("n_events") >= minEvents &&
          col("median_gap_ms_x2") < 2 * maxMedianGapMs, lit(false)))
  }

  def mannKendall(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, maxSpanDays: Int = 1100): DataFrame = {
    val spine = Materialize.cutLazy(
      resampleGapFill(events, keyCol, tsCol, valueCol, maxSpanDays)
        .select(col(keyCol),
          datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long").as("__x"),
          col("value_cents").as("__y")))
    val a = spine.select(col(keyCol), col("__x").as("__xa"), col("__y").as("__ya"))
    val bb = spine.select(col(keyCol), col("__x").as("__xb"), col("__y").as("__yb"))
    val s = a.join(bb, Seq(keyCol)).where(col("__xb") > col("__xa"))
      .groupBy(keyCol)
      .agg(sum(when(col("__yb") > col("__ya"), 1L)
        .when(col("__yb") < col("__ya"), -1L).otherwise(0L)).as("s_stat"))
    val ties = spine.groupBy(col(keyCol), col("__y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(keyCol)
      .agg(count(lit(1)).cast("long").as("__nvals"),
        sum(col("__t")).as("__n"),
        sum(expr("__t * (__t - 1) * (2 * __t + 5)")).as("__tsum"))
    s.join(ties, Seq(keyCol))
      .withColumn("var18",
        expr("__n * (__n - 1) * (2 * __n + 5) - __tsum"))
      .select(col(keyCol), col("__n").as("n_days"), col("s_stat"),
        col("var18"),
        when(col("var18") > 0,
          floor((col("s_stat") - signum(col("s_stat")).cast("long")) * lit(1000.0) /
            sqrt(col("var18").cast("double") / 18.0)).cast("long"))
          .as("z_milli"))
  }
}
