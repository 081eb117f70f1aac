package graft.pipeline

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

/** Resample/gap-fill contracts: silent days materialize as zeros within
  * each key's own span (never beyond it), values fix to cents pre-sum,
  * and the rolling frame over the filled spine equals a hand-computed
  * calendar window. */
class TimeSeriesSpec extends AnyFunSuite {

  lazy val spark = SharedSpark.session
  import spark.implicits._

  private def ts(day: Int, hour: Int = 12) =
    Timestamp.valueOf(f"2024-03-$day%02d $hour%02d:00:00")

  private def events = Seq(
    // user 7: active day 1 and day 4 — days 2,3 are gaps
    (7L, ts(1), 1.004),  // floor(100.4 + .5) = 100 cents
    (7L, ts(1, 23), 2.996), // floor(299.6 + .5) = 300
    (7L, ts(4), 10.0),
    // user 8: a single day — spine is one row, no gaps
    (8L, ts(2), 5.555) // floor(555.5 + .5) = 556
  ).toDF("user_id", "ts", "value")

  test("gap-fill: every day of each key's span appears, silent days as zeros") {
    val got = TimeSeries.resampleGapFill(events, "user_id", "ts", "value")
      .orderBy("user_id", "day")
      .as[(Long, Date, Long, Long)].collect().toSeq
    assert(got == Seq(
      (7L, Date.valueOf("2024-03-01"), 2L, 400L),
      (7L, Date.valueOf("2024-03-02"), 0L, 0L),
      (7L, Date.valueOf("2024-03-03"), 0L, 0L),
      (7L, Date.valueOf("2024-03-04"), 1L, 1000L),
      (8L, Date.valueOf("2024-03-02"), 1L, 556L)), s"$got")
  }

  test("rolling totals over the filled spine equal the calendar window") {
    val got = TimeSeries.rollingDaily(events, "user_id", "ts", "value", nDays = 3)
      .orderBy("user_id", "day")
      .select("user_id", "day", "roll_events", "roll_cents")
      .as[(Long, Date, Long, Long)].collect().toSeq
    assert(got == Seq(
      (7L, Date.valueOf("2024-03-01"), 2L, 400L),
      (7L, Date.valueOf("2024-03-02"), 2L, 400L),
      (7L, Date.valueOf("2024-03-03"), 2L, 400L),
      (7L, Date.valueOf("2024-03-04"), 1L, 1000L), // day 1 left the 3-day frame
      (8L, Date.valueOf("2024-03-02"), 1L, 556L)), s"$got")
  }

  test("negative values round half-up toward +inf like the relational family") {
    val neg = Seq((1L, ts(5), -0.004), (1L, ts(5), -0.006)).toDF("user_id", "ts", "value")
    val got = TimeSeries.resampleGapFill(neg, "user_id", "ts", "value")
      .as[(Long, Date, Long, Long)].collect().toSeq
    // floor(-0.4 + 0.5) = 0; floor(-0.6 + 0.5) = -1
    assert(got == Seq((1L, Date.valueOf("2024-03-05"), 2L, -1L)), s"$got")
  }
  test("forward-fill: silent days carry the last observed value, observed days keep their own") {
    val got = TimeSeries.forwardFill(events, "user_id", "ts", "value")
      .orderBy("user_id", "day")
      .select("user_id", "day", "n_events", "value_cents", "ffill_cents")
      .as[(Long, Date, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (7L, Date.valueOf("2024-03-01"), 2L, 400L, 400L),
      (7L, Date.valueOf("2024-03-02"), 0L, 0L, 400L), // gap carries day 1
      (7L, Date.valueOf("2024-03-03"), 0L, 0L, 400L),
      (7L, Date.valueOf("2024-03-04"), 1L, 1000L, 1000L), // observed day is itself
      (8L, Date.valueOf("2024-03-02"), 1L, 556L, 556L)), s"$got")
  }

  test("anomalies: spike flagged against its trailing baseline, never self-tainted") {
    // user 1: 7 flat days of 1.00 then a 10.00 spike, then 7 more flat 1.00
    // days and a day exactly on baseline
    val rows = (1 to 7).map(d => (1L, ts(d), 1.0)) ++ Seq((1L, ts(8), 10.0)) ++
      (9 to 15).map(d => (1L, ts(d), 1.0)) ++ Seq((1L, ts(16), 1.0))
    val got = TimeSeries.anomalies(rows.toDF("user_id", "ts", "value"),
        "user_id", "ts", "value", nDays = 7, k = 3)
      .select("day", "is_anomaly").as[(Date, Boolean)].collect().toMap
    // days 1-7 lack a full baseline → never flagged
    (1 to 7).foreach(d => assert(!got(Date.valueOf(f"2024-03-$d%02d")),
      s"day $d has no full baseline"))
    // the spike deviates from a zero-variance baseline → flagged
    assert(got(Date.valueOf("2024-03-08")), "spike must flag")
    // day 9's baseline CONTAINS the spike (variance now > 0) but 1.00 is
    // within 3 sigma of it; day 16 is exactly on a flat baseline — strict
    // inequality keeps it quiet
    assert(!got(Date.valueOf("2024-03-09")), "post-spike normal day stays quiet")
    assert(!got(Date.valueOf("2024-03-16")), "exactly-on-baseline stays quiet")
  }

  test("scd2: runs collapse, flips reopen, valid_to chains, NULL-safe values") {
    val log = Seq(
      (1L, 1L, ts(1), Some("a")),
      (1L, 2L, ts(2), Some("a")),  // no-op update collapses into the run
      (1L, 3L, ts(3), Some("b")),  // change
      (1L, 4L, ts(4), Some("a")),  // back to 'a' — a NEW interval
      (2L, 5L, ts(1), None),       // NULL is a value…
      (2L, 6L, ts(2), None),       // …and NULL→NULL is a no-op
      (2L, 7L, ts(3), Some("x"))   // NULL→value is a change
    ).toDF("user_id", "event_id", "ts", "v")
    val got = TimeSeries.scd2(log, "user_id", "ts", "event_id", Seq("v"))
      .orderBy("user_id", "valid_from")
      .as[(Long, Option[String], Timestamp, Option[Timestamp], Long)]
      .collect().toSeq
    assert(got == Seq(
      (1L, Some("a"), ts(1), Some(ts(3)), 1L),
      (1L, Some("b"), ts(3), Some(ts(4)), 3L),
      (1L, Some("a"), ts(4), None, 4L),
      (2L, None, ts(1), Some(ts(3)), 5L),
      (2L, Some("x"), ts(3), None, 7L)), s"$got")
  }

  test("scd2: timestamp collisions order by tie; NULL ts/tie excluded; validation") {
    val log = Seq(
      (Some(10L), Some(ts(1)), Some("a")),
      (Some(11L), Some(ts(1)), Some("b")), // same ts — tie 10 before 11
      (Some(12L), None, Some("zz")),       // NULL ts: no position, excluded
      (None, Some(ts(2)), Some("c"))       // NULL tie: excluded
    ).map { case (id, t, v) => (1L, id, t, v) }
      .toDF("user_id", "event_id", "ts", "v")
    val got = TimeSeries.scd2(log, "user_id", "ts", "event_id", Seq("v"))
      .orderBy("valid_from", "event_id")
      .as[(Long, Option[String], Timestamp, Option[Timestamp], Long)]
      .collect().toSeq
    assert(got == Seq(
      (1L, Some("a"), ts(1), Some(ts(1)), 10L),
      (1L, Some("b"), ts(1), None, 11L)), s"$got")
    intercept[IllegalArgumentException](
      TimeSeries.scd2(log, "user_id", "ts", "event_id", Seq.empty))
    intercept[IllegalArgumentException](
      TimeSeries.scd2(log, "user_id", "ts", "event_id", Seq("ts")))
  }

  test("scd2Merge: batch folds equal the full-log recompute — interval " +
      "closes across batches, same-value run collapses across batches") {
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "valid_from", "event_id")
        .collect().map(_.toString).toSeq
    val b1 = Seq(
      (1L, 1L, ts(1), "a"),
      (2L, 2L, ts(1), "x"),
      (2L, 3L, ts(2), "y")
    ).toDF("user_id", "event_id", "ts", "v")
    val b2 = Seq(
      (1L, 4L, ts(3), "b"),  // closes key 1's open interval ACROSS batches
      (2L, 5L, ts(4), "y"),  // same value — collapses into the open run
      (3L, 6L, ts(2), "z")   // brand-new key
    ).toDF("user_id", "event_id", "ts", "v")
    val b3 = Seq(
      (1L, 7L, ts(5), "b")   // no-op across THREE batches
    ).toDF("user_id", "event_id", "ts", "v")
    var state = TimeSeries.scd2(b1, "user_id", "ts", "event_id", Seq("v"))
    state = TimeSeries.scd2Merge(state, b2, "user_id", "ts", "event_id", Seq("v"))
    assert(dump(state) == dump(TimeSeries.scd2(b1.unionByName(b2),
      "user_id", "ts", "event_id", Seq("v"))), "after batch 2")
    state = TimeSeries.scd2Merge(state, b3, "user_id", "ts", "event_id", Seq("v"))
    assert(dump(state) == dump(TimeSeries.scd2(
      b1.unionByName(b2).unionByName(b3),
      "user_id", "ts", "event_id", Seq("v"))), "after batch 3")
    // a key's open interval stays SINGLE (the scd2 invariant the merge relies on)
    assert(state.where("valid_to IS NULL").groupBy("user_id").count()
      .where("count > 1").count() == 0)
    // late data (at or before the open valid_from) fails LOUDLY by key name
    val late = Seq((1L, 8L, ts(3), "c")).toDF("user_id", "event_id", "ts", "v")
    val e = intercept[Exception](
      TimeSeries.scd2Merge(state, late, "user_id", "ts", "event_id", Seq("v"))
        .collect())
    assert(e.getMessage.contains("scd2Merge") || Option(e.getCause)
      .exists(_.getMessage.contains("scd2Merge")), s"unexpected: $e")
  }

  test("rollingPercentileDaily: hand medians incl. gap zeros and ramp-up") {
    // key 7: days 1..4 cents = 100, 0 (gap), 300, 500
    val ev = Seq((7L, ts(1), 1.0), (7L, ts(3), 3.0), (7L, ts(4), 5.0))
      .toDF("user_id", "ts", "value")
    val got = TimeSeries.rollingPercentileDaily(ev, "user_id", "ts", "value", 3)
      .orderBy("win_day")
      .collect().map(r => r.getDate(1).toString -> r.getDouble(2)).toSeq
    assert(got == Seq(
      "2024-03-01" -> 100.0, // ramp-up: window of 1
      "2024-03-02" -> 50.0,  // {100, 0} → R-7 median 50
      "2024-03-03" -> 100.0, // {100, 0, 300}
      "2024-03-04" -> 300.0  // {0, 300, 500} — the gap ZERO drags it
    ), s"$got")
    intercept[IllegalArgumentException](
      TimeSeries.rollingPercentileDaily(ev, "user_id", "ts", "value", 3, p = 1.5))
  }

  test("rollingDistinct: exact trailing actives, ramp-up, no phantom windows, chatty ids once") {
    val ev = Seq(
      // key "a": user 1 on days 1,2 (twice on day 1 — counted once);
      // user 2 on day 3; span 1..3
      (1L, ts(1), "a"), (1L, ts(1, 23), "a"), (1L, ts(2), "a"),
      (2L, ts(3), "a"),
      // key "b": one user, one day — exactly one window row
      (9L, ts(5), "b")
    ).toDF("user_id", "ts", "k")
    val got = TimeSeries.rollingDistinct(ev, "k", "ts", "user_id", nDays = 2)
      .orderBy("k", "win_day")
      .as[(String, Date, Long)].collect().toSeq
    assert(got == Seq(
      ("a", Date.valueOf("2024-03-01"), 1L), // ramp-up: window [d0-1, d1] trimmed
      ("a", Date.valueOf("2024-03-02"), 1L), // user 1 both days — once
      ("a", Date.valueOf("2024-03-03"), 2L), // day2 user1 + day3 user2
      ("b", Date.valueOf("2024-03-05"), 1L)  // no phantom day-6 window
    ), s"$got")
    intercept[IllegalArgumentException](
      TimeSeries.rollingDistinct(ev, "k", "ts", "user_id", 0))
  }

  test("trend: exact OLS slope over the spine, gaps fit as zeros, 1-day keys drop") {
    val ev = Seq(
      // key 1: 1.00, 2.00, 3.00, 4.00 on consecutive days → +100 cents/day
      (1L, ts(1), 1.0), (1L, ts(2), 2.0), (1L, ts(3), 3.0), (1L, ts(4), 4.0),
      // key 2: 1.00 on day 1, 3.00 on day 3 — day 2 fits as ZERO, so the
      // slope is Σ over x=0,1,2 / y=100,0,300: num=600, den=6 → 100 c/day
      (2L, ts(1), 1.0), (2L, ts(3), 3.0),
      // key 3: a single day — no slope, excluded
      (3L, ts(5), 9.0)
    ).toDF("user_id", "ts", "value")
    val got = TimeSeries.trend(ev, "user_id", "ts", "value")
      .orderBy("user_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 100000000L), (2L, 3L, 100000000L)), s"$got")
  }

  test("trend and changepoint agree with brute-force recomputation on random series") {
    val rnd = new scala.util.Random(29)
    // 10 keys, each a dense 6–20 day series of integer cent values
    val series = (1L to 10L).map { k =>
      k -> (1 to (6 + rnd.nextInt(15))).map(d => d -> rnd.nextInt(2000).toLong)
    }
    val ev = series.flatMap { case (k, days) =>
      days.map { case (d, cents) => (k, ts(d), cents / 100.0) }
    }.toDF("user_id", "ts", "value")
    val gotT = TimeSeries.trend(ev, "user_id", "ts", "value")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gotC = TimeSeries.changepoint(ev, "user_id", "ts", "value")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(3))).toList
    series.foreach { case (k, days) =>
      val ys = days.map(_._2)
      val n = ys.size
      val xs = (0 until n).map(_.toLong) // translation-invariant
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val sxx = xs.map(x => x * x).sum
      val slope = math.floor((n * sxy - sx * sy).toDouble /
        (n * sxx - sx * sx).toDouble * 1e6 + 0.5).toLong
      assert(gotT(k) == ((n.toLong, slope)), s"key $k: ${gotT(k)} != ($n, $slope)")
      val sn = ys.sum
      val best = (1 until n).map { j =>
        (math.abs(n.toLong * ys.take(j).sum - j.toLong * sn), j)
      }.minBy { case (dd, j) => (-dd, j) }
      val day = f"2024-03-${days(best._2 - 1)._1}%02d"
      assert(gotC.contains((k, day, best._1)),
        s"key $k: expect ($day, ${best._1}) in $gotC")
    }
  }

  test("changepoint: CUSUM argmax lands on the true shift, ties to earliest day") {
    val ev = Seq(
      // key 1: 2,2,2,10,10 cents·100 → D_k = 16,32,48,24 → split after day 3
      (1L, ts(1), 0.02), (1L, ts(2), 0.02), (1L, ts(3), 0.02),
      (1L, ts(4), 0.10), (1L, ts(5), 0.10),
      // key 2: flat — every D_k = 0, earliest day wins
      (2L, ts(1), 0.01), (2L, ts(2), 0.01), (2L, ts(3), 0.01),
      // key 3: single day — no split exists, excluded
      (3L, ts(7), 1.0)
    ).toDF("user_id", "ts", "value")
    val got = TimeSeries.changepoint(ev, "user_id", "ts", "value")
      .orderBy("user_id").as[(Long, Date, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, Date.valueOf("2024-03-03"), 5L, 48L),
      (2L, Date.valueOf("2024-03-01"), 3L, 0L)), s"$got")
  }

  test("ewma: hand-computed floor recurrence over the spine, gaps smooth toward zero") {
    // user 7 spine cents [400, 0, 0, 1000], α = 1/4:
    // e1=400; e2=(0+3·400)/4=300; e3=(0+900)/4=225; e4=(1000+675)/4=418.75→418
    val got = TimeSeries.ewma(events, "user_id", "ts", "value", 1, 4)
      .orderBy("user_id", "day")
      .as[(Long, Date, Long, Long)].collect().toSeq
    assert(got == Seq(
      (7L, Date.valueOf("2024-03-01"), 400L, 400L),
      (7L, Date.valueOf("2024-03-02"), 0L, 300L),
      (7L, Date.valueOf("2024-03-03"), 0L, 225L),
      (7L, Date.valueOf("2024-03-04"), 1000L, 418L),
      (8L, Date.valueOf("2024-03-02"), 556L, 556L)), s"$got")
  }

  test("kaplanMeier: hand-computed censored curve; NULL once the risk set dies out") {
    // durations/events: (1,1) (2,0) (3,1) (3,1) (4,0) (5,1)
    // risk sets [6,5,4,2,1]; lg64 terms: t=1 → lg64(6)−lg64(5) = 224−208
    // = 16; t=3 → lg64(4)−lg64(2) = 192−128 = 64; t=5 n=d → survival 0
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (4L, 0), (5L, 1))
      .toDF("duration", "churned")
    val got = TimeSeries.kaplanMeier(subj, "duration", "churned")
      .orderBy("t")
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 6L, 1L, 0L, Some(16L)),
      (2L, 5L, 0L, 1L, Some(16L)),
      (3L, 4L, 2L, 0L, Some(80L)),
      (4L, 2L, 0L, 1L, Some(80L)),
      (5L, 1L, 1L, 0L, None)), s"$got")
  }

  test("logRank: symmetric cohorts read O == E; the early-churning arm reads O > E") {
    // identical arms: expectation must match observation exactly (every
    // pooled split is even, so the ppm floor loses nothing)
    val same = Seq((0, 1L, 1), (0, 2L, 1), (0, 3L, 0),
      (1, 1L, 1), (1, 2L, 1), (1, 3L, 0))
      .toDF("cohort", "duration", "churned")
    val s1 = TimeSeries.logRank(same, "duration", "churned", "cohort")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    s1.foreach { r =>
      assert(r._5 == 0L, s"identical cohorts must read O = E: $r")
    }
    // arm 0 churns at t=1..2, arm 1 survives to censoring: O > E for 0
    val skew = Seq((0, 1L, 1), (0, 2L, 1), (0, 2L, 1),
      (1, 5L, 0), (1, 5L, 0), (1, 5L, 0))
      .toDF("cohort", "duration", "churned")
    val s2 = TimeSeries.logRank(skew, "duration", "churned", "cohort")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(s2(0)._5 > 0L && s2(1)._5 < 0L,
      s"early-churn arm must exceed its expectation: $s2")
    // the pooled identity: sum of expectations == sum of observations
    // up to per-time floor loss (< 1 ppm per (time, group) cell)
    val oSum = s2.map(_._3 * 1000000L).sum
    val eSum = s2.map(_._4).sum
    assert(math.abs(oSum - eSum) <= s2.size * 6L,
      s"log-rank identity broken: O=$oSum E=$eSum")
  }

  test("kaplanMeier/logRank: a non-0/1 event encoding fails loudly instead of counting as censored") {
    // eventCol = 2 (or NULL) used to silently read as censored, skewing
    // the curve with no signal; booleans cast cleanly and stay accepted
    val bad = Seq((1L, 2), (2L, 1)).toDF("duration", "churned")
    val e1 = intercept[Exception] {
      TimeSeries.kaplanMeier(bad, "duration", "churned").collect()
    }
    assert(e1.getMessage.contains("eventCol") || e1.getCause != null, s"$e1")
    val badG = Seq((0, 1L, 2), (1, 2L, 1)).toDF("cohort", "duration", "churned")
    val e2 = intercept[Exception] {
      TimeSeries.logRank(badG, "duration", "churned", "cohort").collect()
    }
    assert(e2.getMessage.contains("eventCol") || e2.getCause != null, s"$e2")
    // boolean events: cast is explicit and exact
    val bool = Seq((1L, true), (2L, false), (3L, true)).toDF("duration", "churned")
    val got = TimeSeries.kaplanMeier(bool, "duration", "churned")
      .orderBy("t").as[(Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got.map(r => (r._1, r._3, r._4)) == Seq((1L, 1L, 0L), (2L, 0L, 1L), (3L, 1L, 0L)),
      s"boolean events must cast to 1/0: $got")
    // a FRACTIONAL encoding (0.9 — a churn probability mis-wired as the
    // flag) must be loud too: the guard validates through a
    // value-preserving cast, never the truncating long cast
    val frac = Seq((1L, 0.9), (2L, 1.0)).toDF("duration", "churned")
    val e3 = intercept[Exception] {
      TimeSeries.kaplanMeier(frac, "duration", "churned").collect()
    }
    assert(e3.getMessage.contains("eventCol") || e3.getCause != null, s"$e3")
    // exact 1.0/0.0 doubles remain accepted (they ARE 1 and 0)
    val exact = Seq((1L, 1.0), (2L, 0.0)).toDF("duration", "churned")
    assert(TimeSeries.kaplanMeier(exact, "duration", "churned").count() == 2L)
  }

  test("kaplanMeier: an all-censored cohort never loses survival mass") {
    val subj = Seq((2L, 0), (5L, 0), (9L, 0)).toDF("duration", "churned")
    val got = TimeSeries.kaplanMeier(subj, "duration", "churned")
      .orderBy("t")
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got.forall(_._5 == Some(0L)),
      s"censoring must not count as churn: $got")
    assert(got.map(_._2) == Seq(3L, 2L, 1L), "risk set still shrinks")
  }

  test("conformalBand: hand-computed order-statistic band; under-calibrated keys read NULL") {
    val ts0 = Date.valueOf("2024-03-01").toLocalDate
    // cents [400, 800, 800, 800, 0] → ewma [400, 500, 575, 631, 473];
    // residuals |y_t − e_{t−1}| = [400, 300, 225, 631], sorted
    // [225, 300, 400, 631]
    val ev = Seq(4.0, 8.0, 8.0, 8.0, 0.0).zipWithIndex.map { case (v, i) =>
      (1L, java.sql.Timestamp.valueOf(ts0.plusDays(i).atStartOfDay), v)
    } ++ Seq((2L, java.sql.Timestamp.valueOf(ts0.atStartOfDay), 5.0))
    val df = ev.toDF("user_id", "ts", "value")
    // alpha 25% → q_rank = ceil(5·0.75) = 4 → q = 631, band 473 ± 631
    val got = TimeSeries.conformalBand(df, "user_id", "ts", "value",
        alphaPpm = 250000)
      .orderBy("user_id")
      .as[(Long, Long, Option[Long], Option[Long], Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(got(0) == ((1L, 4L, Some(4L), Some(631L), 473L,
      Some(473L - 631L), Some(473L + 631L))), got.toString)
    // the single-day key: no residuals, NULL band, forecast still reads
    assert(got(1) == ((2L, 0L, None, None, 500L, None, None)), got.toString)
    // alpha 10% → q_rank = ceil(5·0.9) = 5 > n_cal = 4 → honest NULL
    val strict = TimeSeries.conformalBand(df, "user_id", "ts", "value",
        alphaPpm = 100000)
      .where($"user_id" === 1L)
      .as[(Long, Long, Option[Long], Option[Long], Long, Option[Long], Option[Long])]
      .collect().head
    assert(strict._2 == 4L && strict._3 == Some(5L) && strict._4.isEmpty &&
      strict._6.isEmpty, strict.toString)
  }

  test("forecastBacktest: hand-checked one-step errors; smoothing beats naive on noise, loses on a walk") {
    // user 7 spine cents [400, 0, 0, 1000] → ewma [400, 300, 225, 418];
    // eval days 2..4: |0−400|+|0−300|+|1000−225| = 1475 ewma error,
    // naive |0−400|+|0−0|+|1000−0| = 1400; user 8 has one day → no row
    val got = TimeSeries.forecastBacktest(events, "user_id", "ts", "value", 1, 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 3L, 1475L, 1400L, 0L)), s"$got")
    // alternating noise around a level: the smoother's memory wins
    val ts0 = Date.valueOf("2024-01-01").toLocalDate
    val noisy = (0 until 30).map { i =>
      (1L, java.sql.Timestamp.valueOf(ts0.plusDays(i).atStartOfDay),
        if (i % 2 == 0) 12.0 else 8.0)
    }.toDF("user_id", "ts", "value")
    val n = TimeSeries.forecastBacktest(noisy, "user_id", "ts", "value", 1, 4)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(n._5 == 1L, s"smoother must beat persistence on alternating noise: $n")
  }

  test("ewma: negative (refund) days truncate toward zero, matching DuckDB //") {
    // day 1: -1.01 → -101 cents; day 2: 0 (gap) →
    // e2 = (1·0 + 3·(-101)) DIV 4 = -303 DIV 4 = -75 (truncation; floor
    // would give -76 — this case pins the truncating semantics both
    // engines share)
    val neg = Seq((1L, ts(1), -1.01), (1L, ts(2), 0.0)).toDF("user_id", "ts", "value")
    val got = TimeSeries.ewma(neg, "user_id", "ts", "value", 1, 4)
      .orderBy("day").as[(Long, Date, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, Date.valueOf("2024-03-01"), -101L, -101L),
      (1L, Date.valueOf("2024-03-02"), 0L, -75L)), s"$got")
  }

  test("ewma: alpha bounds rejected") {
    intercept[IllegalArgumentException] {
      TimeSeries.ewma(events, "user_id", "ts", "value", 0, 4)
    }
    intercept[IllegalArgumentException] {
      TimeSeries.ewma(events, "user_id", "ts", "value", 4, 4)
    }
  }

  test("holt: hand-computed level/trend recurrence, forecast = l + h·b") {
    // user 7 spine cents [400, 0, 0, 1000], α=1/4, β=1/2:
    // t1: l=400 b=0
    // t2: l=(0+3·400)/4=300;      b=(300−400+0)/2   = −50
    // t3: l=(0+3·250)/4=187;      b=(187−300−50)/2  = −81 (trunc −81.5)
    // t4: l=(1000+3·106)/4=329;   b=((329−187)−81)/2 = 30 (trunc 30.5)
    val got = TimeSeries.holt(events, "user_id", "ts", "value",
        1, 4, 1, 2, horizon = 7)
      .orderBy("user_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (7L, 4L, 329L, 30L, 539L),
      (8L, 1L, 556L, 0L, 556L)), s"$got")
  }

  test("holt: parameter bounds rejected") {
    intercept[IllegalArgumentException] {
      TimeSeries.holt(events, "user_id", "ts", "value", 4, 4)
    }
    intercept[IllegalArgumentException] {
      TimeSeries.holt(events, "user_id", "ts", "value", 1, 4, 0, 8)
    }
    intercept[IllegalArgumentException] {
      TimeSeries.holt(events, "user_id", "ts", "value", horizon = -1)
    }
  }

  test("holtWinters: hand-computed level/trend/seasonal rotation, forecast picks the horizon slot") {
    // user 7 spine cents [400, 0, 0, 1000], α=β=γ=1/2, period 2:
    // t1: l=400 b=0 s=[0,0]
    // t2 (pos 1): l=(0−0+400)/2=200; b=(200−400)/2=−100; s1=(0−200)/2=−100
    // t3 (pos 0): l=(0−0+100)/2=50;  b=((50−200)−100)/2=−125; s0=(0−50)/2=−25
    // t4 (pos 1): l=((1000+100)+(50−125))/2=512 (trunc 512.5);
    //             b=((512−50)−125)/2=168 (trunc 168.5);
    //             s1=((1000−512)−100)/2=194
    // horizon 2 ⇒ slot (4+2−1)%2 = 1 ⇒ season 194; forecast 512+2·168+194
    val got = TimeSeries.holtWinters(events, "user_id", "ts", "value",
        1, 2, 1, 2, 1, 2, period = 2, horizon = 2)
      .orderBy("user_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (7L, 4L, 512L, 168L, 194L, 1042L),
      (8L, 1L, 556L, 0L, 0L, 556L)), s"$got")
    // a pure period-2 alternation is absorbed by the seasonal slots: the
    // level converges to the mean and the two slots to ± the amplitude
    // direction (signs opposite) — the shape holt's single trend cannot hold
    val alt = (1 to 14).map(d => (9L, ts(d), if (d % 2 == 0) 2.0 else 0.0))
      .toDF("user_id", "ts", "value")
    // horizon 1 from day 14 forecasts day 15 — an odd (low) day, slot 0,
    // whose learned seasonal must be NEGATIVE; horizon 2 forecasts day 16
    // — even (high), slot 1, positive. Level ≈ the 100-cent mean.
    val hw1 = TimeSeries.holtWinters(alt, "user_id", "ts", "value",
        1, 2, 1, 8, 1, 2, period = 2, horizon = 1)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(hw1._5 < 0L, s"odd-day slot must be negative: $hw1")
    val hw2 = TimeSeries.holtWinters(alt, "user_id", "ts", "value",
        1, 2, 1, 8, 1, 2, period = 2, horizon = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(hw2._5 > 0L, s"even-day slot must be positive: $hw2")
    assert(hw1._3 == hw2._3 && math.abs(hw1._3 - 100L) <= 20L,
      s"level near the mean: $hw1")
    intercept[IllegalArgumentException](
      TimeSeries.holtWinters(events, "user_id", "ts", "value", period = 1))
    intercept[IllegalArgumentException](
      TimeSeries.holtWinters(events, "user_id", "ts", "value", gammaNum = 0))
  }

  test("intervalIslands: overlap merges, touching merges, nesting collapses, gaps split") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 15L),   // overlap → one island
      (1L, 15L, 20L),                 // touches (half-open adjacency) → same island
      (1L, 25L, 30L),                 // gap → new island
      (1L, 40L, 60L), (1L, 45L, 50L), // nested → one island, end stays 60
      (2L, 7L, 7L)                    // zero-length interval is its own island
    ).toDF("user_id", "s", "e")
    val got = TimeSeries.intervalIslands(iv, "user_id", "s", "e")
      .orderBy("user_id", "island_start")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 20L, 3L, 20L),
      (1L, 25L, 30L, 1L, 5L),
      (1L, 40L, 60L, 2L, 20L),
      (2L, 7L, 7L, 1L, 0L)), s"$got")
  }

  test("intervalIslands: end < start fails loudly; NULL bounds are excluded") {
    val bad = Seq((1L, 10L, 5L)).toDF("user_id", "s", "e")
    val e = intercept[Exception] {
      TimeSeries.intervalIslands(bad, "user_id", "s", "e").collect()
    }
    assert(e.getMessage != null)
    val withNull = Seq((1L, Some(0L), Some(10L)), (1L, None, Some(99L)))
      .toDF("user_id", "s", "e")
    val got = TimeSeries.intervalIslands(withNull, "user_id", "s", "e").count()
    assert(got == 1L)
  }

  test("autocorrelation: alternating series reads ±1e6 by lag parity, tiny lags NULL") {
    // period-2 series 0,100,0,100,0,100: odd lags perfectly anti-
    // correlated (−1e6), even lags perfectly correlated (+1e6);
    // lags with < 3 pairs are NULL, never a fake coefficient
    val ev = (1 to 6).map(d =>
      (1L, ts(d), if (d % 2 == 0) 1.0 else 0.0)).toDF("user_id", "ts", "value")
    val got = TimeSeries.autocorrelation(ev, "user_id", "ts", "value", maxLag = 5)
      .orderBy("lag")
      .collect().map(r => (r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got == Seq(
      (1, 5L, Some(-1000000L)),
      (2, 4L, Some(1000000L)),
      (3, 3L, Some(-1000000L)),
      (4, 2L, None),
      (5, 1L, None)), s"$got")
  }

  test("dowAdjusted: same-weekday integer mean, residuals cancel, silent days count") {
    // 2024-03-01 and 2024-03-08 are both Fridays; the 6 days between
    // are silent zeros — Friday mean = (400+100) DIV 2 = 250
    val ev = Seq((1L, ts(1), 4.0), (1L, ts(8), 1.0)).toDF("user_id", "ts", "value")
    val got = TimeSeries.dowAdjusted(ev, "user_id", "ts", "value")
      .orderBy("day")
      .as[(Long, Date, Int, Long, Long, Long)].collect().toSeq
    assert(got.size == 8)
    assert(got.head == ((1L, Date.valueOf("2024-03-01"), 5, 400L, 250L, 150L)), s"${got.head}")
    assert(got.last == ((1L, Date.valueOf("2024-03-08"), 5, 100L, 250L, -150L)), s"${got.last}")
    // the six silent days each are their weekday's only sample: mean 0, residual 0
    assert(got.slice(1, 7).forall(r => r._4 == 0L && r._5 == 0L && r._6 == 0L), s"$got")
  }

  test("intervalIslands agrees with an in-memory sweep on 300 random intervals") {
    val rnd = new scala.util.Random(42)
    val iv = (1 to 300).map { _ =>
      val k = rnd.nextInt(5).toLong
      val s = rnd.nextInt(200).toLong
      (k, s, s + rnd.nextInt(30).toLong)
    }
    val got = TimeSeries.intervalIslands(iv.toDF("k", "s", "e"), "k", "s", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // reference: literal sweep merge per key (touch merges, half-open)
    val expect = iv.groupBy(_._1).flatMap { case (k, xs) =>
      val sorted = xs.map(t => (t._2, t._3)).sorted
      val islands = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      for ((s, e) <- sorted) {
        if (islands.nonEmpty && s <= islands.last._2) {
          val (is, ie, n) = islands.last
          islands(islands.size - 1) = (is, math.max(ie, e), n + 1)
        } else islands += ((s, e, 1L))
      }
      islands.map { case (is, ie, n) => (k, is, ie, n) }
    }.toSet
    assert(got == expect, s"${(got -- expect, expect -- got)}")
  }

  test("anovaF: hand-computed F and eta2; identical groups NULL; single group NULL") {
    // groups a = {1,2,3}, b = {4,5,6}: T_a=6, T_b=15, N=6, T=21
    // bt = 36 DIV 3 + 225 DIV 3 = 12+75 = 87; SS = 14+77 = 91
    // SSB = 87 − 441/6 = 13.5; SSW = 91 − 87 = 4; F = 13.5/1 / (4/4) = 13.5
    // eta2 = 13.5 / 17.5 = 0.771428...
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L), ("b", 5L), ("b", 6L))
      .toDF("g", "v")
    val got = Relational.anovaF(df, "g", "v")
      .as[(Long, Long, Option[Long], Option[Long])].collect().head
    assert(got == ((2L, 6L, Some(13500L),
      Some(math.floor(1e6 * 13.5 / 17.5).toLong))), s"got $got")
    // zero within-group variance: F undefined (division by zero) — NULL
    val flat = Seq(("a", 2L), ("a", 2L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val f = Relational.anovaF(flat, "g", "v").collect().head
    assert(f.isNullAt(2), s"flat groups must read NULL F: $f")
    // single group: no between variance to test — NULL
    val one = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    val o = Relational.anovaF(one, "g", "v").collect().head
    assert(o.getLong(0) == 1L && o.isNullAt(2), s"$o")
  }

  test("bhFdrScreen: textbook step-up, the collective-rescue case, NULL exclusion, loud range") {
    // textbook: p = [.01, .04, .03, .005, .20], alpha = .05 → the largest
    // qualifying rank is 4 (.04 <= 4·.05/5), so the first four reject
    val tb = Seq((1L, 10000L), (2L, 40000L), (3L, 30000L), (4L, 5000L), (5L, 200000L))
      .toDF("seg", "p")
    val got = Relational.bhFdrScreen(tb, "seg", "p", alphaPpm = 50000)
      .orderBy("id").select("id", "reject").as[(Long, Boolean)].collect().toSeq
    assert(got == Seq(1L -> true, 2L -> true, 3L -> true, 4L -> true, 5L -> false), got.toString)
    // the step-up's whole point: every p fails its OWN threshold except
    // the last, which rescues all smaller ranks collectively
    val su = Seq((1L, 30000L), (2L, 35000L), (3L, 36000L)).toDF("seg", "p")
    val all = Relational.bhFdrScreen(su, "seg", "p", 50000)
      .select("reject").as[Boolean].collect()
    assert(all.forall(identity), all.mkString(","))
    // a disarmed (NULL-p) test is excluded from m and never rejected
    val withNull = Seq((1L, Some(4000L)), (2L, None), (3L, Some(900000L)))
      .toDF("seg", "p")
    val n = Relational.bhFdrScreen(withNull, "seg", "p", 50000)
      .orderBy("id")
      .select("id", "m_tests", "reject").as[(Long, Option[Long], Boolean)]
      .collect().toSeq
    assert(n == Seq((1L, Some(2L), true), (2L, None, false), (3L, Some(2L), false)), n.toString)
    // out-of-range p fails loudly
    val ex = intercept[Exception] {
      Relational.bhFdrScreen(Seq((1L, 2000000L)).toDF("seg", "p"), "seg", "p", 50000)
        .collect()
    }
    assert(ex.getMessage.contains("out of [0, 1e6]"), ex.getMessage)
  }

  test("theilDecomposition: equal-within groups read exactly 0; hand-computed between terms; loud on nonpositive") {
    // power-of-two fixture (lg64 exact): A = 4×8 cents, B = 2×32 cents —
    // no within inequality; between terms hand-computed in the grade:
    //   lg64(6)=224, lg64(96)=480;
    //   A: 32·(384+224−192−480)·1000 DIV 96 = −21333 (trunc toward zero)
    //   B: 64·(448+224−128−480)·1000 DIV 96 =  42666
    val df = (Seq.fill(4)(("A", 8L)) ++ Seq.fill(2)(("B", 32L))).toDF("seg", "cents")
    val got = Relational.theilDecomposition(df, "seg", "cents")
      .orderBy("seg")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 4L, 333333L, 0L, -21333L),
      ("B", 2L, 666666L, 0L, 42666L)), s"got $got")
    // unequal within: a 2×(1,64) group must read positive within
    val skew = Seq(("A", 1L), ("A", 64L)).toDF("seg", "cents")
    val s2 = Relational.theilDecomposition(skew, "seg", "cents").collect().head
    assert(s2.getLong(3) > 0, s"skewed group must show within inequality: $s2")
    // nonpositive amounts are undefined — loud
    val bad = Seq(("A", 0L)).toDF("seg", "cents")
    val e = intercept[Exception](
      Relational.theilDecomposition(bad, "seg", "cents").collect())
    assert(e.getMessage.contains("positive"), e.getMessage)
  }

  test("sprt: decisions at both Wald boundaries; hand-checked LLR; loud on bad flags") {
    // p0=0.5, p1=0.8: C1=ln(1.6)≈0.470, C2=ln(0.4)≈−0.916;
    // bounds at 5%/20%: up=ln(16)≈2.773, lo=ln(0.2/0.95)≈−1.558
    // group A: 8/8 successes → llr=8·C1≈3.76 ≥ up → accept_h1
    // group B: 0/3 → llr=3·C2≈−2.75 ≤ lo → accept_h0
    // group C: 3/4 → llr≈0.494 → continue
    val rows = (Seq.fill(8)(("A", 1L)) ++ Seq.fill(3)(("B", 0L)) ++
      Seq(("C", 1L), ("C", 1L), ("C", 1L), ("C", 0L))).toDF("g", "s")
    val got = Relational.sprt(rows, "g", "s", p0 = 0.5, p1 = 0.8)
      .orderBy("g").as[(String, Long, Long, Long, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._5)) == Seq(
      ("A", 8L, 8L, "accept_h1"), ("B", 3L, 0L, "accept_h0"),
      ("C", 4L, 3L, "continue")), s"$got")
    val llrA = got.head._4
    assert(llrA == math.floor(1000 * 8 * math.log(1.6)).toLong, s"$llrA")
    // non-0/1 success flags raise in-column
    val bad = Seq(("A", 2L)).toDF("g", "s")
    val ex = intercept[Exception](
      Relational.sprt(bad, "g", "s", 0.5, 0.8).collect())
    assert(ex.getMessage.contains("0/1"), ex.getMessage)
    // parameter guards
    intercept[IllegalArgumentException](Relational.sprt(rows, "g", "s", 0.8, 0.5))
  }

  test("diffInDiff: hand-computed double delta; empty cell reads NULL; bad flags fail loudly") {
    // control drifts +2 (10→12), treated +7 (20→27) ⇒ DiD = +5
    val raw = Seq(
      (0L, 0L, 9L), (0L, 0L, 11L), (0L, 1L, 12L), (0L, 1L, 12L),
      (1L, 0L, 19L), (1L, 0L, 21L), (1L, 1L, 26L), (1L, 1L, 28L))
    val rows = raw.toDF("arm", "period", "v")
    val got = Relational.diffInDiff(rows, "arm", "period", "v")
      .orderBy("arm")
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 10000L, 12000L, 2000L, Some(5000L)),
      (1L, 2L, 2L, 20000L, 27000L, 7000L, Some(5000L))), s"got $got")
    // a missing treated-post cell: that arm's delta and the DiD read NULL
    val sparse = raw.filter(r => !(r._1 == 1L && r._2 == 1L))
      .toDF("arm", "period", "v")
    val sp = Relational.diffInDiff(sparse, "arm", "period", "v")
      .orderBy("arm").collect()
    assert(sp(1).isNullAt(5) && sp(0).isNullAt(6) && sp(1).isNullAt(6), s"${sp.toSeq}")
    // arm = 2 is not a flag — loud
    val bad = Seq((2L, 0L, 1L)).toDF("arm", "period", "v")
    val e = intercept[Exception](
      Relational.diffInDiff(bad, "arm", "period", "v").collect())
    assert(e.getMessage.contains("must be 0 or 1"), e.getMessage)
  }

  test("cuped: hand-computed theta/adjusted means; perfect covariate removes all variance; flat covariate disarms") {
    // arms 0/1, covariate x, metric y = 10*x + arm-effect:
    //   arm 0: (x,y) = (1,10), (3,30); arm 1: (2,24), (4,44)
    // pooled: N=4, SX=10, SY=108, Var n·Sxx−Sx² form via doubles:
    // x̄=2.5, ȳ=27; cov = Σxy−SxSy/N = (10+90+48+176) − 10·108/4 = 324−270 = 54
    // varx = Σxx−Sx²/N = 30−25 = 5 ⇒ θ = 10.8
    // arm0 adj = 20 − 10.8·(2−2.5) = 25.4 → 25400 e3
    // arm1 adj = 34 − 10.8·(3−2.5) = 28.6 → 28600 e3 (wait: floor exact)
    val df = Seq((0L, 1L, 10L), (0L, 3L, 30L), (1L, 2L, 24L), (1L, 4L, 44L))
      .toDF("arm", "x", "y")
    val got = Relational.cuped(df, "arm", "x", "y")
      .orderBy("arm")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].collect().toSeq
    // expectations via the SAME pinned double ops (θ = 10.8 is inexact in
    // binary — the ppm floors must come from the formula, not the pencil)
    val theta = 54.0 / 5.0
    val vr = math.floor(1e6 * 54.0 * 54.0 / (5.0 * 596.0)).toLong
    val adj0 = math.floor(1e3 * (20.0 - theta * (2.0 - 2.5))).toLong
    val adj1 = math.floor(1e3 * (34.0 - theta * (3.0 - 2.5))).toLong
    assert(got == Seq(
      (0L, 2L, 20000L, adj0, Some(math.floor(1e6 * theta).toLong), Some(vr)),
      (1L, 2L, 34000L, adj1, Some(math.floor(1e6 * theta).toLong), Some(vr))),
      s"got $got (adj $adj0/$adj1, vr $vr)")
    // the adjustment is mean-preserving across arms up to the floors:
    // Σ n_a·adj_a ≈ Σ n_a·raw_a (θ is pooled)
    assert(math.abs((got(0)._4 + got(1)._4) - (20000L + 34000L)) <= 1)
    // flat covariate: varX = 0 — CUPED disarms to the raw means, theta NULL
    val flat = Seq((0L, 7L, 10L), (0L, 7L, 30L), (1L, 7L, 24L)).toDF("arm", "x", "y")
    val f = Relational.cuped(flat, "arm", "x", "y").orderBy("arm")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(f == Seq((0L, 2L, 20000L, 20000L, None, None),
      (1L, 1L, 24000L, 24000L, None, None)), s"got $f")
  }

  test("ols2: exact plane recovered with R2 = 1e6; collinear features read NULL; residual fit hand-checked") {
    // y = 2 + 3*x1 + 5*x2 exactly: coefficients and R² exact (floor of
    // an exact double ratio)
    val plane = Seq(
      (1L, 0L, 0L, 2L), (1L, 1L, 0L, 5L), (1L, 0L, 1L, 7L),
      (1L, 1L, 1L, 10L), (1L, 2L, 3L, 23L), (1L, 4L, 1L, 19L))
      .toDF("g", "x1", "x2", "y")
    val got = Relational.ols2(plane, Seq("g"), "y", "x1", "x2")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(got == ((1L, 6L, Some(2000000L), Some(3000000L), Some(5000000L),
      Some(1000000L))), s"got $got")
    // collinear: x2 = 2*x1 — singular normal equations, NULL not NaN
    val coll = Seq((1L, 1L, 2L, 3L), (1L, 2L, 4L, 5L), (1L, 3L, 6L, 8L))
      .toDF("g", "x1", "x2", "y")
    val c = Relational.ols2(coll, Seq("g"), "y", "x1", "x2").collect().head
    assert(c.isNullAt(2) && c.isNullAt(3) && c.isNullAt(4) && c.isNullAt(5), s"$c")
    // noisy fit against a literal driver-side normal-equation solve
    val rows = (1 to 40).map { i =>
      val h = graft.functions.Mix.splitmix64(0x015L + i)
      val x1 = (h % 50).abs; val x2 = (graft.functions.Mix.splitmix64(h) % 30).abs
      (1L, x1, x2, 7 + 2 * x1 - 3 * x2 + (i % 5))
    }
    val r = Relational.ols2(rows.toDF("g", "x1", "x2", "y"), Seq("g"), "y", "x1", "x2")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().head
    val (n, s1, s2, sy) = (rows.size.toDouble, rows.map(_._2).sum.toDouble,
      rows.map(_._3).sum.toDouble, rows.map(_._4).sum.toDouble)
    val s11 = rows.map(t => t._2 * t._2).sum.toDouble
    val s22 = rows.map(t => t._3 * t._3).sum.toDouble
    val s12 = rows.map(t => t._2 * t._3).sum.toDouble
    val s1y = rows.map(t => t._2 * t._4).sum.toDouble
    val s2y = rows.map(t => t._3 * t._4).sum.toDouble
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val b1 = (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)) / det
    assert(r._4.contains(math.floor(1e6 * b1).toLong), s"b1: $r vs $b1")
    assert(r._6.exists(v => v > 900000L && v <= 1000000L), s"r2: $r")
  }

  test("welchT: hand-computed t2/df incl. the one-sided-variance case; degenerate NULLs; empty emits nothing") {
    // A = {10, 20, 30} cents (mean 20, s2 = 100), B = {40, 40, 40} (s2 = 0):
    // t2 = (20-40)^2 / (100/3) = 12; Welch df collapses to n_a - 1 = 2
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L),
      ("b", 40L), ("b", 40L), ("b", 40L)).toDF("side", "v")
    val r = Relational.welchT(df, "v", "side", "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)), r.toString)
    assert(r.getLong(2) == -20000000L, s"mean_diff ${r.getLong(2)}")
    assert(r.getLong(3) == 12000000L, s"t2 ${r.getLong(3)}")
    assert(r.getLong(4) == 2000L, s"df ${r.getLong(4)}")
    // both variances zero -> NULL statistic, row still reports counts
    val flat = Seq(("a", 5L), ("a", 5L), ("b", 7L), ("b", 7L)).toDF("side", "v")
    val f = Relational.welchT(flat, "v", "side", "a", "b").collect()(0)
    assert(f.isNullAt(3) && f.isNullAt(4), f.toString)
    assert(f.getLong(2) == -2000000L) // exact integral mean diff survives
    // a 1-sample side -> NULL statistic (variance undefined)
    val one = Seq(("a", 5L), ("b", 7L), ("b", 9L)).toDF("side", "v")
    assert(Relational.welchT(one, "v", "side", "a", "b").collect()(0).isNullAt(3))
    // empty input -> zero rows (the ksTest convention)
    assert(Relational.welchT(df.where($"v" > 999), "v", "side", "a", "b").count() == 0L)
    intercept[IllegalArgumentException](Relational.welchT(df, "v", "side", "a", "a"))
  }

  test("kendallTau: hand-computed concordance, ties, deterministic sample cap") {
    val up = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 3L, 3L)).toDF("id", "x", "y")
    val u = Relational.kendallTau(up, "id", "x", "y").collect()(0)
    assert((u.getLong(0), u.getLong(1)) == ((3L, 3L)), u.toString)
    assert(u.getLong(4) == 1000L, s"perfect concordance ${u.getLong(4)}")
    // reversed: sqrt(3)·sqrt(3) lands one ulp BELOW 3 → −3000/2.999…
    // = −1000.0000000000002 → floor −1001 (deterministic, both engines)
    val down = Seq((1L, 1L, 3L), (2L, 2L, 2L), (3L, 3L, 1L)).toDF("id", "x", "y")
    assert(Relational.kendallTau(down, "id", "x", "y").collect()(0).getLong(4) == -1001L)
    // x = {1,1,2}, y distinct: S = 2, tie_x = 1 → tau = 2/(√2·√3) = 0.816
    val tied = Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 2L, 3L)).toDF("id", "x", "y")
    val t = Relational.kendallTau(tied, "id", "x", "y").collect()(0)
    assert((t.getLong(2), t.getLong(3)) == ((1L, 0L)), t.toString)
    assert(t.getLong(4) == 816L, s"tie-corrected tau ${t.getLong(4)}")
    // all-tied x → denominator 0 → NULL
    val flat = Seq((1L, 5L, 1L), (2L, 5L, 2L)).toDF("id", "x", "y")
    assert(Relational.kendallTau(flat, "id", "x", "y").collect()(0).isNullAt(4))
    // the md5 sample cap binds and is order-deterministic
    val big = (1L to 100L).map(i => (i, i, i * 2)).toDF("id", "x", "y")
    val s1 = Relational.kendallTau(big, "id", "x", "y", maxRows = 10).collect()(0)
    val s2 = Relational.kendallTau(big.repartition(7), "id", "x", "y", maxRows = 10).collect()(0)
    assert(s1.getLong(0) == 10L && s1.toString == s2.toString)
  }

  test("cramersV: perfect association = 1e6, independence ~ 0, 1×k degenerate NULL") {
    // perfect diagonal 2×2: chi2 = n -> V = 1 exactly (sqrt(1.0) is exact)
    val perfect = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")).toDF("r", "c")
    val p = Relational.cramersV(perfect, "r", "c").collect()(0)
    assert(p.getLong(4) == 1000000L, p.toString)
    // perfectly balanced grid -> chi2 = 0 -> V = 0
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")).toDF("r", "c")
    assert(Relational.cramersV(indep, "r", "c").collect()(0).getLong(4) == 0L)
    // one row category: min(r-1, c-1) = 0 -> NULL (V undefined)
    val flat = Seq(("a", "x"), ("a", "y")).toDF("r", "c")
    assert(Relational.cramersV(flat, "r", "c").collect()(0).isNullAt(4))
  }

  test("fleissKappa: hand-computed, perfect agreement, degenerate NULL, ragged panel loud") {
    // 3 items × 2 raters: two unanimous + one split → S2 = 10, T = 6,
    // P̄ = 2/3, P̄e = 1/2 → kappa = 1/3
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"),
      (3L, "a"), (3L, "b")).toDF("item", "cat")
    val r = Relational.fleissKappa(df, "item", "cat").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 2L)), r.toString)
    assert(r.getLong(3) == 333333L, s"kappa ${r.getLong(3)}")
    // perfect 2-category agreement → exactly 1e6
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("item", "cat")
    assert(Relational.fleissKappa(perfect, "item", "cat").collect()(0).getLong(3) == 1000000L)
    // every rating one category → P̄e = 1 → NULL (nothing to correct against)
    val mono = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a")).toDF("item", "cat")
    assert(Relational.fleissKappa(mono, "item", "cat").collect()(0).isNullAt(3))
    // single rater → no pairs → NULL
    val solo = Seq((1L, "a"), (2L, "b")).toDF("item", "cat")
    assert(Relational.fleissKappa(solo, "item", "cat").collect()(0).isNullAt(3))
    // ragged panel fails loudly
    val ragged = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("item", "cat")
    val e = intercept[Exception](Relational.fleissKappa(ragged, "item", "cat").collect())
    assert(e.getMessage.contains("ragged") || e.getCause.getMessage.contains("ragged"))
  }

  test("mannWhitney: hand-computed rank sums, tie correction and z; empty emits nothing") {
    // A = {1, 2, 4}, B = {2, 3, 5}: 2W_A = 2·(1 + 2.5 + 5) = 17,
    // 2U_A = 17 − 3·4 = 5; ties: one block of 2 → Σ(t³−t) = 6;
    // Var = 9·[(216−6) − 6]/360 = 5.1; z = (−4 − sign(−4))/(2√5.1)
    val df = Seq(("a", 1L), ("a", 2L), ("a", 4L),
      ("b", 2L), ("b", 3L), ("b", 5L)).toDF("side", "v")
    val r = Relational.mannWhitney(df, "v", "side", "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)), r.toString)
    assert(r.getLong(2) == 5L, s"u2_a ${r.getLong(2)}")
    assert(r.getLong(3) == 6L, s"tie_cubes ${r.getLong(3)}")
    assert(r.getLong(4) == -665L, s"z_milli ${r.getLong(4)}") // floor(−664.208…)
    // all values tied -> Var = 0 -> NULL z, counts still report
    val flat = Seq(("a", 7L), ("a", 7L), ("b", 7L)).toDF("side", "v")
    assert(Relational.mannWhitney(flat, "v", "side", "a", "b").collect()(0).isNullAt(4))
    // empty input -> zero rows (the ksTest convention)
    assert(Relational.mannWhitney(df.where($"v" > 99), "v", "side", "a", "b").count() == 0L)
    intercept[IllegalArgumentException](Relational.mannWhitney(df, "v", "side", "a", "a"))
  }

  test("kruskalWallis: hand-computed H on separated groups; tie-corrected; value ties exercised") {
    // g1 = {1,2,3}, g2 = {4,5,6}, g3 = {7,8,9}: R2_g = 12, 30, 48 and all
    // R2_g²/(4n_g) divide exactly → S = 279; H = 12·279/90 − 30 = 7.2
    val df = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 4L), ("g2", 5L), ("g2", 6L),
      ("g3", 7L), ("g3", 8L), ("g3", 9L)).toDF("g", "v")
    val r = Relational.kruskalWallis(df, "v", "g").collect()(0)
    assert(r.getLong(0) == 9L && r.getLong(1) == 3L, r.toString)
    assert(r.getLong(2) == 0L, s"tie_cubes ${r.getLong(2)}")
    assert(r.getLong(3) == 7200L, s"h_milli ${r.getLong(3)}")
    // identical groups with heavy ties -> H ~ 0 (at toy n the per-group
    // floor shows up in milli — replayed by the oracle, not drift; here
    // S = 24 vs the true 25 → H_corr = −0.75 exactly);
    // all-equal values -> correction hits 0 -> NULL
    val same = Seq(("g1", 5L), ("g1", 6L), ("g2", 5L), ("g2", 6L)).toDF("g", "v")
    val h = Relational.kruskalWallis(same, "v", "g").collect()(0).getLong(3)
    assert(h == -750L, s"identical groups at toy n read the recipe's −750, got $h")
    val allEq = Seq(("g1", 5L), ("g2", 5L)).toDF("g", "v")
    assert(Relational.kruskalWallis(allEq, "v", "g").collect()(0).isNullAt(3))
  }

  test("spearman: monotone = ±1e6, hand-computed tie case, constant side NULL") {
    // perfect monotone: sqrt(80)·sqrt(80) lands one ulp ABOVE 80 in
    // IEEE, so the floored ppm reads 999999 — deterministic on both
    // engines (the mirrored-sqrt contract), not drift
    val up = Seq((1L, 1L), (2L, 4L), (3L, 9L), (4L, 16L)).toDF("x", "y")
    assert(Relational.spearman(up, "x", "y").collect()(0).getLong(1) == 999999L)
    val down = Seq((1L, 16L), (2L, 9L), (3L, 4L), (4L, 1L)).toDF("x", "y")
    assert(Relational.spearman(down, "x", "y").collect()(0).getLong(1) == -1000000L)
    // x = {1,1,2}: R2a = {3,3,6}; y distinct: R2b = {2,4,6} →
    // rho = 18/(√18·√24) = 0.866025…, floor ppm = 866025
    val tied = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("x", "y")
    assert(Relational.spearman(tied, "x", "y").collect()(0).getLong(1) == 866025L)
    // constant x -> zero rank variance -> NULL rho
    val const = Seq((5L, 1L), (5L, 2L)).toDF("x", "y")
    assert(Relational.spearman(const, "x", "y").collect()(0).isNullAt(1))
  }

  test("twoProportionZ: hand z2, degenerate pooled rates NULL, 0/1 validation loud, booleans accepted") {
    // a: 6/10, b: 2/10 -> z2 = (60-20)^2 * 20 / (100 * 8 * 12) = 10/3
    val rows = (1 to 10).map(i => ("a", if (i <= 6) 1L else 0L)) ++
      (1 to 10).map(i => ("b", if (i <= 2) 1L else 0L))
    val r = Relational.twoProportionZ(rows.toDF("side", "ok"), "ok", "side", "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((10L, 6L, 10L, 2L)), r.toString)
    assert((r.getLong(4), r.getLong(5)) == ((600000L, 200000L)))
    assert(r.getLong(6) == 3333333L, s"z2 ${r.getLong(6)}")
    // all-success pooled rate -> NULL z2 (zero pooled variance)
    val all = Seq(("a", 1L), ("b", 1L)).toDF("side", "ok")
    assert(Relational.twoProportionZ(all, "ok", "side", "a", "b").collect()(0).isNullAt(6))
    // boolean success column casts
    val b = Seq(("a", true), ("a", false), ("b", false), ("b", false)).toDF("side", "ok")
    val rb = Relational.twoProportionZ(b, "ok", "side", "a", "b").collect()(0)
    assert((rb.getLong(1), rb.getLong(3)) == ((1L, 0L)))
    // a 2 is not a success count -- loud, not silently truthy
    val bad = Seq(("a", 2L), ("b", 0L)).toDF("side", "ok")
    val e = intercept[Exception](
      Relational.twoProportionZ(bad, "ok", "side", "a", "b").collect())
    assert(e.getMessage != null && e.getMessage.contains("must be 0/1"), e.getMessage)
    // empty -> zero rows
    assert(Relational.twoProportionZ(
      b.where($"side" === "zz"), "ok", "side", "a", "b").count() == 0L)
  }

  test("ksTest agrees with a literal max-CDF-gap scan on random samples") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(_ => (if (rnd.nextBoolean()) "a" else "b",
      rnd.nextInt(40).toLong))
    val got = graft.pipeline.Relational.ksTest(rows.toDF("side", "v"),
        "v", "side", "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    val as = rows.filter(_._1 == "a").map(_._2)
    val bs = rows.filter(_._1 == "b").map(_._2)
    val vals = (as ++ bs).distinct.sorted
    val scan = vals.map { t =>
      (math.abs(bs.size.toLong * as.count(_ <= t) - as.size.toLong * bs.count(_ <= t)), t)
    }
    val best = scan.maxBy { case (d, t) => (d, -t) }
    assert(got._1 == as.size && got._2 == bs.size, s"$got")
    assert(got._3 == best._1 && got._5 == best._2, s"$got vs $best")
    assert(got._4 == best._1 * 1000000L / (as.size.toLong * bs.size), s"$got")
  }

  test("dowProfile: ISO weekday shares in integer ppm") {
    // 2024-03-01 = Friday (isodow 5), 2024-03-02 = Saturday (6)
    val ev = Seq(
      ("a", ts(1), 1.0), ("a", ts(1), 2.0), ("a", ts(1, 23), 3.0),
      ("a", ts(2), 4.0),
      ("b", ts(2), 10.0)
    ).toDF("event_type", "ts", "value")
    val got = TimeSeries.dowProfile(ev, "event_type", "ts", "value")
      .orderBy("event_type", "dow")
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 5, 3L, 600L, 750000L),
      ("a", 6, 1L, 400L, 250000L),
      ("b", 6, 1L, 1000L, 1000000L)), s"$got")
  }

  test("seasonalDecompose: linear+cycle series recovers trend exactly, seasonal sums to zero, residual 0") {
    // cents = 10·d + 30·[phase(day) == bumped phase], period 3: the
    // centered 3-MA of the bump is a flat +10, so trend = 10·d + 10 on
    // interior days, detrended = {+20, −10, −10} by phase, grand mean 0,
    // residual identically 0 — every value exact, no anchor arithmetic
    import java.time.LocalDate
    val bump = (LocalDate.of(2024, 3, 1).toEpochDay % 3).toInt // day 1's phase
    def phase(d: Int) = (LocalDate.of(2024, 3, d).toEpochDay % 3).toInt
    val rows = (1 to 9).map { d =>
      val cents = 10 * d + (if (phase(d) == bump) 30 else 0)
      ("u", ts(d), cents / 100.0)
    } :+ (("short", ts(1), 1.0)) :+ (("short", ts(2), 2.0))
    val df = rows.toDF("k", "t", "v")
    val got = TimeSeries.seasonalDecompose(df, "k", "t", "v", period = 3)
      .orderBy("k", "day").collect()
    val u = got.filter(_.getString(0) == "u")
    assert(u.length == 9)
    for (r <- u) {
      val d = r.getDate(1).toLocalDate.getDayOfMonth
      if (d == 1 || d == 9) {
        assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5), s"edge $r")
      } else {
        assert(r.getLong(3) == 10L * d + 10, s"trend $r")
        val expSeason = if (phase(d) == bump) 20L else -10L
        assert(r.getLong(4) == expSeason, s"seasonal $r")
        assert(r.getLong(5) == 0L, s"residual $r")
      }
    }
    // grand-mean centering: the three PHASE INDICES sum to zero (not the
    // interior days — phases carry unequal day counts)
    val byPhase = u.filter(!_.isNullAt(4))
      .map(r => phase(r.getDate(1).toLocalDate.getDayOfMonth) -> r.getLong(4))
      .toMap // consistent per phase by construction
    assert(byPhase.size == 3 && byPhase.values.sum == 0L, byPhase.toString)
    // a key shorter than one period: spine rows survive, all components NULL
    val s = got.filter(_.getString(0) == "short")
    assert(s.length == 2 && s.forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)), s.mkString(","))
    // out-of-range periods are refused
    intercept[IllegalArgumentException](
      TimeSeries.seasonalDecompose(df, "k", "t", "v", period = 1))
    intercept[IllegalArgumentException](
      TimeSeries.seasonalDecompose(df, "k", "t", "v", period = 366))
  }

  test("seasonalDecompose EVEN period: 2xMA recovers the linear trend exactly, " +
      "edges one row wider per side, seasonal sums to zero, residual 0") {
    // cents = 10·d + 40·[phase(day) == bumped phase], period 4 (h = 2,
    // 5-row window, endpoints half-weighted). Linear part: 2·Σ50d −
    // 10(d−2) − 10(d+2) = 80d, DIV 8 = 10d exactly. Bump part: 5
    // consecutive days hold each phase once except phase(d−2) =
    // phase(d+2) twice — half-weighted endpoints make the bump's 2×MA a
    // flat +10 either way. So trend = 10d + 10 on ALL interior days,
    // detrended = {+30 bump phase, −10 others}, grand mean 0, residual 0.
    import java.time.LocalDate
    def phase(d: Int) = (LocalDate.of(2024, 3, d).toEpochDay % 4).toInt
    val bump = phase(1)
    val rows = (1 to 12).map { d =>
      val cents = 10 * d + (if (phase(d) == bump) 40 else 0)
      ("u", ts(d), cents / 100.0)
    }
    val got = TimeSeries.seasonalDecompose(rows.toDF("k", "t", "v"),
        "k", "t", "v", period = 4)
      .orderBy("day").collect()
    assert(got.length == 12)
    for (r <- got) {
      val d = r.getDate(1).toLocalDate.getDayOfMonth
      if (d <= 2 || d >= 11) { // h = 2 edge rows per side (odd h=1 would keep d=2/11)
        assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5), s"edge $r")
      } else {
        assert(r.getLong(3) == 10L * d + 10, s"trend $r")
        val expSeason = if (phase(d) == bump) 30L else -10L
        assert(r.getLong(4) == expSeason, s"seasonal $r")
        assert(r.getLong(5) == 0L, s"residual $r")
      }
    }
    val byPhase = got.filter(!_.isNullAt(4))
      .map(r => phase(r.getDate(1).toLocalDate.getDayOfMonth) -> r.getLong(4))
      .toMap
    assert(byPhase.size == 4 && byPhase.values.sum == 0L, byPhase.toString)
  }

  test("cusum: prefix-sum closed form equals the hand-run max-recurrence") {
    // key 1: baseline days 1-2 (mean 200c), then 100, 500, 600, 100 —
    // hand recurrence with slack 50c: S = 0, 250, 600, 450; alarms at
    // S > 200c on days 4, 5, 6; max S = 600c
    val df = Seq(
      (1L, ts(1), 1.00), (1L, ts(2), 3.00), (1L, ts(3), 1.00),
      (1L, ts(4), 5.00), (1L, ts(5), 6.00), (1L, ts(6), 1.00),
      // key 2: spine (1 day) not longer than the baseline — drops out
      (2L, ts(9), 9.99)
    ).toDF("user_id", "ts", "value")
    val got = TimeSeries.cusum(df, "user_id", "ts", "value",
        baselineDays = 2, slackCents = 50L, thresholdCents = 200L)
      .as[(Long, Long, Long, Option[Date], Long)].collect().toSeq
    assert(got == Seq((1L, 6L, 3L, Some(Date.valueOf("2024-03-04")), 600L)), s"$got")
  }

  test("cusumOnSpine: the detector core on a derived spine == cusum on the raw events") {
    val df = Seq(
      (1L, ts(1), 1.00), (1L, ts(2), 3.00), (1L, ts(3), 1.00),
      (1L, ts(4), 5.00), (1L, ts(5), 6.00), (1L, ts(6), 1.00)
    ).toDF("user_id", "ts", "value")
    val viaEvents = TimeSeries.cusum(df, "user_id", "ts", "value", 2, 50L, 200L)
      .collect().map(_.toString).toSeq
    val viaSpine = TimeSeries.cusumOnSpine(
        TimeSeries.resampleGapFill(df, "user_id", "ts", "value"),
        "user_id", "day", "value_cents", 2, 50L, 200L)
      .collect().map(_.toString).toSeq
    assert(viaEvents == viaSpine, s"$viaEvents vs $viaSpine")
  }

  test("cusum: a never-alarming key reports NULL first_alarm_day, 0 alarms") {
    val df = Seq((1L, ts(1), 2.00), (1L, ts(2), 2.00), (1L, ts(3), 2.00))
      .toDF("user_id", "ts", "value")
    val got = TimeSeries.cusum(df, "user_id", "ts", "value",
        baselineDays = 1, slackCents = 0L, thresholdCents = 100L)
      .as[(Long, Long, Long, Option[Date], Long)].collect().toSeq
    // d = x - 200 = 0 every day: S stays 0, never over the threshold
    assert(got == Seq((1L, 3L, 0L, None, 0L)), s"$got")
  }

  test("theil-sen: lower median of all pairwise slopes, gap days as zeros") {
    val df = Seq(
      // key 1, days 1-4: 100, 200, 150, 400 cents — slopes (ppm/day)
      // -50M, 25M, 100M, 100M, 100M, 250M; lower median (rank 3 of 6) = 100M
      (1L, ts(1), 1.00), (1L, ts(2), 2.00), (1L, ts(3), 1.50), (1L, ts(4), 4.00),
      // key 2, days 1 and 3 (day 2 is a GAP -> 0 cents): slopes
      // -100M, -25M (truncating -50M/2), 50M; lower median (rank 2 of 3) = -25M
      (2L, ts(1), 1.00), (2L, ts(3), 0.50)
    ).toDF("user_id", "ts", "value")
    val got = TimeSeries.theilSen(df, "user_id", "ts", "value")
      .orderBy("user_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 6L, 100000000L), (2L, 3L, 3L, -25000000L)), s"$got")
  }

  test("theil-sen: single-day keys produce no pairs and drop out") {
    val df = Seq((7L, ts(5), 1.00)).toDF("user_id", "ts", "value")
    assert(TimeSeries.theilSen(df, "user_id", "ts", "value").count() == 0L)
  }

  test("theil-sen: exact on a clean line; past the span cap it fails loudly") {
    // a perfectly linear series: EVERY pair's slope is the per-day step,
    // 30 daily points at +3 cents/day
    val lin = (1 to 30).map(d => (1L, ts(d), 0.03 * d)).toDF("user_id", "ts", "value")
    assert(TimeSeries.theilSen(lin, "user_id", "ts", "value")
      .collect().head.getLong(3) == 3000000L)
    // past the default span cap the quadratic estimator refuses LOUDLY
    val far = new Timestamp(ts(1).getTime + 1299L * 86400000L) // +1299 days
    val long = Seq((1L, ts(1), 1.00), (1L, far, 14.00)).toDF("user_id", "ts", "value")
    val ex = intercept[Exception](
      TimeSeries.theilSen(long, "user_id", "ts", "value").collect())
    assert(ex.getMessage.contains("maxSpanDays"), ex.getMessage)
  }

  test("botScreen: metronomic high-volume user flags; slow or single-event users never do") {
    val base = 1700000000000000L // epoch micros
    def t(us: Long) = new java.sql.Timestamp(us / 1000)
    val rows =
      // user 1: 10 events exactly 2 s apart — median gap 2000 ms
      (0 until 10).map(i => (1L, t(base + i * 2000000L))) ++
      // user 2: 10 events 60 s apart — median gap 60000 ms
      (0 until 10).map(i => (2L, t(base + i * 60000000L))) ++
      // user 3: one event — no gaps, NULL median, never a bot
      Seq((3L, t(base)))
    val df = rows.toDF("user_id", "ts")
    val got = TimeSeries.botScreen(df, "user_id", "ts",
        minEvents = 10, maxMedianGapMs = 5000L)
      .orderBy("user_id")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 10L, Some(4000L), true),   // 2000 ms ×2
      (2L, 10L, Some(120000L), false),
      (3L, 1L, None, false)), s"$got")
  }

  test("croston: hand-computed EWMA pair, constant cadence exact, single demand NULL rate") {
    // user 1: demand 1.00 on days 1,3,5,7 — sizes constant 100 cents ⇒
    // ẑ = 100; gaps constant 2000 (×10³) ⇒ p̂ = 2000; rate = 100·1e6 DIV
    // 2000 = 50000 (50 cents/day ×10³). Zero-value day 4 is NOT a demand.
    // user 2: one demand only — no interval, NULL p̂ and rate.
    // user 3: sizes 100, 300 with gap 1000: ẑ = (300 + 3·100) DIV 4 = 150.
    val rows = Seq(
      (1L, ts(1), 1.00), (1L, ts(3), 1.00), (1L, ts(4), 0.00),
      (1L, ts(5), 1.00), (1L, ts(7), 1.00),
      (2L, ts(2), 5.00),
      (3L, ts(1), 1.00), (3L, ts(2), 3.00))
      .toDF("user_id", "ts", "value")
    val got = TimeSeries.croston(rows, "user_id", "ts", "value")
      .orderBy("user_id")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 100L, Some(2000L), Some(50000L)),
      (2L, 1L, 500L, None, None),
      (3L, 2L, 150L, Some(1000L), Some(150000L))), s"got $got")
    // two same-day demands collapse into one daily bucket (and a zero-sum
    // day cancels out of the demand sequence entirely)
    val collapse = Seq((1L, ts(1), 1.00), (1L, ts(1), 2.00),
      (1L, ts(2), 1.00), (1L, ts(2), -1.00)).toDF("user_id", "ts", "value")
    val c = TimeSeries.croston(collapse, "user_id", "ts", "value")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(c == Seq((1L, 1L, 300L, None, None)), s"got $c")
  }

  test("burstiness: periodic reads exactly -1e6, bursty positive, degenerates drop or NULL") {
    val base = 1700000000000000L // epoch micros
    def t(us: Long) = new java.sql.Timestamp(us / 1000)
    val rows =
      // user 1: metronomic 2s gaps — σ = 0 ⇒ B = −1 exactly
      (0 until 6).map(i => (1L, t(base + i * 2000000L), i.toLong)) ++
      // user 2: gaps [0, 0, 0, 1000000] — bursty
      Seq((2L, t(base), 10L), (2L, t(base), 11L), (2L, t(base), 12L),
        (2L, t(base), 13L), (2L, t(base + 1000000L), 14L)) ++
      // user 3: all five events the same instant — all-zero gaps ⇒ NULL
      (0 until 5).map(i => (3L, t(base), 20L + i)) ++
      // user 4: only 3 gaps — below minGaps, dropped
      (0 until 4).map(i => (4L, t(base + i * 1000000L), 30L + i))
    val got = TimeSeries.burstiness(rows.toDF("user_id", "ts", "event_id"),
        "user_id", "ts", "event_id", minGaps = 4)
      .orderBy("user_id")
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    // user 2 by the same pinned arithmetic: sg = 1e6, sgg = 1e12, n = 4
    // ⇒ s2 = 3e12; B = (√3e12 − 1e6)/(√3e12 + 1e6)
    val s2 = math.sqrt(4.0 * 1e12 - 1e12)
    val b2 = math.floor(1000000 * (s2 - 1e6) / (s2 + 1e6)).toLong
    assert(got == Seq(
      (1L, 5L, 2000000L, Some(-1000000L)),
      (2L, 4L, 250000L, Some(b2)),
      (3L, 4L, 0L, None)), s"got $got (expected b2 = $b2)")
  }

  test("mann-kendall: hand-computed S/var/z on a monotone series; all-tied days read NULL z") {
    val df = Seq(
      // key 1, days 1-5 strictly increasing: S = C(5,2) = 10, no ties ->
      // var18 = 5*4*15 = 300; z = (10-1)*1000/sqrt(300/18) = 2204 (floor)
      (1L, ts(1), 1.00), (1L, ts(2), 2.00), (1L, ts(3), 3.00),
      (1L, ts(4), 4.00), (1L, ts(5), 5.00),
      // key 2, 3 identical days: S = 0, one tie group of 3 ->
      // var18 = 3*2*11 - 3*2*11 = 0 -> z NULL (no evidence either way)
      (2L, ts(1), 2.00), (2L, ts(2), 2.00), (2L, ts(3), 2.00),
      // key 3, days 1 and 3 (day 2 is a GAP -> 0 cents, a tie with
      // nothing): values 100, 0, 50 -> S = sgn(0-100)+sgn(50-100)+sgn(50-0)
      // = -1; n=3 no ties -> var18 = 66; z = (-1+1)*1000/sqrt(...) = 0
      (3L, ts(1), 1.00), (3L, ts(3), 0.50)
    ).toDF("user_id", "ts", "value")
    val got = TimeSeries.mannKendall(df, "user_id", "ts", "value")
      .orderBy("user_id")
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 10L, 300L, Some(2204L)),
      (2L, 3L, 0L, 0L, None),
      (3L, 3L, -1L, 66L, Some(0L))), s"$got")
  }
}
