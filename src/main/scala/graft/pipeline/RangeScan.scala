package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT running aggregates over a total order — the fix for
  * the one structural 100×-scale risk the r11 audit named: every
  * rank-statistic operator (ksTest / mannWhitney / kruskalWallis /
  * spearman), [[Relational.skylineMax]] and [[TimeSeries.kaplanMeier]]
  * used a global `Window.orderBy(v)` over their collapsed distinct-value
  * frame. Cost there is distinct values, not rows — but a continuous
  * column (raw cents on a 100 TB corpus) holds 10⁷–10⁸ distinct values,
  * and an unpartitioned window puts ALL of them on ONE reducer.
  *
  * This is the classic two-pass parallel prefix scan, expressed in
  * DataFrame ops so Catalyst/AQE keep owning the physical plan:
  *
  *   1. `repartitionByRange(P, order)` splits the frame into P
  *      order-contiguous buckets (P = `spark.sql.shuffle.partitions`);
  *      `spark_partition_id()` stamps each row's bucket. Range
  *      partitioning guarantees bucket i's keys all precede bucket
  *      i+1's, so bucket id IS the coarse position in the total order.
  *   2. The stamped frame is [[Materialize]]d ONCE. This is load-bearing
  *      for correctness, not a cache hint: the RangePartitioner samples
  *      its input to pick boundaries, and the within-partition row order
  *      of an upstream hash aggregate depends on shuffle-fetch arrival
  *      order — two independent computations of the same lineage could
  *      pick DIFFERENT boundaries, and the offsets branch would then
  *      disagree with the rows branch about which bucket a value is in.
  *      One materialization, one set of boundaries, both consumers
  *      read it.
  *   3. Pass 1 (parallel): per-bucket running aggregate via
  *      `Window.partitionBy(bucket).orderBy(order)` — P-way parallel.
  *   4. Pass 2 (bounded): per-bucket TOTALS (one partial-aggregated
  *      groupBy → ≤ P rows) get a running aggregate over bucket id —
  *      the ONLY unpartitioned window left, sized by the partition
  *      count (≤ a few thousand on any real cluster), never by data.
  *   5. Broadcast-join the ≤ P offset rows back on bucket id and
  *      combine: `cum = bucket_offset ⊕ local_cum`.
  *
  * Exactness: sums are LONG/DECIMAL adds and max is max — both
  * associative over the split, so the result is bit-identical to the
  * single-reducer window (the hash-gate contract: every caller's DuckDB
  * oracle still replays with a plain `SUM(...) OVER (ORDER BY v)`).
  * NULL semantics match the global window too: an empty/all-NULL prefix
  * reads NULL (sum combines via the null-skipping when-chain, max via
  * `greatest`, which returns NULL only when both sides are).
  *
  * Ties: buckets never split a key (range boundaries are values), and
  * every current caller scans a DISTINCT-key frame, so ROWS-frame tie
  * arbitrariness cannot differ from the global window's.
  *
  * Fault tolerance: the load-bearing [[Materialize]] is `localCheckpoint`,
  * whose blocks are executor-local and NOT replicated — on a
  * multi-executor cluster an executor loss fails the query loudly (never
  * wrongly). */
private[graft] object RangeScan {

  /** One running aggregate to compute: `out` = fn(`src`) over all rows
    * strictly before (includeCurrent = false) or up to and including
    * (true) the current row in the total order. `isMax` switches the
    * fold from SUM to MAX. */
  final case class Scan(src: Column, out: String,
                        isMax: Boolean = false,
                        includeCurrent: Boolean = false)

  /** Appends each scan's running-aggregate column to `df`. `order` is
    * the total order (sort expressions, `.desc` allowed); callers must
    * ensure it is total over the frame (all current callers scan
    * distinct-key collapses).
    *
    * KEYED scans via `partitionBy` (r13): the running aggregate restarts
    * per key — the `Window.partitionBy(k).orderBy(v)` replacement for
    * the FEW-KEYS × HUGE-FRAME shape (A/B arms over 10⁷ distinct
    * durations in [[TimeSeries.logRank]]: two partitions is still two
    * reducers for the whole frame). Range-partitioning on (keys ∷ order)
    * keeps each key's buckets order-contiguous, the local window
    * partitions by (keys, bucket), and the offset frame is ≤ P·(keys
    * crossing a boundary) rows, broadcast back. NOT for high-cardinality
    * keys — the offset broadcast is keys-proportional; a million-group
    * scan belongs on a plain partitioned window (each group is small). */
  def runningAgg(df: DataFrame, order: Seq[Column], scans: Seq[Scan],
                 partitionBy: Seq[String] = Nil): DataFrame = {
    // fail-loud: the scratch columns below would silently corrupt the
    // combines if the input frame already carried same-named columns
    // (e.g. a second scan composed without dropping the first's output)
    require(df.columns.forall(!_.startsWith("__rs_")),
      s"RangeScan.runningAgg: input frame carries reserved __rs_* columns: " +
        df.columns.filter(_.startsWith("__rs_")).mkString(", "))
    val parts = math.max(1,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val pCols = partitionBy.map(col)
    val bucketed = Materialize.cut(
      df.repartitionByRange(parts, (pCols ++ order): _*)
        .withColumn("__rs_b", spark_partition_id()))

    val wLocal = Window.partitionBy(pCols :+ col("__rs_b"): _*).orderBy(order: _*)
    val withLocal = scans.foldLeft(bucketed) { (acc, s) =>
      val frame = wLocal.rowsBetween(Window.unboundedPreceding,
        if (s.includeCurrent) Window.currentRow else -1L)
      val fn = if (s.isMax) max(s.src) else sum(s.src)
      acc.withColumn(s"__rs_l_${s.out}", fn.over(frame))
    }

    // per-(keys, bucket) totals: ≤ `parts` + boundary-crossing keys rows
    // — the bounded frame the one remaining key-partitioned (unkeyed:
    // unpartitioned) window below is allowed to scan
    val totalAggs = scans.map(s =>
      (if (s.isMax) max(s.src) else sum(s.src)).as(s"__rs_t_${s.out}"))
    val totals = bucketed.groupBy(pCols :+ col("__rs_b"): _*)
      .agg(totalAggs.head, totalAggs.drop(1): _*)
    val wOff = (if (pCols.isEmpty) Window.orderBy(col("__rs_b"))
                else Window.partitionBy(pCols: _*).orderBy(col("__rs_b")))
      .rowsBetween(Window.unboundedPreceding, -1L)
    val offsets = scans.foldLeft(totals) { (acc, s) =>
      val fn = if (s.isMax) max(col(s"__rs_t_${s.out}"))
               else sum(col(s"__rs_t_${s.out}"))
      acc.withColumn(s"__rs_o_${s.out}", fn.over(wOff))
    }.select((partitionBy :+ "__rs_b").map(col) ++
      scans.map(s => col(s"__rs_o_${s.out}")): _*)

    val combined = scans.foldLeft(
      withLocal.join(broadcast(offsets),
        partitionBy :+ "__rs_b", "left")) { (acc, s) =>
      val loc = col(s"__rs_l_${s.out}")
      val off = col(s"__rs_o_${s.out}")
      val cum =
        if (s.isMax) greatest(loc, off) // NULL only when both prefixes empty
        else when(loc.isNull, off).when(off.isNull, loc).otherwise(loc + off)
      acc.withColumn(s.out, cum)
    }
    combined.drop("__rs_b")
      .drop(scans.flatMap(s => Seq(s"__rs_l_${s.out}", s"__rs_o_${s.out}")): _*)
  }
}
