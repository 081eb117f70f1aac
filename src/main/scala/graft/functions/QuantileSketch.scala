package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Quantile-sketch state: a compactor hierarchy (Manku/Rajagopalan/Lindsay
  * SIGMOD'98 buffers; Karnin/Lang/Liberty FOCS'16 levels) — level `i`
  * holds items of weight 2^i, each level capped at `k` items. Overflowing
  * levels sort and promote every other item to the level above
  * (DETERMINISTIC alternating start parity, not a coin flip — same inputs,
  * same bytes), so state is O(k · log(N/k)) REGARDLESS of input
  * cardinality, and an odd leftover stays at its level so TOTAL WEIGHT IS
  * PRESERVED EXACTLY: the sketch's N is always the true count. */
private[functions] final class QuantState(val k: Int) {
  val levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])
  val parity: ArrayBuffer[Int] = ArrayBuffer(0)

  def insert(v: Double): Unit = {
    levels(0) += v
    if (levels(0).length >= k) compact(0)
  }

  private def compact(level: Int): Unit = {
    val buf = levels(level)
    val sorted = buf.toArray
    java.util.Arrays.sort(sorted)
    buf.clear()
    if (levels.length == level + 1) { levels += ArrayBuffer.empty[Double]; parity += 0 }
    // even prefix promotes (alternating offset); an odd leftover — the
    // max, a deterministic choice — keeps its weight at this level
    val even = sorted.length - (sorted.length & 1)
    if ((sorted.length & 1) == 1) buf += sorted(sorted.length - 1)
    var i = parity(level)
    parity(level) ^= 1
    val up = levels(level + 1)
    while (i < even) { up += sorted(i); i += 2 }
    if (up.length >= k) compact(level + 1)
  }

  def mergeIn(other: QuantState): Unit = {
    var l = 0
    while (l < other.levels.length) {
      if (levels.length == l) { levels += ArrayBuffer.empty[Double]; parity += 0 }
      levels(l) ++= other.levels(l)
      l += 1
    }
    l = 0
    while (l < levels.length) { if (levels(l).length >= k) compact(l); l += 1 }
  }

  def totalWeight: Long = {
    var n = 0L; var l = 0
    while (l < levels.length) { n += levels(l).length.toLong << l; l += 1 }
    n
  }

  /** Weighted R-7 quantiles (the same linear-interpolation rule as Spark's
    * `percentile` and DuckDB's `quantile_cont`): h = p·(N−1) over the
    * weight-expanded sorted multiset. In the exact regime this IS R-7 on
    * the raw data. */
  def quantiles(probs: Seq[Double]): Array[Double] = {
    val n = totalWeight
    if (n == 0) return Array.fill(probs.length)(Double.NaN)
    val items = ArrayBuffer.empty[(Double, Long)]
    var l = 0
    while (l < levels.length) {
      val w = 1L << l
      levels(l).foreach(v => items += ((v, w)))
      l += 1
    }
    val sorted = items.sortBy(_._1).toArray
    def valueAt(j: Long): Double = {
      var cum = 0L; var i = 0
      while (i < sorted.length) {
        cum += sorted(i)._2
        if (j < cum) return sorted(i)._1
        i += 1
      }
      sorted(sorted.length - 1)._1
    }
    probs.map { p =>
      val h = p * (n - 1)
      val j = math.floor(h).toLong
      val lo = valueAt(j)
      val hi = valueAt(math.min(j + 1, n - 1))
      lo + (h - j) * (hi - lo)
    }.toArray
  }

  def serialize(): Array[Byte] = {
    val size = 8 + levels.map(b => 8 + b.length * 8).sum
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(k)
    bb.putInt(levels.length)
    var l = 0
    while (l < levels.length) {
      bb.putInt(parity(l))
      bb.putInt(levels(l).length)
      levels(l).foreach(bb.putDouble)
      l += 1
    }
    bb.array()
  }
}

private[functions] object QuantState {
  def deserialize(bytes: Array[Byte]): QuantState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val st = new QuantState(bb.getInt)
    val nLevels = bb.getInt
    st.levels.clear(); st.parity.clear()
    var l = 0
    while (l < nLevels) {
      st.parity += bb.getInt
      val cnt = bb.getInt
      val buf = ArrayBuffer.empty[Double]
      var i = 0
      while (i < cnt) { buf += bb.getDouble; i += 1 }
      st.levels += buf
      l += 1
    }
    st
  }
}

/** quantile_sketch(value, k, probs) → array<double> — MERGEABLE quantile
  * summary as a bounded-state aggregate. Why not `percentile`: its
  * aggregation state holds EVERY value (an OpenHashMap of all distincts)
  * — fine for 60k rows, an executor-OOM for a per-group length
  * distribution over 10^11 documents. This state is O(k·log(N/k))
  * doubles no matter the input, partials merge level-wise, and the
  * guarantee is the classic compactor bound: rank error ≤ ε·N with
  * ε ≈ log₂(N/k)/k (spec-asserted empirically at N ≫ k).
  *
  * Determinism contract (the [[HeavyHitters]] pattern): in the EXACT
  * regime — no level ever overflowed, i.e. each PARTITION saw < k items
  * and each MERGE stayed under k — the result is R-7 linear-interpolation
  * quantiles computed exactly (same rule as Spark `percentile` / DuckDB
  * `quantile_cont`), deterministic under any partitioning, oracle-gatable.
  * In the approximate regime results are merge-order-dependent within the
  * rank-error bound (spec-asserted, not oracle-gated). NULLs are ignored;
  * empty input → array of NaN. */
case class QuantileSketch(child: Expression, k: Int, probs: Seq[Double],
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[QuantState] {
  require(k >= 8, s"k must be >= 8, got $k")
  require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
    s"probs must be in [0,1], got $probs")

  override def createAggregationBuffer(): QuantState = new QuantState(k)

  override def update(buf: QuantState, input: InternalRow): QuantState = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: QuantState, other: QuantState): QuantState = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: QuantState): Any =
    new GenericArrayData(buf.quantiles(probs).map(Double.box))

  override def serialize(buf: QuantState): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): QuantState =
    QuantState.deserialize(bytes)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantile_sketch expects a DOUBLE input (cast upstream), got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketch =
    copy(child = newChildren(0))
  override def prettyName: String = "quantile_sketch"
}

object QuantileSketch {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.{GraftShim => E}

  /** Column builder: `sketchQuantiles(col("n_words"), 4096, Seq(.25,.5,.75))`. */
  def sketchQuantiles(value: Column, k: Int, probs: Seq[Double]): Column =
    E.column(QuantileSketch(
      E.expression(value.cast("double")), k, probs).toAggregateExpression())
}
