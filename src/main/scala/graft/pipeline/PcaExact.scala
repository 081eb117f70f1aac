package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShim => E}
import org.apache.spark.sql.types._

/** INTEGER-EXACT PCA, the model behind `ann_pca_topk`. A float covariance
  * + Jacobi eigensolve is not oracle-replayable (per-rotation IEEE trig),
  * so the eigenproblem is written as an INTEGER recurrence both engines
  * can replay step for step (the `pipeline_quality_classifier`
  * precedent), and the DuckDB oracle unrolls the recurrence.
  *
  *  - QUANTIZE: `q_j = floor(x_j·1024 + 0.5)` — ·1024 is a pure exponent
  *    shift (exact in IEEE), the +0.5/floor is exact for |x| < 2⁴¹, so
  *    the longs are engine-identical from the same parquet floats.
  *  - SCATTER: `S = n·Σqqᵀ − (Σq)(Σq)ᵀ` — the integer scatter matrix
  *    (∝ n²·covariance; eigenVECTORS are scale-invariant, so no division
  *    ever happens). One distributed [[IntScatterAgg]] pass with a
  *    BOUNDED long state (d + d(d+1)/2 sums); the d×d assembly runs
  *    driver-side in BigInt.
  *  - EIGENVECTORS: power iteration with a TRUNCATING-DIV rescale,
  *    `w = S·v;  v' = (w · 2¹⁵) quot (max|w| + 1)` — every step integer
  *    (BigInt quot ≡ Spark `DIV` ≡ DuckDB `//`: all truncate toward
  *    zero, verified), a FIXED iteration count (convergence affects
  *    recall, never the hash — both engines compute the same v either
  *    way). Components 2..r come from integer Rayleigh deflation:
  *    `S ← S − (vᵀSv)·v vᵀ quot (vᵀv)²` (elementwise truncating quot).
  *  - PROJECT: `p_k(x) = Σ_j v_kj·q_j(x)` — a plan-constant pure-map
  *    [[IntProject]] expression; shortlist by integer projected dot
  *    (ties → neighbor id), exact full-space rerank (the shared ANN
  *    tail).
  *
  * DuckDB replay envelope (the oracle runs at sf0.01: n = 500, d = 64,
  * |q| ≤ 608): |s_ij| ≤ 2n²·q² ≈ 2·10¹¹; the deflation numerator
  * `(vᵀSv)·v_i·v_j` ≤ d²·|s|·2³⁰·2³⁰ ≈ 10³³ < HUGEINT's 1.7·10³⁸ —
  * headroom to n ≈ 10⁵ oracle rows. The ENGINE side is BigInt (no
  * envelope); the scatter agg's long state is safe to 10¹⁴ rows
  * (|Σq_iq_j| ≤ n·2²⁰). */
object PcaExact {

  /** ·1024 = 2¹⁰: exponent-shift exact. Mirrored textually by the oracle. */
  val Scale = 1024

  /** Power-iteration vector components live in [−2¹⁵, 2¹⁵]. */
  val VBits = 15

  /** Projections shed 16 bits (truncating ÷ 65536) so an r-dim projected
    * dot stays far inside LONG: |p| ≤ d·2¹⁵·|q| / 2¹⁶ ≈ d·|q|/2 — at
    * d = 64, |q| ≤ 4097 (|x| ≤ 4) that's ~1.3·10⁵ per component and
    * ~10¹¹ for an r = 8 dot. The shed bits only coarsen the SHORTLIST
    * ranking (the rerank is exact full-space); both engines truncate
    * toward zero. */
  val ProjShift = 65536L

  /** r integer direction vectors (row k = component k), unnormalized —
    * only the DIRECTION matters for the projected-space ranking. */
  final case class Model(d: Int, r: Int, vecs: Array[Array[Long]])

  /** One scatter pass + driver BigInt power iteration. `iters` is part
    * of the recurrence (the oracle unrolls exactly this many stages). */
  def fit(corpus: DataFrame, vecCol: String, r: Int, iters: Int = 24): Model = {
    val firstVec = corpus.select(col(vecCol)).where(col(vecCol).isNotNull)
      .limit(1).collect()
    require(firstVec.nonEmpty, "PcaExact fit needs at least one non-null vector")
    val d = firstVec.head.getSeq[Float](0).length
    require(r >= 1 && r <= d, s"r must be in [1, d=$d], got $r")
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val agg = E.column(IntScatterAgg(E.expression(col(vecCol)), d).toAggregateExpression())
    val row = corpus.agg(agg.as("s")).select("s.n", "s.sums", "s.prods").head
    val n = BigInt(row.getLong(0))
    require(n > 0, "PcaExact fit needs at least one vector")
    val sums = row.getSeq[Long](1).map(BigInt(_)).toArray
    val prods = row.getSeq[Long](2).map(BigInt(_)).toArray
    // assemble S = n·Σqqᵀ − (Σq)(Σq)ᵀ, full square for the plain loops
    val s = Array.ofDim[BigInt](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = n * prods(t) - sums(i) * sums(j)
        s(i)(j) = v
        s(j)(i) = v
        j += 1; t += 1
      }
      i += 1
    }
    val two15 = BigInt(1) << VBits
    val vecs = Array.ofDim[Long](r, d)
    var k = 0
    while (k < r) {
      var v = Array.fill(d)(BigInt(1)) // fixed deterministic start
      var it = 0
      while (it < iters) {
        val w = Array.tabulate(d) { i2 =>
          var acc = BigInt(0); var j2 = 0
          while (j2 < d) { acc += s(i2)(j2) * v(j2); j2 += 1 }
          acc
        }
        val m = w.map(_.abs).max
        v = w.map(x => (x * two15) / (m + 1)) // BigInt / truncates toward 0
        it += 1
      }
      var j2 = 0
      while (j2 < d) { vecs(k)(j2) = v(j2).toLong; j2 += 1 }
      // integer Rayleigh deflation: S ← S − (vᵀSv)·vvᵀ quot (vᵀv)²
      if (k < r - 1) {
        var lam = BigInt(0)
        var dd = BigInt(0)
        var a = 0
        while (a < d) {
          dd += v(a) * v(a)
          var b = 0
          while (b < d) { lam += v(a) * s(a)(b) * v(b); b += 1 }
          a += 1
        }
        // greatest(1, dd²) so an all-zero v (a zero matrix) degrades to a
        // no-op subtraction instead of a divide-by-zero — the oracle
        // mirrors the same greatest() textually
        val dd2 = (dd * dd).max(BigInt(1))
        a = 0
        while (a < d) {
          var b = 0
          while (b < d) { s(a)(b) -= (lam * v(a) * v(b)) / dd2; b += 1 }
          a += 1
        }
      }
      k += 1
    }
    Model(d, r, vecs)
  }

  /** p_k = (Σ_j vecs(k)(j)·q_j(x)) quot 2¹⁶ as a plan-constant pure map. */
  def project(model: Model, vec: Column): Column =
    E.column(IntProject(E.expression(vec), model.vecs.map(_.toSeq).toSeq,
      model.d, Scale))
}

/** int_scatter_agg(vec, d) → struct<n:bigint, sums:array<bigint>,
  * prods:array<bigint>> — the integer second-moment sketch behind
  * [[PcaExact.fit]]: per non-null `array<float>` row, components quantize
  * to `floor(x·1024 + 0.5)` longs and the state accumulates (n, Σq,
  * upper-triangle Σqqᵀ) — d + d(d+1)/2 longs FIXED regardless of corpus
  * size, element-wise-add mergeable. Wrong-length vectors fail loudly. */
case class IntScatterAgg(child: Expression, d: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[IntScatterAgg.State] {
  require(d >= 1 && d <= 1024, s"d must be in [1, 1024], got $d")

  override def createAggregationBuffer(): IntScatterAgg.State =
    new IntScatterAgg.State(d)

  override def update(st: IntScatterAgg.State, input: InternalRow): IntScatterAgg.State = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == d,
        s"int_scatter_agg(d=$d) saw a vector of length ${arr.numElements()}")
      val q = new Array[Long](d)
      var i = 0
      while (i < d) {
        q(i) = math.floor(arr.getFloat(i).toDouble * 1024.0 + 0.5).toLong
        i += 1
      }
      st.n += 1
      var t = 0
      i = 0
      while (i < d) {
        st.sums(i) += q(i)
        var j = i
        while (j < d) { st.prods(t) += q(i) * q(j); j += 1; t += 1 }
        i += 1
      }
    }
    st
  }

  override def merge(a: IntScatterAgg.State, b: IntScatterAgg.State): IntScatterAgg.State = {
    a.n += b.n
    var i = 0
    while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
    i = 0
    while (i < a.prods.length) { a.prods(i) += b.prods(i); i += 1 }
    a
  }

  override def eval(st: IntScatterAgg.State): Any =
    InternalRow(st.n,
      new GenericArrayData(st.sums.map(Long.box)),
      new GenericArrayData(st.prods.map(Long.box)))

  override def serialize(st: IntScatterAgg.State): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * (st.sums.length + st.prods.length))
    bb.putLong(st.n)
    st.sums.foreach(bb.putLong)
    st.prods.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): IntScatterAgg.State = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val st = new IntScatterAgg.State(d)
    st.n = bb.getLong
    var i = 0
    while (i < st.sums.length) { st.sums(i) = bb.getLong; i += 1 }
    i = 0
    while (i < st.prods.length) { st.prods(i) = bb.getLong; i += 1 }
    st
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int_scatter_agg expects array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sums", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("prods", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def withNewMutableAggBufferOffset(newOffset: Int): IntScatterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): IntScatterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IntScatterAgg = copy(child = newChildren(0))
  override def prettyName: String = "int_scatter_agg"
}

object IntScatterAgg {
  final class State(d: Int) {
    var n: Long = 0L
    val sums = new Array[Long](d)
    val prods = new Array[Long](d * (d + 1) / 2)
  }
}

/** int_project(vec) with plan-constant integer directions: out_k =
  * (Σⱼ vecs(k)(j)·floor(x_j·scale + 0.5)) quot 2¹⁶ → array<bigint> of
  * length r (Java long division truncates toward zero = DuckDB `//`).
  * One pass over the input vector. */
case class IntProject(child: Expression, vecs: Seq[Seq[Long]], d: Int, scale: Int)
    extends UnaryExpression with CodegenFallback {
  require(vecs.nonEmpty && vecs.forall(_.length == d), "model geometry mismatch")

  @transient private lazy val w: Array[Array[Long]] = vecs.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    require(arr.numElements() == d,
      s"int_project(d=$d) saw a vector of length ${arr.numElements()}")
    val r = w.length
    val out = new Array[Long](r)
    var j = 0
    while (j < d) {
      val q = math.floor(arr.getFloat(j).toDouble * scale.toDouble + 0.5).toLong
      var k = 0
      while (k < r) { out(k) += w(k)(j) * q; k += 1 }
      j += 1
    }
    var k = 0
    while (k < r) { out(k) = out(k) / PcaExact.ProjShift; k += 1 }
    new GenericArrayData(out.map(Long.box))
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int_project expects array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): IntProject =
    copy(child = newChild)
  override def prettyName: String = "int_project"
}
