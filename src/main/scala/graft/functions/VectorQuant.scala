package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** nearest_centroids(vec) → array<int>: ids of the `nProbe` coarse
  * centroids nearest to the vector (by dot product against unit-norm
  * centroids — argmax-equivalent to cosine), nearest first.
  *
  * The centroid table is a plan-time constant (trained driver-side on a
  * sample, a few KB) shipped inside the expression — executors need no
  * side channel, and the corpus-assignment pass (`nProbe = 1`) is a pure
  * map. IVF counterpart of LshBucketsExact/LshProbesExact. */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]], nProbe: Int)
    extends UnaryExpression with CodegenFallback {
  require(centroids.nonEmpty && nProbe >= 1 && nProbe <= centroids.length)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  // unit-normalized once per expression instance
  @transient private lazy val unit: Array[Array[Double]] = centroids.map { c =>
    val a = c.toArray
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0) a else a.map(_ / n)
  }.toArray

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    val scores = new Array[Double](unit.length)
    var c = 0
    while (c < unit.length) {
      val cent = unit(c)
      val n = math.min(dim, cent.length)
      var dot = 0.0
      var d = 0
      while (d < n) { dot += vec.getFloat(d).toDouble * cent(d); d += 1 }
      scores(c) = dot
      c += 1
    }
    val top = (0 until unit.length).sortBy(i => (-scores(i), i)).take(nProbe)
    new GenericArrayData(top.map(Int.box).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroids"
}

/** quantized_dot(a, b) → bigint: Σ a_i·b_i over two bigint-quantized
  * vectors as ONE tight primitive loop. Semantically identical to
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0, +)` — same index order,
  * same long overflow wraparound — but without the per-pair intermediate
  * array, boxing, and three interpreted HOF trees that made the
  * all-pairs embedding ops (triplet mining, kNN accuracy, mutual-NN)
  * pay ~7 µs/pair: the dot IS the inner loop of every cosine, and a
  * cosine costs three of them. NULL if either side is NULL or lengths
  * differ (the dimension-mismatch rule: a wrong-model-version join must
  * surface as missing scores, never as garbage). */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      // NULL element ⇒ NULL dot, exactly like the HOF fold it replaces
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      acc += la.getLong(i) * ra.getLong(i); i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): QuantizedDot = copy(left = newLeft, right = newRight)
  override def prettyName: String = "quantized_dot"
}

/** nearest_int_centroids(uq) → array<int>: ids of the `nProbe` centroids
  * with the smallest INTEGER squared Euclidean distance to the
  * bigint-quantized vector, nearest first (ties → smaller id).
  *
  * The integer twin of [[NearestCentroids]]: both are plan-constant
  * map-side probes, but this one's metric is exact long arithmetic over
  * integer centroids, so a DuckDB oracle can replay assignment (and the
  * Lloyd training that produced `centroids` — see
  * `Similarity.trainCentroidsExact`) bit-for-bit. That replayability is
  * what graduates the blocked embedding ops from rows-only to
  * hash-gated. Magnitudes: unit-quantized components ≤ 10⁶, so per-dim
  * diff² ≤ 4·10¹² and a 4096-dim d² < 2⁶³ — no overflow. NULL input →
  * NULL (the dimension-mismatch rule). */
case class NearestIntCentroids(child: Expression, centroids: Seq[Seq[Long]], nProbe: Int)
    extends UnaryExpression with CodegenFallback {
  require(centroids.nonEmpty && nProbe >= 1 && nProbe <= centroids.length)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val cents: Array[Array[Long]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    // dimension mismatch ⇒ NULL list, the QuantizedDot rule: a
    // wrong-model-version vector must drop, never probe garbage lists
    if (dim != cents(0).length) return null
    val d2 = new Array[Long](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var acc = 0L
      var d = 0
      while (d < dim) {
        if (vec.isNullAt(d)) return null
        val t = vec.getLong(d) - cent(d); acc += t * t; d += 1
      }
      d2(c) = acc
      c += 1
    }
    val top = (0 until cents.length).sortBy(i => (d2(i), i)).take(nProbe)
    new GenericArrayData(top.map(Int.box).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): NearestIntCentroids =
    copy(child = newChild)
  override def prettyName: String = "nearest_int_centroids"
}

/** unit_quantize(qv) → array<bigint>: `uq_i = qv_i·10⁶ DIV s` with
  * `s = floor(√(Σ qv_i²))` — the exact-replayable unit normalization
  * over a bigint-quantized vector. The only float op is one
  * correctly-rounded IEEE sqrt of an exact long (< 2⁵³ at any sane
  * dim×magnitude), and the division truncates toward zero exactly like
  * Spark's `DIV` and DuckDB's `//`, so a SQL oracle replays it
  * bit-for-bit: `list_transform(qv, x -> (x*1000000) // s)`.
  * NULL for the zero vector (nothing to normalize — the row drops, the
  * NULL-cosine contract) and for NULL elements. */
case class UnitQuantize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    var ss = 0L
    var i = 0
    while (i < dim) {
      if (vec.isNullAt(i)) return null
      val x = vec.getLong(i); ss += x * x; i += 1
    }
    val s = math.floor(math.sqrt(ss.toDouble)).toLong
    if (s <= 0L) return null
    val out = new Array[Any](dim)
    i = 0
    while (i < dim) { out(i) = vec.getLong(i) * 1000000L / s; i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): UnitQuantize =
    copy(child = newChild)
  override def prettyName: String = "unit_quantize"
}

/** pq_codes_int(uq) → array<int>: product-quantization codes over the
  * UNIT-QUANTIZED long vector — per subspace, the index of the nearest
  * (exact long d², ties → smaller code) entry of that subspace's integer
  * codebook (`Similarity.trainPqCodebooksExact`). This is the corpus-side
  * compression pass of PQ search: a dim-long vector becomes m small ints,
  * the representation the ADC scan reads instead of raw vectors. Magnitudes:
  * unit-quantized components ≤ 10⁶, codebook entries are truncated means
  * of the same, so per-dim diff² ≤ 4·10¹² and a d² over any dsub ≤ 4096
  * stays < 2⁶³. NULL input / NULL element / dim mismatch → NULL (the
  * QuantizedDot rule). */
case class PqCodesInt(child: Expression, codebooks: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with CodegenFallback {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val books: Array[Array[Array[Long]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val m = books.length
    val dsub = books(0)(0).length
    if (vec.numElements() != m * dsub) return null
    val codes = new Array[Any](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      val off = s * dsub
      var best = 0
      var bestD = Long.MaxValue
      var k = 0
      while (k < book.length) {
        val cent = book(k)
        var d2 = 0L
        var j = 0
        while (j < dsub) {
          if (vec.isNullAt(off + j)) return null
          val t = vec.getLong(off + j) - cent(j); d2 += t * t; j += 1
        }
        if (d2 < bestD) { bestD = d2; best = k } // strict < = smaller-code ties
        k += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodesInt =
    copy(child = newChild)
  override def prettyName: String = "pq_codes_int"
}

/** pq_lut_int(uq) → array<bigint> (m·ksub, flattened): the query-side ADC
  * lookup table — exact long dot of the query's unit-quantized subvector
  * with every integer codebook entry, so `pq_adc_long` scores a candidate
  * with m additions instead of a dim-length dot product. |dot| ≤
  * dsub·10¹² — long-safe to dsub ≈ 9·10⁶. */
case class PqLutInt(child: Expression, codebooks: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with CodegenFallback {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val books: Array[Array[Array[Long]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    if (vec.numElements() != m * dsub) return null
    val lut = new Array[Any](m * ksub)
    var s = 0
    while (s < m) {
      val book = books(s)
      val off = s * dsub
      var k = 0
      while (k < ksub) {
        val cent = book(k)
        var dot = 0L
        var j = 0
        while (j < dsub) {
          if (vec.isNullAt(off + j)) return null
          dot += vec.getLong(off + j) * cent(j); j += 1
        }
        lut(s * ksub + k) = dot
        k += 1
      }
      s += 1
    }
    new GenericArrayData(lut)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutInt =
    copy(child = newChild)
  override def prettyName: String = "pq_lut_int"
}

/** pq_adc_long(codes, lut) → bigint: asymmetric-distance-computation
  * score, Σₘ lut[m·ksub + codes[m]] — the hot inner loop of the PQ scan,
  * exact long adds (m ≤ 64 terms of ≤ dsub·10¹² each — no overflow at
  * any sane geometry). A Spark higher-order `aggregate`/`zip_with` here
  * would run interpreted per pair. */
case class PqAdcLong(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with CodegenFallback {
  require(ksub >= 1)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val lut = lutAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var acc = 0L
    var s = 0
    while (s < m) { acc += lut.getLong(s * ksub + codes.getInt(s)); s += 1 }
    Long.box(acc)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcLong = copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_adc_long"
}
