package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-hashing expressions for the dedup family.
  *
  * Scale rationale (SURVEY §2.6): a 128-hash MinHash signature computed in
  * one pass per row keeps the LSH pipeline shuffle-free until the band
  * bucket join — the naive shingle-explode formulation shuffles
  * |doc| × |shingles| rows. SimHash is one 64-bit word per document.
  */
object Mix {
  /** splitmix64 — standard public-domain 64-bit mixer. */
  @inline def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** 2^61 − 1, the Mersenne prime the minhash permutations run modulo.
    * Chosen because BOTH engines can replay the affine step exactly:
    * Spark via [[mulAddMod61]]'s 128-bit fold, DuckDB via HUGEINT
    * `(a::HUGEINT * h + b) % 2305843009213693951`. */
  val Mersenne61: Long = (1L << 61) - 1

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The house oracle-replayable 60-bit hash: the first 15 hex chars of
    * md5(UTF-8 bytes) as a long — DuckDB replays it as
    * `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`, Spark SQL as
    * `CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)`. 15 hex
    * chars = the first 7.5 bytes = (first 8 bytes big-endian) >>> 4. */
  def h60(s: String): Long = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** (a·h + b) mod (2^61 − 1), EXACT for 0 ≤ a, h, b < 2^61: the 128-bit
    * product folds via 2^64 ≡ 8 and 2^61 ≡ 1 (mod M). Every intermediate
    * fits signed 64-bit: hi < 2^58 so hi·8 < 2^61; the fold sum is
    * < 2^63. */
  @inline def mulAddMod61(a: Long, h: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    var r = (hi << 3) + (lo & Mersenne61) + (lo >>> 61) + b
    r = (r & Mersenne61) + (r >>> 61)
    if (r >= Mersenne61) r - Mersenne61 else r
  }

  /** MinHash permutation constants, md5-derived so the oracle can inline
    * them as literals computed by the SAME function (no second source of
    * truth): a_i = h60("mh:a:i") | 1 (nonzero mod M), b_i = h60("mh:b:i"). */
  def minhashA(i: Int): Long = h60(s"mh:a:$i") | 1L
  def minhashB(i: Int): Long = h60(s"mh:b:$i")

  /** Rolling shingle hashes over the codepoints of `s` (window = k chars),
    * lowercased, whitespace collapsed. Calls `f` once per shingle. */
  def forEachShingle(s: String, k: Int)(f: Long => Unit): Unit = {
    // normalize: lowercase, collapse runs of whitespace to single space
    val norm = new StringBuilder(s.length)
    var prevSpace = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) {
        if (!prevSpace) { norm.append(' '); prevSpace = true }
      } else { norm.append(Character.toLowerCase(c)); prevSpace = false }
      i += 1
    }
    val t = norm.toString
    if (t.length >= k) {
      var j = 0
      while (j + k <= t.length) {
        var h = 0xcbf29ce484222325L // FNV offset basis
        var m = 0
        while (m < k) {
          h ^= t.charAt(j + m).toLong
          h *= 0x100000001b3L // FNV prime
          m += 1
        }
        f(splitmix64(h))
        j += 1
      }
    } else if (t.nonEmpty) {
      var h = 0xcbf29ce484222325L
      var m = 0
      while (m < t.length) { h ^= t.charAt(m).toLong; h *= 0x100000001b3L; m += 1 }
      f(splitmix64(h))
    }
  }

  /** FNV-1a over the normalized text — whole-document fingerprint. */
  def rollingFingerprint(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var prevSpace = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val emit: Int =
        if (Character.isWhitespace(c)) { if (prevSpace) -1 else { prevSpace = true; ' ' } }
        else { prevSpace = false; Character.toLowerCase(c).toInt }
      if (emit >= 0) { h ^= emit.toLong; h *= 0x100000001b3L }
      i += 1
    }
    h
  }
}

/** minhash_signature(text, numHashes, shingleSize) → array<bigint>.
  *
  * ORACLE-REPLAYABLE family (r11 — the r10 splitmix64 family was private
  * to the JVM and kept the whole LSH pipeline rows-only): the signature
  * is built from the DISTINCT character shingles of [[ShingleSet]] (the
  * `regexp_replace(lower(text), '\s+', ' ')` normalization DuckDB already
  * mirrors in 5+ green oracles — duplicates never mattered to a min), each
  * shingle hashed once with the house md5-h60, then run through numHashes
  * affine permutations `(a_i·h + b_i) mod (2^61 − 1)` ([[Mix.mulAddMod61]],
  * constants [[Mix.minhashA]]/[[Mix.minhashB]]). Every step is exact
  * integer arithmetic a SQL engine replays verbatim:
  * `min((a_i::HUGEINT * h + b_i) % 2305843009213693951)` per permutation.
  * One md5 + numHashes mulmods per shingle — same single-pass, zero-shuffle
  * cost shape as before. ShingleSet yields ≥ 1 shingle for any non-null
  * text (len ≤ n → the whole string), so the signature is total. */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression with CodegenFallback with RequiresStringInput {
  require(numHashes > 0 && shingleSize > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  // permutation parameters fixed per expression instance (md5-derived —
  // the oracle inlines the SAME values as literals via Mix.minhashA/B)
  @transient private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(Mix.minhashA)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(Mix.minhashB)

  override def nullSafeEval(v: Any): Any = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val it = ShingleSet.distinctShingles(
      v.asInstanceOf[UTF8String].toString, shingleSize).iterator()
    while (it.hasNext) {
      val h = Mix.h60(it.next())
      var i = 0
      while (i < numHashes) {
        val p = Mix.mulAddMod61(as(i), h, bs(i))
        if (p < mins(i)) mins(i) = p
        i += 1
      }
    }
    new GenericArrayData(mins.map(Long.box): Array[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

/** minhash_from_set(shingles, numHashes) → array<bigint>:
  * [[MinHashSignature]] over a PRECOMPUTED distinct-shingle array (the
  * [[ShingleSet]] output) — the shared-shingle-pass variant (r17, guide
  * §2.4): operators that need BOTH the signature and the exact shingle
  * set of the same text (bandingPrAudit, the LSH-then-verify pair chain)
  * shingle once and fold the permutations over the stored set.
  * VALUE-IDENTICAL to `MinHashSignature(text)` when fed
  * `ShingleSet(text)`: the same distinct shingles, the same h60, the
  * same affine permutations — and a per-permutation min is insensitive
  * to element order and duplicates. Null array → null signature (the
  * null-text contract of the text variant). */
case class MinHashFromSet(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(Mix.minhashA)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(Mix.minhashB)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val h = Mix.h60(arr.getUTF8String(j).toString)
      var i = 0
      while (i < numHashes) {
        val p = Mix.mulAddMod61(as(i), h, bs(i))
        if (p < mins(i)) mins(i) = p
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins.map(Long.box): Array[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashFromSet =
    copy(child = newChild)
  override def prettyName: String = "minhash_from_set"
}

/** simhash64(text, shingleSize) → bigint — 60-bit SimHash over the md5-h60
  * hashes of the DISTINCT [[ShingleSet]] shingles (bits 60–63 are always
  * zero; the [[graft.pipeline.Dedup]] Manku blocking is width-agnostic).
  * Same r11 oracle-replayable recipe as [[MinHashSignature]]: bit b of the
  * fingerprint is set iff Σ_shingles (2·bit_b(h60(shingle)) − 1) > 0 — a
  * 60-column conditional-sum aggregate in SQL. Distinct shingles (set
  * semantics, like the minhash) rather than occurrence counts: the
  * near-dup verdict is Jaccard-verified downstream either way. */
case class SimHash64(child: Expression, shingleSize: Int)
    extends UnaryExpression with CodegenFallback with RequiresStringInput {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val counts = new Array[Int](60)
    val it = ShingleSet.distinctShingles(
      v.asInstanceOf[UTF8String].toString, shingleSize).iterator()
    while (it.hasNext) {
      val h = Mix.h60(it.next())
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    Long.box(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** rolling_hash64(text) → bigint — FNV-1a document fingerprint over
  * normalized text (lowercase, collapsed whitespace). */
case class RollingHash64(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Long.box(Mix.rollingFingerprint(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash64"
}

/** shingle_set(text, n) → array<string>: distinct character n-grams of the
  * normalized text, first-occurrence order. Normalization replicates
  * `regexp_replace(lower(text), '\s+', ' ')` EXACTLY (runs collapsed to one
  * space, no trim, regex-\s class) so DuckDB oracles can mirror it.
  *
  * Single pass — the built-in `transform(sequence(...), i -> substr(norm, i, n))`
  * formulation re-evaluates the regexp_replace per shingle position after
  * CollapseProject inlines it into the lambda (measured 30× slower). */
case class ShingleSet(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with RequiresStringInput {
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val out = ShingleSet.distinctShingles(v.asInstanceOf[UTF8String].toString, n)
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
  override def prettyName: String = "shingle_set"
}

object ShingleSet {
  private def isWs(c: Char): Boolean = // regex \s = [ \t\n\x0B\f\r]
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Distinct character n-grams of the normalized text, first-occurrence
    * order — the shared shingle recipe of [[ShingleSet]],
    * [[MinHashSignature]] and [[SimHash64]] (ONE normalization for the
    * whole dedup family, so the LSH blocking and the exact-Jaccard verify
    * can never disagree about what a shingle is). */
  def distinctShingles(raw: String, n: Int): java.util.LinkedHashSet[String] = {
    // Full-string lowering first via the UTF8String.toLowerCase replica
    // (ASCII per-char — locale-independent — else String#toLowerCase), not a
    // bare per-char Character.toLowerCase loop: special-cased codepoints like
    // U+0130 lower to MULTIPLE chars, which a per-char loop gets wrong.
    // DuckDB (utf8proc) still differs on those rare codepoints; on ASCII the
    // three agree exactly.
    val s = WordTok.lowerLikeSpark(raw)
    val norm = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) {
        norm.append(' ')
        while (i + 1 < s.length && isWs(s.charAt(i + 1))) i += 1
      } else norm.append(c)
      i += 1
    }
    val t = norm.toString
    val out = new java.util.LinkedHashSet[String]()
    // len <= n (incl. empty) → one element, like the SQL
    // `substr(t, 1, n)` at position 1 — keeps DuckDB-oracle parity
    if (t.length <= n) out.add(t)
    else {
      var j = 0
      while (j + n <= t.length) { out.add(t.substring(j, j + n)); j += 1 }
    }
    out
  }
}

/** cosine_sim(array<float>, array<float>) → double. Sequential double
  * accumulation; null on length mismatch or empty. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0 || n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else Double.box(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Shared component table for the ORACLE-REPLAYABLE LSH family (r11):
  * integer hyperplane components derived from the house md5-h60 hash —
  * `comp(t,p,d) = h60("lshx:t:p:d") % 2^21 − 2^20` ∈ [−2^20, 2^20) —
  * so DuckDB regenerates the identical planes from `range()` cross
  * joins and the whole bucketing pipeline unrolls into a CTE oracle.
  * Dots run over the QUANTIZED (`Dedup.quantize`) long vector: every
  * term |qv·comp| < 2^22·2^20 = 2^42, so a 64-dim dot stays < 2^48 —
  * exact in long on both engines. */
private[functions] object LshExactPlanes {
  /** [table][plane][dim], built once per expression instance. */
  def planes(numTables: Int, numPlanes: Int, dim: Int): Array[Array[Array[Long]]] =
    Array.tabulate(numTables, numPlanes, dim) { (t, p, d) =>
      Mix.h60(s"lshx:$t:$p:$d") % 2097152L - 1048576L
    }
}

/** lsh_buckets_exact(qvec) → array<int>: random-hyperplane sign-bucket id
  * per LSH table, all tables in one pass over the quantized long vector —
  * sign buckets of md5-h60-derived integer hyperplanes, replayable in
  * DuckDB (see [[LshExactPlanes]]). */
case class LshBucketsExact(child: Expression, numTables: Int, numPlanes: Int, dim: Int)
    extends UnaryExpression with CodegenFallback {
  require(numPlanes <= 30)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val planes: Array[Array[Array[Long]]] =
    LshExactPlanes.planes(numTables, numPlanes, dim)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val out = new Array[Any](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0
      var p = 0
      while (p < numPlanes) {
        val plane = planes(t)(p)
        var dot = 0L
        var d = 0
        while (d < n) { dot += a.getLong(d) * plane(d); d += 1 }
        if (dot >= 0) bucket |= (1 << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketsExact =
    copy(child = newChild)
  override def prettyName: String = "lsh_buckets_exact"
}

/** lsh_probe_buckets_exact(qvec) → array<array<int>>: per LSH table, the
  * query-side multi-probe bucket list — the vector's own bucket plus every
  * bucket reachable by flipping up to `radius` of the `probeBits` planes
  * with the smallest margin. Margin-ranked perturbation is the multi-probe
  * LSH scheme of Lv et al., VLDB 2007: a near neighbor that landed on the
  * wrong side of a hyperplane almost always did so on one the query itself
  * barely cleared. The margin is the exact integer |dot| and ties break on
  * the plane index, so the probe SET is deterministic and a DuckDB
  * row_number() replay selects the same probeBits planes. Corpus side
  * stays single-bucket ([[LshBucketsExact]]). */
case class LshProbesExact(child: Expression, numTables: Int, numPlanes: Int,
                          dim: Int, probeBits: Int, radius: Int)
    extends UnaryExpression with CodegenFallback {
  require(numPlanes <= 30 && probeBits <= numPlanes && radius <= probeBits)

  override def dataType: DataType =
    ArrayType(ArrayType(IntegerType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val planes: Array[Array[Array[Long]]] =
    LshExactPlanes.planes(numTables, numPlanes, dim)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val out = new Array[Any](numTables)
    var t = 0
    while (t < numTables) {
      val dots = new Array[Long](numPlanes)
      var bucket = 0
      var p = 0
      while (p < numPlanes) {
        val plane = planes(t)(p)
        var dot = 0L
        var d = 0
        while (d < n) { dot += a.getLong(d) * plane(d); d += 1 }
        dots(p) = dot
        if (dot >= 0) bucket |= (1 << p)
        p += 1
      }
      // (|dot| asc, plane asc): a total order — DuckDB replays it as
      // row_number() OVER (ORDER BY abs(dot), p)
      val ranked = (0 until numPlanes).sortBy(p => (math.abs(dots(p)), p))
        .take(probeBits).toArray
      val probes = scala.collection.mutable.ArrayBuffer[Any](Int.box(bucket))
      def expand(start: Int, mask: Int, depth: Int): Unit = {
        var i = start
        while (i < ranked.length) {
          val m = mask | (1 << ranked(i))
          probes += Int.box(bucket ^ m)
          if (depth + 1 < radius) expand(i + 1, m, depth + 1)
          i += 1
        }
      }
      if (radius > 0) expand(0, 0, 0)
      out(t) = new GenericArrayData(probes.toArray)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): LshProbesExact =
    copy(child = newChild)
  override def prettyName: String = "lsh_probe_buckets_exact"
}

/** poisson_weights(id) → array<bigint>: the b md5-derived Poisson(1)
  * draws of one row's bootstrap resamples in ONE tight loop —
  * value-identical to the per-(row, rep) SQL chain it replaces
  * (`conv(substring(md5(concat(id, ':', rep)), 1, 15), 16, 10)` probed
  * against the same cumulative thresholds: Mix.h60 computes the digest
  * → long directly), but without b separate concat/hex-string/parse
  * expression trees per row — that chain made the ×64 explode the
  * whole operator's cost (r11: 12.9 s in-bench → the digest loop).
  * `thresholds` are the ⌊CDF_Poisson(1)(k)·2⁶⁰⌋ literals; u ≥ last →
  * weight 9. NULL id → NULL array (the row drops from every
  * resample): a row with no identity has no resample membership —
  * the SQL chain this replaces accidentally gave NULL ids weight 9
  * in every draw (CASE's ELSE arm on a NULL u), a bug this rewrite
  * retires; bootstrapMeanCi requires a stable non-NULL id anyway. */
case class PoissonWeights(child: Expression, b: Int, thresholds: Seq[Long])
    extends UnaryExpression with CodegenFallback {
  require(b >= 1 && thresholds.nonEmpty)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val ts: Array[Long] = thresholds.toArray

  override def nullSafeEval(v: Any): Any = {
    val id = v.asInstanceOf[UTF8String].toString
    val out = new Array[Any](b)
    var rep = 0
    while (rep < b) {
      val u = Mix.h60(id + ":" + rep)
      var k = 0
      while (k < ts.length && u >= ts(k)) k += 1
      out(rep) = k.toLong
      rep += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PoissonWeights =
    copy(child = newChild)
  override def prettyName: String = "poisson_weights"
}

/** hamming64(a, b) → int — popcount(a XOR b), for SimHash radii.
  * Fully codegen'd (not CodegenFallback): it is evaluated inside the
  * candidate-pair join stage, and a fallback expression there would break
  * whole-stage codegen for the entire join. */
case class Hamming64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any =
    Int.box(java.lang.Long.bitCount(l.asInstanceOf[Long] ^ r.asInstanceOf[Long]))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Hamming64 =
    copy(left = l, right = r)
  override def prettyName: String = "hamming64"
}
