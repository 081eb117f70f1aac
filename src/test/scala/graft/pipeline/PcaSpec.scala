package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShim => E}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

/** Integer-exact PCA contracts: model recovery of planted structure, the
  * hand-checked projection, the partition-stable mergeable scatter state,
  * and the reduced-space ANN recall floor in PCA's intended regime
  * (low-rank embeddings). */
class PcaSpec extends AnyFunSuite {

  lazy val spark = SharedSpark.session
  import spark.implicits._

  private def unif(s: Long) =
    (graft.functions.Mix.splitmix64(s) >>> 11).toDouble / (1L << 53).toDouble

  test("fit recovers a planted dominant direction; variance ordering holds") {
    // x = a*u + small noise, u = e0-ish direction in 16-d
    val d = 16
    val u = Array.tabulate(d)(j => if (j == 0) 0.8 else if (j == 1) 0.6 else 0.0)
    val rows = (0 until 2000).map { i =>
      val a = (unif(0xaaL + i) - 0.5) * 10
      (i.toLong, Array.tabulate(d)(j =>
        (a * u(j) + (unif(i.toLong * d + j) - 0.5) * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val model = PcaExact.fit(rows, "embedding", r = 3)
    val w0 = model.vecs(0).map(_.toDouble)
    val cosU = math.abs(w0.zip(u).map { case (a, b) => a * b }.sum) /
      math.sqrt(w0.map(x => x * x).sum)
    assert(cosU > 0.999, s"top component must align with the planted direction, cos=$cosU")
    // variance of the projected data along each (unnormalized) direction
    val spread = rows.select(PcaExact.project(model, col("embedding")).as("p"))
      .select((0 until 3).map(k => variance(col("p").getItem(k)).as(s"v$k")): _*)
      .head
    val v = (0 until 3).map(k => spread.getDouble(k) / model.vecs(k).map(x => x.toDouble * x).sum)
    assert(v(0) > 10 * v(1), s"planted direction must dominate: $v")
  }

  test("project is (sum of v_kj * round(x_j * 1024)) quot 2^16, hand-checked") {
    val model = PcaExact.Model(d = 2, r = 2, vecs = Array(Array(32768L, 0L), Array(-3L, 65536L)))
    val df = Seq((1L, Seq(1.0f, -0.5f)), (2L, Seq(0.25f, 3.0f))).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"), PcaExact.project(model, col("embedding")).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    // row 1: q = (1024, -512): p0 = 32768·1024 / 65536 = 512;
    //   p1 = (−3·1024 + 65536·(−512)) / 65536 = −512.046… → −512 (toward zero)
    // row 2: q = (256, 3072): p0 = 128; p1 = (−768 + 65536·3072) / 65536 → 3071
    assert(got == Map(1L -> Seq(512L, -512L), 2L -> Seq(128L, 3071L)), s"$got")
  }

  test("covariance state: n exact under partitioning; wrong-length vector throws") {
    val rows = (0 until 1000).map(i => (i.toLong,
      Seq((unif(i.toLong) - 0.5).toFloat, (unif(i + 7L) * 2).toFloat,
        (unif(i + 13L) - unif(i + 17L)).toFloat))).toDF("vec_id", "embedding")
    def state(parts: Int) = rows.repartition(parts)
      .agg(E.column(IntScatterAgg(E.expression(col("embedding")), 3).toAggregateExpression()).as("s"))
      .select("s.n", "s.sums", "s.prods").as[(Long, Seq[Long], Seq[Long])].head
    val s1 = state(1)
    assert(s1._1 == 1000L && state(17) == s1,
      "the integer scatter state is order-exact: n and every sum must not move with partitioning")
    assert(PcaExact.fit(rows.repartition(1), "embedding", 2).vecs.map(_.toSeq).toSeq ==
      PcaExact.fit(rows.repartition(17), "embedding", 2).vecs.map(_.toSeq).toSeq)
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      PcaExact.fit(rows.union(bad), "embedding", 2)
    }
    assert(ex.getMessage != null)
  }

  test("pcaTopKExact recall >= 0.9 on a low-rank corpus (PCA's regime)") {
    // real embedding tables are low-rank: 8 latent factors + noise in 64-d
    val d = 64; val latent = 8
    val basis = Array.tabulate(latent, d)((k, j) => unif(k * 1000L + j) - 0.5)
    val rows = (0 until 500).map { i =>
      val coefs = Array.tabulate(latent)(k => (unif(i * 31L + k) - 0.5) * (latent - k))
      (i.toLong, Array.tabulate(d)(j =>
        ((0 until latent).map(k => coefs(k) * basis(k)(j)).sum
          + (unif(i * 77L + j) - 0.5) * 0.02).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = rows.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(rows, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pcaTopKExact(rows, queries, "vec_id", "embedding", 10, r = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"PCA(8/64) recall@10 on low-rank corpus = $recall%.3f")
    assert(recall >= 0.9, s"PCA recall $recall below 0.9 in its intended regime")
  }
}
