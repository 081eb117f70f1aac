package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SharedSpark

/** The +1e6 supplier-id offset guard (r17, verdict item 8): every
  * trade/order-flow graph build places supplier nodes at
  * `l_suppkey + 1000000` and graph_hits' forward-half filter
  * (`src < 1e6`) depends on customer ids staying below the offset. At
  * 100 TB TPC-H cardinalities a custkey ≥ 1e6 would silently collide
  * customer and supplier nodes; the build must FAIL LOUDLY instead. */
class OffsetGuardSpec extends AnyFunSuite {

  lazy val spark = SharedSpark.session
  import spark.implicits._

  test("custkeys below the offset pass through unchanged") {
    val out = Seq(0L, 1L, 999999L).toDF("c")
      .select(SparkEntry.custIdBelowOffset(col("c")).as("c"))
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(0L, 1L, 999999L))
  }

  test("a NULL custkey passes through as NULL in the Column and SQL forms") {
    val df = Seq(Some(5L), None).toDF("c")
    val viaColumn = df.select(SparkEntry.custIdBelowOffset(col("c")).as("c"))
    val viaSql = df.selectExpr(s"${SparkEntry.custIdBelowOffsetSql("c")} AS c")
    for (out <- Seq(viaColumn, viaSql))
      assert(out.collect().map(r => Option(r.get(0))).toSeq.sortBy(_.isDefined) ==
        Seq(None, Some(5L)))
  }

  test("a custkey at the offset fails loudly, never corrupts the graph") {
    val e = intercept[Exception] {
      Seq(5L, 1000000L).toDF("c")
        .select(SparkEntry.custIdBelowOffset(col("c")).as("c"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("supplier-id offset")),
      s"expected the named offset-collision error, got: ${e.getMessage}")
  }
}
