package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SharedSpark

/** A registry query reads its sources each time it runs: a session that
  * runs the same query again after the parquet under its dir was
  * rewritten sees the new data, exactly as a fresh session does. No
  * frame built by an earlier query may stand in for the current input. */
class SessionFreshnessSpec extends AnyFunSuite {

  lazy val spark = SharedSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("a query rerun after its parquet is rewritten reads the new data") {
    val dir = Files.createTempDirectory("graft-fresh")
    try {
      for (t <- Seq("orders", "lineitem"))
        Files.copy(Path.of(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
      val q = SparkEntry.queries("graph_degree_dist")
      def run(s: org.apache.spark.sql.SparkSession): Seq[String] =
        q(s, dir.toString).collect().map(_.toString).toSeq
      val before = run(spark)

      // overwrite lineitem with a strict subset: every other order's lines
      val subset = dir.resolve("lineitem_subset.parquet")
      spark.read.parquet(dir.resolve("lineitem.parquet").toString)
        .where(col("l_orderkey") % 2 === 0)
        .write.parquet(subset.toString)
      Files.delete(dir.resolve("lineitem.parquet"))
      Files.move(subset, dir.resolve("lineitem.parquet"))

      val again = run(spark)
      val fresh = run(spark.newSession())
      assert(fresh != before, "the subset must change the answer for this check to mean anything")
      assert(again == fresh, s"same session read stale data:\n$again\nvs a new session:\n$fresh")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
