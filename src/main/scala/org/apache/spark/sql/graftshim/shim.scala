package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression converters — the standard
  * mechanism Spark extension libraries use to expose custom Catalyst
  * expressions as user-facing Columns. */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** True when the session CacheManager holds no entries — lets specs prove
    * that pipeline ops don't leak `persist()`ed plans across calls. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Physical-plan explain text ("formatted" mode) — lets specs assert scan
    * properties (PushedFilters, pruned ReadSchema) that the SURVEY claims. */
  def explainString(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Rewraps a DataFrame's execution RDD as a flat LogicalRDD plan —
    * `LogicalRDD.fromDataset`, the same construction `Dataset.checkpoint`
    * uses, so output partitioning/ordering are preserved. Execution and
    * fault-tolerance are untouched (the RDD keeps its full lineage; nothing
    * is computed here): only the CATALYST plan is cut. An iterative operator
    * that persists its per-round frame needs this, or the logical plan
    * nests per round (a self-join loop's plan doubles each iteration —
    * analysis/explain go exponential). */
  def flattenPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Applies a SparkSessionExtensions setup to a fresh FunctionRegistry and
    * returns the registered names — verifies the `spark.sql.extensions`
    * deployment path without needing a second SparkContext in the JVM. */
  def extensionFunctionNames(ext: org.apache.spark.sql.SparkSessionExtensions => Unit): Seq[String] = {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    ext(e)
    val reg = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    e.registerFunctions(reg)
    reg.listFunction().map(_.funcName)
  }
}
