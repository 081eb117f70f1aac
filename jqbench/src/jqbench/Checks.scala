package jqbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.operators.JsonQueryGenerator

/** Output checks that never run graft's jq engine: per-execution totals
  * against the generator's bookkeeping, and a row sample replayed through
  * the system `jq` binary. */
object Checks {

  /** Attaches the workload's aggregates to `df`, so the same execution that
    * feeds the sink also reports the totals to check. */
  def observed(df: DataFrame, w: Workload): (DataFrame, Observation) = {
    val obs = new Observation("jqbench")
    val aggs = w.checks.map { case (name, sql) => expr(sql).as(name) }
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Mismatches between the expected totals and the observed ones. */
  def totalsProblems(expected: Map[String, Long], observed: Map[String, Any]): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      observed.get(name) match {
        case Some(got: Number) if got.longValue == want => None
        case got => Some(s"$name: expected $want, got ${got.orNull}")
      }
    }

  /** A jq output value as Spark returns the declared type from `collect()`. */
  def fromJson(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case StringType => if (n.isTextual) n.textValue else n.toString
      case IntegerType => n.asInt
      case LongType => n.asLong
      case DoubleType => n.asDouble
      case BooleanType => n.asBoolean
      case ArrayType(el, _) => n.elements().asScala.map(fromJson(_, el)).toVector
      case st: StructType => Row.fromSeq(st.fields.toSeq.map(f => fromJson(n.get(f.name), f.dataType)))
      case other => throw new IllegalArgumentException(s"unsupported type in check: $other")
    }

  def toRow(out: JsonNode, schema: StructType, whole: Boolean): Row =
    if (whole) Row(fromJson(out, schema.head.dataType))
    else Row.fromSeq(schema.fields.toSeq.map(f => fromJson(if (out.isObject) out.get(f.name) else null, f.dataType)))

  private val mapper = new ObjectMapper()

  /** Per input row, the output rows of `program` under the `jq` binary:
    * `[PROGRAM]` collects each input's outputs into one line. */
  def systemJq(program: String, types: Seq[String], inputs: Seq[String]): Seq[Seq[Row]] = {
    val (schema, whole) = JsonQueryGenerator.parseTypeArgs(types)
    val proc = new ProcessBuilder("jq", "-c", s"[$program]").redirectError(ProcessBuilder.Redirect.INHERIT).start()
    // feed stdin from another thread: both pipes can fill at once
    val feeder = new Thread(() => {
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"))
      try inputs.foreach { s => out.write(s); out.write('\n') } finally out.close()
    })
    feeder.start()
    val lines =
      try scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").getLines().toVector
      finally { feeder.join(); proc.waitFor() }
    if (proc.exitValue != 0) throw new IllegalStateException(s"jq exited with ${proc.exitValue}")
    lines.map(l => mapper.readTree(l).elements().asScala.map(toRow(_, schema, whole)).toVector)
  }

  /** Row-by-row differences between two per-input output lists. */
  def rowProblems(expected: Seq[Seq[Row]], actual: Seq[Seq[Row]]): Seq[String] =
    if (expected.size != actual.size) Seq(s"input rows: expected ${expected.size}, got ${actual.size}")
    else expected.indices.collect {
      case i if expected(i) != actual(i) => s"row $i: expected ${expected(i).mkString(" ")}, got ${actual(i).mkString(" ")}"
    }

  /** The workload's first `n` rows through `jq(...)` in Spark, grouped per input row. */
  def sparkSample(spark: SparkSession, w: Workload, n: Int): Seq[Seq[Row]] = {
    val sample = w.rows.take(n)
    val schema = StructType(Seq(StructField("idx", IntegerType), StructField("json", StringType)))
    spark.createDataFrame(sample.indices.map(i => Row(i, sample(i))).asJava, schema)
      .createOrReplaceTempView("jqbench_sample")
    val got = spark.sql(w.sql("jqbench_sample").replace("SELECT x.*", "SELECT idx, x.*")).collect()
    val byRow = got.groupBy(_.getInt(0))
    sample.indices.map(i => byRow.getOrElse(i, Array.empty[Row]).toVector.map(r => Row.fromSeq(r.toSeq.tail)))
  }

  /** The sample check: the first `n` rows through Spark and through the
    * `jq` binary must give the same output rows. */
  def sampleProblems(spark: SparkSession, w: Workload, n: Int): Seq[String] =
    rowProblems(systemJq(w.program, w.types, w.rows.take(n).toSeq), sparkSample(spark, w, n))
}
