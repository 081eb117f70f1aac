package jqbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** The Spark side shared by the untraced and the traced run. */
object Harness {
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Several input partitions per core, so one straggling task cannot set
    * the time of a whole execution. */
  val partitions: Int = 4 * cores

  def startSession(): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("jqbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "jqbench/target/spark-local")
      .config("spark.sql.warehouse.dir", "jqbench/target/spark-warehouse")
      .getOrCreate()

  /** The rows as view `input`: a JSON-lines file under jqbench/target/data,
    * read as text in `partitions` splits, so each execution scans the input
    * as a one-query job would. The file is written once per workload, seed
    * and size, and shared by every JVM of a run. */
  def inputView(spark: SparkSession, w: Workload, seed: Long, view: String = "input"): DataFrame = {
    val dir = Paths.get("jqbench", "target", "data")
    val file = dir.resolve(s"${w.name}-$seed-${w.rows.length}.jsonl")
    if (!Files.exists(file)) {
      Files.createDirectories(dir)
      val tmp = dir.resolve(s"${file.getFileName}.${ProcessHandle.current.pid}.tmp")
      val out = Files.newBufferedWriter(tmp, UTF_8)
      try w.rows.foreach { r => out.write(r); out.write('\n') } finally out.close()
      Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
    }
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.maxPartitionBytes", ((Files.size(file) + partitions - 1) / partitions).toString)
    val df = spark.read.text(file.toString).withColumnRenamed("value", "json")
    df.createOrReplaceTempView(view)
    df
  }

  /** Seconds to write every row of `df` to the `noop` sink, which consumes
    * every column, so no projection is pruned away. */
  def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One checked execution of the workload query: its seconds, and what
    * went wrong (empty when it ran and its outputs added up). */
  def checkedExecution(df: DataFrame, w: Workload): (Double, Seq[String]) =
    try {
      val (observed, obs) = Checks.observed(df, w)
      val secs = timeNoop(observed)
      (secs, Checks.totalsProblems(w.expected, obs.get))
    } catch { case NonFatal(e) => (Double.NaN, Seq(s"execution threw: $e")) }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val mapper = new ObjectMapper()

  /** One JSON object line; values are numbers, strings, booleans, sequences or maps. */
  def jsonLine(fields: Seq[(String, Any)]): String = {
    def toJava(v: Any): AnyRef = v match {
      case m: Map[_, _] =>
        val out = new java.util.TreeMap[String, AnyRef]()
        m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
        out
      case s: Seq[_] => java.util.Arrays.asList(s.map(toJava): _*)
      case other => other.asInstanceOf[AnyRef]
    }
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    fields.foreach { case (k, v) => m.put(k, toJava(v)) }
    mapper.writeValueAsString(m)
  }
}
