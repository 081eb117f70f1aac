package jqbench

import java.lang.management.ManagementFactory

import graft.Graft

/** The untraced run of one workload in a fresh JVM: set-up, the first
  * (cold) execution and, unless `warmSeconds` is 0, warm executions for
  * that many seconds after a warm-up. Prints one JSON line
  * of raw measurements; the launcher combines several JVMs into the
  * reported metrics. */
object EndToEnd {

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes each live thread has allocated so far, by thread id. */
  private def allocated(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  /** JVM-wide bytes allocated between two snapshots; a thread first seen
    * in `after` counts from zero. */
  private def allocatedBetween(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, b) => b - before.getOrElse(id, 0L) }.sum

  /** Warm-up length as a multiple of the timed window. On 4 vCPUs the JIT
    * shares the cores with four executor threads, and executions keep
    * getting faster for about ten seconds; on nested_explode, whose
    * evaluator and marshallers are the largest code to compile, for about
    * twenty. */
  private val warmupFactor = Map("nested_explode" -> 3.0).withDefaultValue(1.6)

  def run(name: String, seed: Long, rows: Int, warmSeconds: Double, sampleCheck: Boolean): String = {
    val g0 = System.nanoTime()
    val w = Workloads.generate(name, seed, rows)
    val genS = (System.nanoTime() - g0) / 1e9

    val s0 = System.nanoTime()
    val spark = Harness.startSession()
    Graft.register(spark)
    val sessionS = (System.nanoTime() - s0) / 1e9
    try {
      val i0 = System.nanoTime()
      Harness.inputView(spark, w, seed)
      val inputS = (System.nanoTime() - i0) / 1e9
      val a0 = System.nanoTime()
      val df = spark.sql(w.sql("input")) // analysis runs the jq() builder, which compiles the program
      val setupS = sessionS + (System.nanoTime() - a0) / 1e9

      val problems = Seq.newBuilder[String]
      var attempted, failed = 0
      def execution(): Double = {
        val (secs, p) = Harness.checkedExecution(df, w)
        attempted += 1
        if (p.nonEmpty) { failed += 1; problems ++= p }
        secs
      }
      val firstS = execution()

      val warm = Seq.newBuilder[Double]
      var allocBytes = 0L
      if (warmSeconds > 0) {
        // the JIT needs seconds of full-speed executions to compile the
        // per-row path; executions before that are not warm
        val w0 = System.nanoTime()
        while ((System.nanoTime() - w0) / 1e9 < warmupFactor(name) * warmSeconds) execution()
        val before = allocated()
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < warmSeconds) warm += execution()
        allocBytes = allocatedBetween(before, allocated())
      }
      val warmS = warm.result()

      val sample = if (sampleCheck) Checks.sampleProblems(spark, w, 200) else Nil
      Harness.jsonLine(Seq(
        "workload" -> name, "seed" -> seed, "rows" -> w.rows.length,
        "gen_s" -> genS, "input_s" -> inputS, "setup_s" -> setupS, "first_query_s" -> firstS,
        "warm_s" -> warmS, "alloc_bytes" -> allocBytes,
        "attempted" -> attempted, "failed" -> failed,
        "problems" -> (problems.result() ++ sample).take(20),
        "sample_rows_checked" -> (if (sampleCheck) 200 else 0), "sample_ok" -> sample.isEmpty,
        "shape" -> Map("bytes_per_row" -> w.bytesPerRow, "corrupt_share" -> w.corruptShare,
          "outputs_per_row" -> w.outputsPerRow, "partitions" -> Harness.partitions),
        "shape_problems" -> Workloads.shapeProblems(w)))
    } finally spark.stop()
  }
}
