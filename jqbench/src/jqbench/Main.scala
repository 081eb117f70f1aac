package jqbench

/** JVM entry point; `jqbench/run.py` launches it and combines the JSON lines.
  *
  *   jqbench.Main e2e   --workload W --seed N --warm-seconds S --sample-check 0|1
  *   jqbench.Main trace --workload W --seed N --seconds S
  *   jqbench.Main selftest
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def workload = opts("workload")
    def seed = opts("seed").toLong
    def rows = Workloads.defaultRows(workload)
    val code = args.headOption match {
      case Some("e2e") =>
        println(EndToEnd.run(workload, seed, rows, opts("warm-seconds").toDouble, opts("sample-check") == "1"))
        0
      case Some("trace") =>
        println(TraceRun.run(workload, seed, rows, opts("seconds").toDouble))
        0
      case Some("selftest") => SelfTest.run()
      case other =>
        System.err.println(s"unknown mode: $other")
        2
    }
    System.out.flush()
    sys.exit(code)
  }
}
