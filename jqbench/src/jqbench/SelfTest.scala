package jqbench

import graft.Graft

/** Specs of the benchmark's own machinery: the generator is a function of
  * the seed, and every output check fails when its expected value is
  * wrong. Run after each build; a failing spec fails the build. */
object SelfTest {
  private var failures = 0

  private def spec(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => System.err.println(s"  $e"); false }
    if (!passed) failures += 1
    System.err.println(s"${if (passed) "PASS" else "FAIL"} $name")
  }

  def run(): Int = {
    for (name <- Workloads.names) {
      val a = Workloads.generate(name, 7, 3000)
      val b = Workloads.generate(name, 7, 3000)
      val c = Workloads.generate(name, 8, 3000)
      spec(s"$name: the same seed gives the same rows and totals") {
        a.rows.sameElements(b.rows) && a.expected == b.expected && a.corruptRows == b.corruptRows
      }
      spec(s"$name: another seed gives other rows") { !a.rows.sameElements(c.rows) }
      spec(s"$name: the generated shape is in bounds") {
        Workloads.shapeProblems(a).foreach(p => System.err.println(s"  $p"))
        Workloads.shapeProblems(a).isEmpty
      }
      spec(s"$name: the shape check fails on a shape out of bounds") {
        Workloads.shapeProblems(a.copy(rows = a.rows.map(_ + " " * 2000))).nonEmpty
      }
    }

    val nested = Workloads.generate("nested_explode", 11, 300)
    val expected = Checks.systemJq(nested.program, nested.types, nested.rows.toSeq)
    val replay = new LayerReplay(nested.program, nested.types)
    val sample = LayerReplay.inputRows(nested.rows.toSeq)
    spec("nested_explode: the operator matches the jq binary row by row") {
      Checks.rowProblems(expected, replay.generatedRows(sample)).isEmpty
    }
    val hit = expected.indexWhere(_.nonEmpty)
    spec("the jq-binary check fails when one expected value is wrong") {
      val wrong = expected.updated(hit, expected(hit).map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(3, -1.0))))
      Checks.rowProblems(wrong, replay.generatedRows(sample)).nonEmpty
    }
    spec("the jq-binary check fails when one expected row is missing") {
      Checks.rowProblems(expected.updated(hit, expected(hit).drop(1)), replay.generatedRows(sample)).nonEmpty
    }
    for (name <- Workloads.names) {
      val w = Workloads.generate(name, 11, 500)
      val r = new LayerReplay(w.program, w.types)
      spec(s"$name: the layer replay matches the operator") { r.parityProblems(LayerReplay.inputRows(w.rows.toSeq)).isEmpty }
    }
    spec("the parity check fails when the replay drifts from the operator") {
      val drifted = new LayerReplay(nested.program.replace(".qty*.price", ".qty*.price*2"), nested.types)
      Checks.rowProblems(replay.generatedRows(sample), drifted.replayedRows(sample)).nonEmpty
    }
    spec("span self time excludes the child spans") {
      val s = new Spans(2)
      val g = s.open(Layer.Generate, -1, 0); val d = s.open(Layer.Decode, g, 0); val p = s.open(Layer.Parse, g, 0)
      s.start(g) = 0; s.end(g) = 100; s.start(d) = 10; s.end(d) = 40; s.start(p) = 50; s.end(p) = 70
      val (total, self) = s.sums()
      total(Layer.Generate) == 100 && self(Layer.Generate) == 50 && self(Layer.Decode) == 30
    }

    val spark = Harness.startSession()
    Graft.register(spark)
    try {
      for (name <- Workloads.names) {
        val w = Workloads.generate(name, 5, 4000)
        Harness.inputView(spark, w, 5, s"input_$name")
        val df = spark.sql(w.sql(s"input_$name"))
        spec(s"$name: the per-execution totals check passes") { Harness.checkedExecution(df, w)._2.isEmpty }
        for (key <- w.expected.keys.toSeq.sorted)
          spec(s"$name: the totals check fails when $key is wrong") {
            Harness.checkedExecution(df, w.copy(expected = w.expected.updated(key, w.expected(key) + 1)))._2.nonEmpty
          }
        if (name == "nested_explode") spec(s"$name: the jq-binary sample check passes through Spark") {
          Checks.sampleProblems(spark, w, 100).isEmpty
        }
      }
      spec("the task counters see every input partition") {
        val w = Workloads.generate("tiny_rows", 5, 4000)
        Harness.inputView(spark, w, 5) // the split size is a session setting: set it for this input
        val counters = new TaskCounters(spark.sparkContext)
        counters.reset()
        Harness.checkedExecution(spark.sql(w.sql("input")), w)
        val m = counters.snapshot(1)
        m("spark.jobs") >= 1 && m("spark.tasks") >= Harness.partitions && m("spark.task_samples") >= Harness.partitions
      }
    } finally spark.stop()
    System.err.println(s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
