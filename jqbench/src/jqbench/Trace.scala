package jqbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

import graft.Graft
import graft.jq.Jq
import graft.operators.{JsonMarshaller, JsonQueryGenerator}

/** Layers of the per-row jq path, in the order a row passes through them. */
object Layer {
  val Generate = 0 // JsonQueryGenerator.eval(row), drained: the root span of a row
  val Decode = 1 // UTF8String.toString on the input column
  val Parse = 2 // Jq.parseWithError / Jq.parsePrunedWithError
  val Eval = 3 // CompiledJq.apply(node, $error), drained
  val Marshal = 4 // JsonMarshaller per output column, one span per output
  val names: Array[String] =
    Array("operators.generate", "operators.decode", "jq.parse", "jq.eval", "operators.marshal")
}

/** Spans kept in memory as parallel arrays and written out when the run
  * ends: layer, start, end, parent span (-1 for a root) and row id. */
final class Spans(initial: Int) {
  var layer = new Array[Byte](initial)
  var start = new Array[Long](initial)
  var end = new Array[Long](initial)
  var parent = new Array[Int](initial)
  var row = new Array[Int](initial)
  var size = 0

  def open(l: Int, p: Int, r: Int): Int = {
    if (size == layer.length) grow()
    val i = size
    layer(i) = l.toByte; parent(i) = p; row(i) = r
    size = i + 1
    start(i) = System.nanoTime()
    i
  }

  def close(i: Int): Unit = end(i) = System.nanoTime()

  def clear(): Unit = size = 0

  private def grow(): Unit = {
    val n = layer.length * 2
    layer = java.util.Arrays.copyOf(layer, n); start = java.util.Arrays.copyOf(start, n)
    end = java.util.Arrays.copyOf(end, n); parent = java.util.Arrays.copyOf(parent, n)
    row = java.util.Arrays.copyOf(row, n)
  }

  /** Per layer: summed duration and summed self time (duration minus the
    * part its child spans cover; children never overlap each other). */
  def sums(): (Array[Long], Array[Long]) = {
    val total = new Array[Long](Layer.names.length)
    val self = new Array[Long](Layer.names.length)
    var i = 0
    while (i < size) {
      val d = end(i) - start(i)
      total(layer(i)) += d
      self(layer(i)) += d
      if (parent(i) >= 0) self(layer(parent(i))) -= d
      i += 1
    }
    (total, self)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try {
      out.println("span\tlayer\tstart_ns\tend_ns\tparent\trow")
      var i = 0
      while (i < size) {
        out.println(s"$i\t${Layer.names(layer(i))}\t${start(i)}\t${end(i)}\t${parent(i)}\t${row(i)}")
        i += 1
      }
    } finally out.close()
  }
}

object LayerReplay {
  /** Rows as the operator sees them: the JSON text in column 0. */
  def inputRows(rows: Seq[String]): Array[InternalRow] =
    rows.map(s => new GenericInternalRow(Array[Any](UTF8String.fromString(s))): InternalRow).toArray
}

/** The generator's per-row path replayed through each layer's public entry
  * point, with one span per layer call. It must emit exactly what
  * `JsonQueryGenerator.eval` emits; [[TraceRun]] checks that on every run. */
final class LayerReplay(program: String, types: Seq[String]) {
  private val compiled = Jq.compileCached(program)
  private val fields = compiled.footprint
  private val (schema, whole) = JsonQueryGenerator.parseTypeArgs(types)
  private val marshallers = schema.fields.map(f => JsonMarshaller.compile(f.dataType))
  private val fieldNames = schema.fieldNames
  val pruned: Boolean = fields.isDefined

  /** The operator itself, bound to column 0 of the input row. */
  val generator = JsonQueryGenerator(BoundReference(0, StringType, nullable = true), program, types)

  /** Replays `inputs`, recording spans; `errorRow(r)` is set when row r's
    * parse failed and `$error` was bound. */
  def replay(inputs: Array[InternalRow], spans: Spans, errorRow: Array[Boolean],
             emit: (Int, InternalRow) => Unit): Unit = {
    val outs = new ArrayBuffer[JsonNode](8)
    var r = 0
    while (r < inputs.length) {
      val g = spans.open(Layer.Generate, -1, r)
      val d = spans.open(Layer.Decode, g, r)
      val raw = inputs(r).getUTF8String(0)
      val text = if (raw == null) null else raw.toString
      spans.close(d)
      val p = spans.open(Layer.Parse, g, r)
      val (node, err) = fields match {
        case Some(f) => Jq.parsePrunedWithError(text, f)
        case None => Jq.parseWithError(text)
      }
      spans.close(p)
      errorRow(r) = !err.isNull
      val e = spans.open(Layer.Eval, g, r)
      val it = compiled.apply(node, Map("error" -> err))
      outs.clear()
      while (it.hasNext) outs += it.next()
      spans.close(e)
      var o = 0
      while (o < outs.size) {
        val m = spans.open(Layer.Marshal, g, r)
        val values = marshal(outs(o))
        spans.close(m)
        emit(r, new GenericInternalRow(values))
        o += 1
      }
      spans.close(g)
      r += 1
    }
  }

  /** `JsonQueryGenerator.eval` over `inputs`, drained, with no spans. */
  def generate(inputs: Array[InternalRow], emit: (Int, InternalRow) => Unit): Unit = {
    var r = 0
    while (r < inputs.length) {
      val it = generator.eval(inputs(r)).iterator
      while (it.hasNext) emit(r, it.next())
      r += 1
    }
  }

  private def marshal(node: JsonNode): Array[Any] = {
    val row = new Array[Any](marshallers.length)
    if (whole) row(0) = marshallers(0)(node)
    else {
      var i = 0
      while (i < marshallers.length) {
        val sub = if (node.isObject) node.get(fieldNames(i)) else null
        row(i) = if (sub == null) null else marshallers(i)(sub)
        i += 1
      }
    }
    row
  }

  private def collect(rows: Int, run: ((Int, InternalRow) => Unit) => Unit): Seq[Seq[Row]] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val byRow = Array.fill(rows)(ArrayBuffer.empty[Row])
    run((r, out) => byRow(r) += toRow(out).asInstanceOf[Row])
    byRow.toSeq.map(_.toSeq)
  }

  def replayedRows(inputs: Array[InternalRow]): Seq[Seq[Row]] =
    collect(inputs.length, replay(inputs, new Spans(1024), new Array[Boolean](inputs.length), _))

  def generatedRows(inputs: Array[InternalRow]): Seq[Seq[Row]] = collect(inputs.length, generate(inputs, _))

  /** Differences between the operator's output rows and the replay's. */
  def parityProblems(inputs: Array[InternalRow]): Seq[String] =
    Checks.rowProblems(generatedRows(inputs), replayedRows(inputs))
}

/** The traced run of one workload: per-layer times from a one-thread replay
  * of a fixed row sample, the operator's own time on the same sample, task
  * counters of the Spark executions, and the scan and Spark-builtin
  * reference times on the same input. */
object TraceRun {

  /** Rows replayed per pass, sized so a pass takes a few tens of milliseconds. */
  private val sampleRows = Map("tiny_rows" -> 20000, "wide_docs" -> 2000, "nested_explode" -> 5000)

  /** Keeps emitted rows reachable, so the JIT cannot drop their construction. */
  @volatile private var sink: AnyRef = _

  private def timeNs(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }

  def run(name: String, seed: Long, rows: Int, seconds: Double): String = {
    val w = Workloads.generate(name, seed, rows)
    val spark = Harness.startSession()
    Graft.register(spark)
    try {
      val metrics = Map.newBuilder[String, Double]
      val problems = Seq.newBuilder[String]

      // jq.compile: parse + rewrite + footprint of a fresh CompiledJq
      def compileOnce(): Unit = sink = Jq.compile(w.program).footprint
      (1 to 200).foreach(_ => compileOnce())
      metrics += "jq.compile.us" -> Harness.median((1 to 200).map(_ => timeNs(compileOnce()) / 1e3))

      // the layer replay and the operator on the same fixed sample
      val sample = LayerReplay.inputRows(w.rows.take(sampleRows(name)).toSeq)
      val sampleBytes = sample.iterator.map(_.getUTF8String(0).numBytes.toLong).sum
      val replay = new LayerReplay(w.program, w.types)
      val parity = replay.parityProblems(sample)
      problems ++= parity.take(5).map("replay parity: " + _)

      val spans = new Spans(sample.length * 8)
      val errorRow = new Array[Boolean](sample.length)
      var outputs = 0L
      val emit: (Int, InternalRow) => Unit = (_, out) => { outputs += 1; sink = out }
      val perPass = ArrayBuffer.empty[Map[String, Double]]
      val budget = 0.4 * seconds
      val t0 = System.nanoTime()
      var passes = 0
      while ((System.nanoTime() - t0) / 1e9 < budget || passes < 10) {
        val genNs = timeNs(replay.generate(sample, emit))
        spans.clear(); outputs = 0
        val replayNs = timeNs(replay.replay(sample, spans, errorRow, emit))
        // the first quarter of the budget warms the JIT and is not reported
        if ((System.nanoTime() - t0) / 1e9 > budget / 4) perPass += passMetrics(spans, errorRow, outputs, sample.length,
          sampleBytes, genNs, replayNs, replay.pruned)
        passes += 1
      }
      perPass.head.keys.foreach(k => metrics += k -> Harness.median(perPass.map(_(k)).toSeq))
      metrics += "trace.passes" -> perPass.size.toDouble
      metrics += "trace.parity_rows" -> sample.length.toDouble
      spans.write(java.nio.file.Paths.get("jqbench", "target", "trace", s"$name.spans.tsv"))

      // the Spark layer: task counters over checked executions of the query
      Harness.inputView(spark, w, seed)
      val df = spark.sql(w.sql("input"))
      var attempted, failed = 0
      def execution(): Double = {
        val (secs, p) = Harness.checkedExecution(df, w)
        attempted += 1
        if (p.nonEmpty) { failed += 1; problems ++= p }
        secs
      }
      (1 to 2).foreach(_ => execution())
      val counters = new TaskCounters(spark.sparkContext)
      counters.reset()
      val times = (1 to 5).map(_ => execution())
      metrics ++= counters.snapshot(times.size)
      metrics += "spark.query_s" -> Harness.median(times)
      def medianNoop(sql: String): Double = {
        val q = spark.sql(sql)
        Harness.timeNoop(q)
        Harness.median((1 to 3).map(_ => Harness.timeNoop(q)))
      }
      metrics += "spark.scan_s" -> medianNoop("SELECT json FROM input")
      metrics += "ref.get_json_object_s" ->
        medianNoop(s"SELECT get_json_object(json, ${Workloads.sqlString(w.refGetJsonPath)}) AS v FROM input")
      metrics += "ref.from_json_s" ->
        medianNoop(s"SELECT from_json(json, ${Workloads.sqlString(w.refFromJsonSchema)}) AS v FROM input")

      val p = problems.result()
      Harness.jsonLine(Seq(
        "workload" -> name, "seed" -> seed, "rows" -> w.rows.length,
        "attempted" -> attempted, "failed" -> failed,
        "parity_ok" -> parity.isEmpty, "problems" -> p.take(20),
        "shape_problems" -> Workloads.shapeProblems(w),
        "metrics" -> metrics.result()))
    } finally spark.stop()
  }

  private def passMetrics(spans: Spans, errorRow: Array[Boolean], outputs: Long, rows: Int, bytes: Long,
                          genNs: Long, replayNs: Long, pruned: Boolean): Map[String, Double] = {
    val (total, self) = spans.sums()
    var errorRows = 0
    var errorParseNs = 0L
    var i = 0
    while (i < spans.size) {
      if (spans.layer(i) == Layer.Parse && errorRow(spans.row(i))) {
        errorRows += 1
        errorParseNs += spans.end(i) - spans.start(i)
      }
      i += 1
    }
    val genPerRow = genNs.toDouble / rows
    val replayPerRow = replayNs.toDouble / rows
    Map(
      "operators.decode.ns_per_row" -> total(Layer.Decode).toDouble / rows,
      "jq.parse.ns_per_row" -> total(Layer.Parse).toDouble / rows,
      "jq.parse.ns_per_kb" -> total(Layer.Parse).toDouble / (bytes / 1024.0),
      "jq.parse.pruned_share" -> (if (pruned) 1.0 else 0.0),
      "jq.parse.error_rows" -> errorRows.toDouble,
      "jq.parse.error_ns_per_row" -> (if (errorRows == 0) 0.0 else errorParseNs.toDouble / errorRows),
      "jq.eval.ns_per_row" -> total(Layer.Eval).toDouble / rows,
      "jq.eval.outputs_per_row" -> outputs.toDouble / rows,
      "operators.marshal.ns_per_output" -> (if (outputs == 0) 0.0 else total(Layer.Marshal).toDouble / outputs),
      "operators.generate.ns_per_row" -> genPerRow,
      "operators.generate.self_share" -> self(Layer.Generate).toDouble / total(Layer.Generate),
      "trace.replay_ns_per_row" -> replayPerRow,
      "trace.overhead_share" -> (replayPerRow - genPerRow) / genPerRow)
  }
}
