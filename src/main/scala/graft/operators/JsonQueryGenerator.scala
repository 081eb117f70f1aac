package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.jq.{Jq, JqError, Json, Projection}

/** Spark-native equivalent of the reference UDTF
  * (reference: JsonQueryUDTF.java — jq(JSON, JQ, TYPE...) Hive generator).
  *
  * Planned through Spark's own `Generate` node, so it works in `SELECT`,
  * `LATERAL VIEW [OUTER]`, and composes with whole-stage-codegen'd parents
  * and children. The jq program is compiled once per executor JVM
  * (`Jq.compileCached`); per row we parse the JSON from its UTF-8 bytes
  * (`CompiledJq.runUtf8`, no String decode), bind `$error` per the
  * reference's corrupt-input contract, run the row with one call and
  * marshal each output directly to an InternalRow (no Row boxing).
  *
  * Two call forms, as in the reference (README "Usage"):
  *   jq(json, 'PROGRAM', 'TYPE')           → single column `col1` of TYPE
  *   jq(json, 'PROGRAM', 'F1:T1', 'F2:T2') → one column per Fi:Ti
  */
case class JsonQueryGenerator(child: Expression, program: String, typeArgs: Seq[String])
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"JSON argument must be a string, got ${child.dataType.catalogString}")

  /** (schema, whole-result-into-one-column?) — mirrors
    * ResultObjectMarshallers.create (JsonQueryUDTF.java:178-195). */
  private lazy val (schema, whole) = JsonQueryGenerator.parseTypeArgs(typeArgs)

  override def elementSchema: StructType = schema

  @transient private lazy val compiled = Jq.compileCached(program)
  @transient private lazy val marshallers: Array[JsonNode => Any] =
    schema.fields.map(f => JsonMarshaller.compile(f.dataType))
  @transient private lazy val fieldNames: Array[String] = schema.fieldNames

  /** The reference's contract (JsonQueryUDTF.java:74-107): every output of
    * the row is forwarded, and a jq error anywhere in the row fails it, so
    * the row runs to its end before its first output is returned. A path
    * projection ([[Projection]]) reads its leaves without the row's tree
    * where it can; every other row takes the node path. */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val json = child.eval(input).asInstanceOf[UTF8String]
    val projected = if (lane == null) null else project(json)
    if (projected != null) projected else evalNodes(json)
  }

  @transient private lazy val lane: Projection = compiled.projection
  // the guard's rows, marshalled once
  @transient private lazy val errorRows: Array[InternalRow] =
    if (lane == null || !lane.guarded) null else lane.onError.map(marshal)

  /** The lane's outputs for `json`, or null when the row takes the node path. */
  private def project(json: UTF8String): Iterator[InternalRow] = {
    val slots = new Array[JsonNode](lane.slots)
    compiled.project(json, slots) match {
      case Projection.Read => val v = lane.value(slots); if (v == null) null else Iterator.single(marshal(v))
      case Projection.Corrupt => errorRows.iterator
      case _ => null
    }
  }

  /** Runs the row on the compiled program and marshals each output. */
  private[operators] def evalNodes(json: UTF8String): IterableOnce[InternalRow] = {
    val rows = new JsonQueryGenerator.Rows
    try compiled.runUtf8(json, node => rows += marshal(node))
    catch { case e: JqError => throw JqOutput.failure(e, json) }
    rows.iterator
  }

  private def marshal(node: JsonNode): InternalRow = {
    val row = new Array[Any](marshallers.length)
    if (whole) {
      row(0) = marshallers(0)(node)
    } else {
      var i = 0
      while (i < marshallers.length) {
        val sub = if (node.isObject) node.get(fieldNames(i)) else null
        row(i) = if (sub == null) null else marshallers(i)(sub)
        i += 1
      }
    }
    new GenericInternalRow(row)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonQueryGenerator =
    copy(child = newChild)

  override def prettyName: String = "jq"
}

object JsonQueryGenerator {
  /** A row's outputs: the first held alone, the rest in a buffer made
    * only when there are more. */
  private final class Rows {
    private var first: InternalRow = _
    private var more: scala.collection.mutable.ArrayBuffer[InternalRow] = _

    def +=(row: InternalRow): Unit =
      if (first == null) first = row
      else {
        if (more == null) more = scala.collection.mutable.ArrayBuffer(first)
        more += row
      }

    def iterator: Iterator[InternalRow] =
      if (more != null) more.iterator else if (first != null) Iterator.single(first) else Iterator.empty
  }

  // NAME:TYPE splitter — same shape the reference accepts (JsonQueryUDTF.java:160)
  private val NameAndType = "^([a-zA-Z_][a-zA-Z0-9_]*):([a-zA-Z_].*)$".r

  def parseTypeArgs(typeArgs: Seq[String]): (StructType, Boolean) = {
    require(typeArgs.nonEmpty, "jq() takes at least three arguments.")
    typeArgs match {
      case Seq(NameAndType(name, tpe)) =>
        (StructType(Seq(StructField(name, parseHiveType(tpe)))), false)
      case Seq(single) =>
        (StructType(Seq(StructField("col1", parseHiveType(single)))), true)
      case many =>
        val fields = many.map {
          case NameAndType(name, tpe) => StructField(name, parseHiveType(tpe))
          case bad =>
            throw new IllegalArgumentException(
              s"""Can't parse NAME:TYPE from "$bad". NAME is required.""")
        }
        (StructType(fields), false)
    }
  }

  /** Hive type string → Spark DataType, restricted to the reference's
    * supported set (README "Supported Hive types"). */
  def parseHiveType(s: String): DataType = {
    val dt =
      try CatalystSqlParser.parseDataType(s)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"Can't parse TYPE from \"$s\": ${e.getMessage}")
      }
    def check(t: DataType): Unit = t match {
      case StringType | IntegerType | LongType | FloatType | DoubleType | BooleanType => ()
      case ArrayType(el, _) => check(el)
      case MapType(StringType, v, _) => check(v)
      case MapType(k, _, _) =>
        throw new IllegalArgumentException(s"map key type must be string, got ${k.catalogString}")
      case st: StructType => st.fields.foreach(f => check(f.dataType))
      case other =>
        throw new IllegalArgumentException(s"unsupported type: ${other.catalogString}")
    }
    check(dt)
    dt
  }
}

/** What the three jq operators share with the reference: an output
  * rendered as a string (text as is, any other value as compact JSON,
  * ResultObjectMarshaller.java:52) and the wording of a jq runtime error
  * (JsonQueryUDTF.java:101). Each caller decides what a JSON null gives. */
private[operators] object JqOutput {
  def render(n: JsonNode): UTF8String = UTF8String.fromString(Json.render(n))

  def failure(e: JqError, json: UTF8String): RuntimeException =
    new RuntimeException(s"""jq returned an error "${e.getMessage}" from input: $json""", e)
}

/** JsonNode → Catalyst value, compiled once per output type.
  * Coercions mirror ResultObjectMarshaller.java:45-97: Jackson asInt /
  * asLong / asDouble / asBoolean for primitives; strings keep text nodes
  * as-is and serialize everything else to compact JSON; missing struct
  * fields become null. */
object JsonMarshaller {
  def compile(dt: DataType): JsonNode => Any = dt match {
    case StringType => n => if (n == null || n.isNull) null else JqOutput.render(n)
    case IntegerType => n => if (n == null || n.isNull) null else Int.box(n.asInt())
    case LongType => n => if (n == null || n.isNull) null else Long.box(n.asLong())
    case FloatType => n => if (n == null || n.isNull) null else Float.box(n.asDouble().toFloat)
    case DoubleType => n => if (n == null || n.isNull) null else Double.box(n.asDouble())
    case BooleanType => n => if (n == null || n.isNull) null else Boolean.box(n.asBoolean())
    case ArrayType(el, _) =>
      val elM = compile(el)
      n => if (n == null || n.isNull) null
           else new GenericArrayData(Json.elements(n).map(elM).toArray)
    case MapType(StringType, v, _) =>
      val vM = compile(v)
      n => if (n == null || n.isNull) null
           else {
             val entries = Json.fields(n).toArray
             ArrayBasedMapData(
               entries.map(e => UTF8String.fromString(e._1): Any),
               entries.map(e => vM(e._2)))
           }
    case st: StructType =>
      val fieldMs = st.fields.map(f => (f.name, compile(f.dataType)))
      n => if (n == null || n.isNull) null
           else {
             val row = new Array[Any](fieldMs.length)
             var i = 0
             while (i < fieldMs.length) {
               val sub = if (n.isObject) n.get(fieldMs(i)._1) else null
               row(i) = if (sub == null) null else fieldMs(i)._2(sub)
               i += 1
             }
             new GenericInternalRow(row)
           }
    case other =>
      throw new IllegalArgumentException(s"unsupported type: ${other.catalogString}")
  }
}
