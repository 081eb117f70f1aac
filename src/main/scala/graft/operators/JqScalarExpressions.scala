package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.jq.{Jq, JqError}

/** Scalar sugar over the jq engine (Spark-first additions; the reference
  * only ships the UDTF, but scalar extraction is the dominant usage in
  * SELECT contexts and avoids a Generate node entirely).
  *
  * jq_string(json, prog): first jq output rendered as string (text nodes
  * unwrapped, others compact JSON); NULL when jq yields no output or a
  * JSON null.
  */
case class JqString(child: Expression, program: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  @transient private lazy val compiled = Jq.compileCached(program)

  override def eval(input: InternalRow): Any = {
    val json = child.eval(input).asInstanceOf[UTF8String]
    val n = try compiled.firstUtf8(json) catch { case e: JqError => throw JqOutput.failure(e, json) }
    if (n == null || n.isNull) null else JqOutput.render(n)
  }

  override protected def withNewChildInternal(newChild: Expression): JqString =
    copy(child = newChild)
  override def prettyName: String = "jq_string"
}

/** jq_extract_all(json, prog): every jq output rendered as jq_string does,
  * a JSON null as "null", collected into array<string> (NULL never — empty
  * array when no outputs). */
case class JqExtractAll(child: Expression, program: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val compiled = Jq.compileCached(program)

  override def eval(input: InternalRow): Any = {
    val json = child.eval(input).asInstanceOf[UTF8String]
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    try compiled.runUtf8(json, n => out += JqOutput.render(n))
    catch { case e: JqError => throw JqOutput.failure(e, json) }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): JqExtractAll =
    copy(child = newChild)
  override def prettyName: String = "jq_extract_all"
}
