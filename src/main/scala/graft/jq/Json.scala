package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node._
import scala.jdk.CollectionConverters._

/** JSON value helpers over Jackson nodes.
  *
  * Jackson is the same JSON family the reference stack uses
  * (JsonQueryUDTF.java:26 + jackson-jq), so coercion/serialization
  * behavior lines up with the reference for free.
  */
object Json {
  val F: JsonNodeFactory = JsonNodeFactory.instance

  val NullN: NullNode = NullNode.getInstance()
  val TrueN: BooleanNode = BooleanNode.TRUE
  val FalseN: BooleanNode = BooleanNode.FALSE

  // generator-heavy programs (range, indices, lengths) allocate the same
  // small integers millions of times per partition — cache them once.
  // LongNodes are immutable, so sharing is safe.
  private val smallLongs: Array[JsonNode] =
    Array.tabulate(1153)(i => F.numberNode((i - 128).toLong))

  /** Canonical jq number: integral doubles in the exact-long range become
    * LongNode (jq prints `4/2` as `2`, not `2.0`); everything else DoubleNode. */
  def num(d: Double): JsonNode =
    if (d.isWhole && !d.isInfinite && math.abs(d) <= 9.007199254740992e15) {
      val l = d.toLong
      if (l >= -128 && l <= 1024) smallLongs((l + 128).toInt) else F.numberNode(l)
    } else F.numberNode(d)

  def text(s: String): TextNode = F.textNode(s)
  def bool(b: Boolean): BooleanNode = if (b) TrueN else FalseN

  def arr(items: Iterable[JsonNode]): ArrayNode = {
    val a = F.arrayNode(items.size)
    items.foreach(a.add)
    a
  }
  def obj(entries: Iterable[(String, JsonNode)]): ObjectNode = {
    val o = F.objectNode()
    entries.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }

  def truthy(n: JsonNode): Boolean = !(n.isNull || (n.isBoolean && !n.booleanValue()))

  def typeName(n: JsonNode): String =
    if (n.isNull) "null"
    else if (n.isBoolean) "boolean"
    else if (n.isNumber) "number"
    else if (n.isTextual) "string"
    else if (n.isArray) "array"
    else "object"

  private def typeRank(n: JsonNode): Int =
    if (n.isNull) 0
    else if (n.isBoolean) { if (n.booleanValue()) 2 else 1 }
    else if (n.isNumber) 3
    else if (n.isTextual) 4
    else if (n.isArray) 5
    else 6

  /** jq total order: null < false < true < numbers < strings < arrays < objects. */
  def compare(a: JsonNode, b: JsonNode): Int = {
    val ra = typeRank(a); val rb = typeRank(b)
    if (ra != rb) return Integer.compare(ra, rb)
    ra match {
      case 0 | 1 | 2 => 0
      case 3 => java.lang.Double.compare(a.doubleValue(), b.doubleValue())
      case 4 => compareStrings(a.textValue(), b.textValue())
      case 5 =>
        val ia = a.elements(); val ib = b.elements()
        while (ia.hasNext && ib.hasNext) {
          val c = compare(ia.next(), ib.next())
          if (c != 0) return c
        }
        java.lang.Boolean.compare(ia.hasNext, ib.hasNext)
      case _ =>
        val ka = fieldNamesSorted(a); val kb = fieldNamesSorted(b)
        var i = 0
        while (i < ka.length && i < kb.length) {
          val c = compareStrings(ka(i), kb(i))
          if (c != 0) return c
          i += 1
        }
        if (ka.length != kb.length) return Integer.compare(ka.length, kb.length)
        i = 0
        while (i < ka.length) {
          val c = compare(a.get(ka(i)), b.get(ka(i)))
          if (c != 0) return c
          i += 1
        }
        0
    }
  }

  /** Codepoint-order string compare (Java's compareTo is UTF-16 order,
    * which misorders supplementary planes). */
  private def compareStrings(x: String, y: String): Int = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  def eq(a: JsonNode, b: JsonNode): Boolean = compare(a, b) == 0

  def fieldNamesSorted(o: JsonNode): Array[String] = {
    val names = o.fieldNames().asScala.toArray
    java.util.Arrays.sort(names, (x: String, y: String) => compareStrings(x, y))
    names
  }

  val ordering: Ordering[JsonNode] = (a, b) => compare(a, b)

  /** Compact serialization (Jackson toString — same renderer the reference
    * relies on in ResultObjectMarshaller.java:52). */
  def serialize(n: JsonNode): String = n.toString

  /** jq's `tostring`: a string's text as is, any other value as compact JSON. */
  def render(n: JsonNode): String = if (n.isTextual) n.textValue() else serialize(n)

  def elements(n: JsonNode): Iterator[JsonNode] = n.elements().asScala
  def fields(n: JsonNode): Iterator[(String, JsonNode)] =
    n.properties().iterator().asScala.map(e => (e.getKey, e.getValue))
}
