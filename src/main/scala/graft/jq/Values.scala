package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** jq runtime error; payload is a JSON value (usually a string), caught by
  * `try`/`?`, surfaced with reference-compatible message otherwise. */
final class JqError(val payload: JsonNode) extends RuntimeException(Json.render(payload))
object JqError {
  def of(msg: String): JqError = new JqError(Json.text(msg))
}

/** The value-level operations of jq: indexing, arithmetic and paths. */
object Values {
  import Json._

  type Path = Vector[JsonNode]

  def preview(v: JsonNode): String = {
    val s = Json.serialize(v)
    val short = if (s.length > 11) s.take(10) + "..." else s
    s" ($short)"
  }

  def fieldAccess(t: JsonNode, name: String): JsonNode =
    if (t.isNull) NullN
    else if (t.isObject) { val v = t.get(name); if (v == null) NullN else v }
    else throw JqError.of(s"Cannot index ${Json.typeName(t)} with \"$name\"")

  def indexAccess(t: JsonNode, i: JsonNode): JsonNode =
    if (i.isTextual) fieldAccess(t, i.textValue())
    else if (i.isNumber) {
      if (t.isNull) NullN
      else if (t.isArray) {
        // jq 1.6: an index that is no integer gives null
        val d = i.doubleValue()
        val n = t.size()
        var idx = d.toInt
        if (idx != d) NullN
        else {
          if (idx < 0) idx += n
          if (idx < 0 || idx >= n) NullN else t.get(idx)
        }
      } else throw JqError.of(s"Cannot index ${Json.typeName(t)} with number")
    } else if (i.isObject && t.isArray) {
      // .[{"start":a,"end":b}] — slice via object (path-elem form)
      sliceAccess(t, i.get("start"), i.get("end"))
    } else if (t.isNull) NullN
    else throw JqError.of(s"Cannot index ${Json.typeName(t)} with ${Json.typeName(i)}")

  /** jq 1.6's slice [from, to) of a length: a negative bound counts from
    * len, both are clamped to [0, len] and the end to no less than the
    * start; then the start is floored and the end ceiled. A null bound is 0
    * or len. */
  private def bounds(from: JsonNode, to: JsonNode, len: Int): (Int, Int) = {
    def bound(x: JsonNode, dflt: Double): Double =
      if (x == null || x.isNull) dflt else { val v = x.doubleValue(); if (v < 0) v + len else v }
    val f = math.max(0.0, math.min(len.toDouble, bound(from, 0)))
    val e = math.max(f, math.min(len.toDouble, bound(to, len)))
    (f.toInt, math.ceil(e).toInt)
  }

  def sliceAccess(t: JsonNode, from: JsonNode, to: JsonNode): JsonNode =
    if (t.isNull) NullN
    else if (t.isArray) {
      val (f, tt) = bounds(from, to, t.size())
      arr((f until tt).map(t.get))
    } else if (t.isTextual) {
      val s = t.textValue()
      val (f, tt) = bounds(from, to, s.codePointCount(0, s.length))
      text(s.substring(s.offsetByCodePoints(0, f), s.offsetByCodePoints(0, tt)))
    } else throw JqError.of(s"Cannot index ${Json.typeName(t)} with object")

  /** Pushes `v`, then every value below it, depth first (jq's `..`). */
  def recurseAll(v: JsonNode, k: JsonNode => Unit): Unit = {
    val stack = new java.util.ArrayDeque[JsonNode]()
    stack.push(v)
    while (!stack.isEmpty) {
      val x = stack.pop()
      k(x)
      if (x.isArray || x.isObject) {
        var i = x.size() - 1
        if (x.isArray) while (i >= 0) { stack.push(x.get(i)); i -= 1 }
        else {
          val children = Json.fields(x).map(_._2).toArray
          while (i >= 0) { stack.push(children(i)); i -= 1 }
        }
      }
    }
  }

  // ---- arithmetic -------------------------------------------------------

  /** The operation of a binary operator; `and`/`or` are control flow. */
  def binop(op: String): (JsonNode, JsonNode) => JsonNode = op match {
    case "==" => (a, b) => bool(Json.eq(a, b))
    case "!=" => (a, b) => bool(!Json.eq(a, b))
    case "<" => (a, b) => bool(Json.compare(a, b) < 0)
    case "<=" => (a, b) => bool(Json.compare(a, b) <= 0)
    case ">" => (a, b) => bool(Json.compare(a, b) > 0)
    case ">=" => (a, b) => bool(Json.compare(a, b) >= 0)
    case "+" => add
    case "-" => subtract
    case "*" => multiply
    case "/" => divide
    case "%" => modulo
  }

  private def cannot(a: JsonNode, b: JsonNode, what: String): JqError =
    JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be $what")

  def add(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isNull) b
    else if (b.isNull) a
    else if (a.isNumber && b.isNumber) num(a.doubleValue() + b.doubleValue())
    else if (a.isTextual && b.isTextual) text(a.textValue() + b.textValue())
    else if (a.isArray && b.isArray) arr(Json.elements(a).toSeq ++ Json.elements(b).toSeq)
    else if (a.isObject && b.isObject) {
      val o = a.deepCopy[ObjectNode]()
      o.setAll[JsonNode](b.asInstanceOf[ObjectNode])
      o
    } else throw cannot(a, b, "added")

  private def subtract(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isNumber && b.isNumber) num(a.doubleValue() - b.doubleValue())
    else if (a.isArray && b.isArray) {
      val rem = Json.elements(b).toList
      arr(Json.elements(a).filterNot(x => rem.exists(Json.eq(_, x))).toSeq)
    } else throw cannot(a, b, "subtracted")

  private def multiply(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isNumber && b.isNumber) num(a.doubleValue() * b.doubleValue())
    else if (a.isTextual && b.isNumber) repeatStr(a.textValue(), b.doubleValue())
    else if (a.isNumber && b.isTextual) repeatStr(b.textValue(), a.doubleValue())
    else if (a.isObject && b.isObject) deepMerge(a.asInstanceOf[ObjectNode], b.asInstanceOf[ObjectNode])
    else throw cannot(a, b, "multiplied")

  /** jq 1.6: no copies for n <= 0 (null), else max(1, floor(n)) copies. A
    * result longer than the reader's string limit is jq 1.7's error, raised
    * before anything is allocated. */
  private def repeatStr(s: String, n: Double): JsonNode =
    if (n <= 0) NullN
    else {
      val copies = math.max(1.0, math.floor(n))
      if (s.length * copies > Jq.readConstraints.getMaxStringLength) throw JqError.of("Repeat string result too long")
      text(s * copies.toInt)
    }

  def deepMerge(a: ObjectNode, b: ObjectNode): ObjectNode = {
    val out = a.deepCopy[ObjectNode]()
    Json.fields(b).foreach { case (k, bv) =>
      val av = out.get(k)
      if (av != null && av.isObject && bv.isObject)
        out.set[JsonNode](k, deepMerge(av.asInstanceOf[ObjectNode], bv.asInstanceOf[ObjectNode]))
      else out.set[JsonNode](k, bv)
    }
    out
  }

  private def divide(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isNumber && b.isNumber) {
      if (b.doubleValue() == 0) throw cannot(a, b, "divided because the divisor is zero")
      num(a.doubleValue() / b.doubleValue())
    } else if (a.isTextual && b.isTextual) {
      arr(splitLiteral(a.textValue(), b.textValue()).map(text))
    } else throw cannot(a, b, "divided")

  /** literal (non-regex) split, jq `split/1` semantics */
  def splitLiteral(s: String, sep: String): List[String] =
    if (s.isEmpty) Nil
    else if (sep.isEmpty) s.map(_.toString).toList
    else {
      val out = List.newBuilder[String]
      var i = 0
      var j = s.indexOf(sep)
      while (j >= 0) {
        out += s.substring(i, j)
        i = j + sep.length
        j = s.indexOf(sep, i)
      }
      out += s.substring(i)
      out.result()
    }

  private def modulo(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isNumber && b.isNumber) {
      val bi = math.floor(math.abs(b.doubleValue())).toLong * (if (b.doubleValue() < 0) -1 else 1)
      if (bi == 0) throw cannot(a, b, "divided because the divisor is zero")
      val ai = math.floor(math.abs(a.doubleValue())).toLong * (if (a.doubleValue() < 0) -1 else 1)
      num((ai % bi).toDouble)
    } else throw cannot(a, b, "divided")

  // ---- paths ------------------------------------------------------------

  /** Pushes (path, value) for `v` and every value below it, pre-order. */
  def allPaths(v: JsonNode, prefix: Path, k: (Path, JsonNode) => Unit): Unit = {
    k(prefix, v)
    if (v.isArray) {
      var i = 0
      while (i < v.size()) { allPaths(v.get(i), prefix :+ num(i), k); i += 1 }
    } else if (v.isObject) Json.fields(v).foreach { case (key, c) => allPaths(c, prefix :+ text(key), k) }
  }

  def getPath(root: JsonNode, path: Seq[JsonNode]): JsonNode =
    path.foldLeft(root)((v, el) => indexAccess(v, el))

  def setPath(root: JsonNode, path: Seq[JsonNode], value: JsonNode): JsonNode =
    if (path.isEmpty) value
    else {
      val el = path.head
      if (el.isTextual) {
        val k = el.textValue()
        if (root.isNull) obj(List(k -> setPath(NullN, path.tail, value)))
        else if (root.isObject) {
          val o = root.deepCopy[ObjectNode]()
          val child = if (o.has(k)) o.get(k) else NullN
          o.set[JsonNode](k, setPath(child, path.tail, value))
          o
        } else throw JqError.of(s"Cannot index ${Json.typeName(root)} with \"$k\"")
      } else if (el.isNumber) {
        val idxRaw = el.doubleValue().toInt // jq 1.6 truncates a fractional index
        if (root.isNull) {
          if (idxRaw < 0) throw JqError.of("Out of bounds negative array index")
          val a = F.arrayNode(idxRaw + 1)
          (0 until idxRaw).foreach(_ => a.add(NullN))
          a.add(setPath(NullN, path.tail, value))
          a
        } else if (root.isArray) {
          val n = root.size()
          val idx = if (idxRaw < 0) idxRaw + n else idxRaw
          if (idx < 0) throw JqError.of("Out of bounds negative array index")
          val a = F.arrayNode(math.max(n, idx + 1))
          (0 until math.max(n, idx + 1)).foreach { i =>
            val cur = if (i < n) root.get(i) else NullN
            if (i == idx) a.add(setPath(cur, path.tail, value)) else a.add(cur)
          }
          a
        } else throw JqError.of(s"Cannot index ${Json.typeName(root)} with number")
      } else if (el.isObject) { // slice assignment
        if (!path.tail.isEmpty) throw JqError.of("Cannot update a slice of a slice")
        if (!value.isArray) throw JqError.of("A slice of an array can only be assigned another array")
        val base = if (root.isNull) F.arrayNode() else root match {
          case a: ArrayNode => a
          case _ => throw JqError.of(s"Cannot update field at object index of ${Json.typeName(root)}")
        }
        val n = base.size()
        val (f, t) = bounds(el.get("start"), el.get("end"), n)
        arr((0 until f).map(base.get) ++ Json.elements(value).toSeq ++ (t until n).map(base.get))
      } else throw JqError.of(s"Invalid path component")
    }

  def delPaths(root: JsonNode, paths: List[Seq[JsonNode]]): JsonNode = {
    // delete deepest/rightmost first so earlier deletions don't shift later ones
    val sorted = paths.sortWith((a, b) => Json.compare(arr(a), arr(b)) > 0)
    sorted.foldLeft(root)((acc, p) => delPath(acc, p))
  }

  private def delPath(root: JsonNode, path: Seq[JsonNode]): JsonNode =
    if (path.isEmpty) NullN
    else if (path.length == 1) {
      val el = path.head
      if (root.isNull) NullN
      else if (el.isTextual) {
        if (!root.isObject) throw JqError.of(s"Cannot delete field of ${Json.typeName(root)}")
        val o = root.deepCopy[ObjectNode]()
        o.remove(el.textValue()): Unit
        o
      } else if (el.isNumber) {
        if (!root.isArray) throw JqError.of(s"Cannot delete element of ${Json.typeName(root)}")
        val n = root.size()
        var idx = el.doubleValue().toInt
        if (idx < 0) idx += n
        if (idx < 0 || idx >= n) root
        else arr((0 until n).filter(_ != idx).map(root.get))
      } else if (el.isObject) {
        if (!root.isArray) throw JqError.of(s"Cannot delete slice of ${Json.typeName(root)}")
        val n = root.size()
        val (f, t) = bounds(el.get("start"), el.get("end"), n)
        arr(((0 until f) ++ (t until n)).map(root.get))
      } else root
    } else {
      val el = path.head
      val child = indexAccess(root, el)
      if (child.isNull && getRaw(root, el) == null) root // missing → nothing to delete
      else setPath(root, Seq(el), delPath(child, path.tail))
    }

  private def getRaw(root: JsonNode, el: JsonNode): JsonNode =
    if (root.isObject && el.isTextual) root.get(el.textValue())
    else if (root.isArray && el.isNumber) root.get(el.doubleValue().toInt)
    else null
}
