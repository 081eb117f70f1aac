package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import JqExpr._

/** A program that only projects paths of an object input, recognised from
  * its AST: `P` is `.a`, `.a.b`, or an object of them with fixed, distinct
  * keys (`{x: .a, y: .b.c, z}`), alone or under the guard
  * `if $error then E else P end` with `E` `empty` or a constant.
  *
  * For such a program `jq()` needs no tree and no evaluator: the reader puts
  * each kept top-level field of an object row in a slot
  * ([[CompiledJq.project]]), and each path's value is a lookup in the slots
  * ([[leaf]]). A guarded row that the reader refuses with a worded error
  * emits E's outputs, which are fixed at compile time; the guard only tests
  * `$error` for truth, so the error is never worded. Every other row (not
  * an object, a repeated kept key, a refusal left to Jackson, invalid UTF-8,
  * an unguarded program on a refused row, `.a.b` on a non-object `.a`) runs
  * on the node path, which gives the same outputs by definition.
  *
  * @param slot    per path, the slot of its top-level field
  * @param sub     per path, its subfield, or null for a one-step path
  * @param keys    the output object's keys, one per path; null when the
  *                program outputs its one path's value
  * @param onError E's outputs; null when the program is unguarded
  * @param slots   how many slots a row fills */
final class Projection private (slot: Array[Int], sub: Array[String], keys: Array[String],
                                val onError: Array[JsonNode], val slots: Int) {

  def guarded: Boolean = onError != null

  /** The value of path i on a row read into `slots`, by jq's field access
    * ([[Values.fieldAccess]]); null when the path raises an error on this
    * row, which the node path then raises. */
  private def leaf(slots: Array[JsonNode], i: Int): JsonNode = {
    val v = slots(slot(i))
    if (v == null) Json.NullN
    else if (sub(i) == null) v
    else try Values.fieldAccess(v, sub(i)) catch { case _: JqError => null }
  }

  /** P's output on the row, or null when it raises an error. */
  def value(slots: Array[JsonNode]): JsonNode =
    if (keys == null) leaf(slots, 0)
    else {
      val o = Json.F.objectNode()
      var i = 0
      while (i < keys.length) {
        val v = leaf(slots, i)
        if (v == null) return null
        o.set[JsonNode](keys(i), v)
        i += 1
      }
      o
    }
}

object Projection {
  /** What [[CompiledJq.project]] made of a row. */
  final val Read = 0 // the slots hold the row: P's output is the answer
  final val Corrupt = 1 // the guard takes the row: E's outputs are the answer
  final val Fallback = 2 // the row runs on the node path

  /** The program as a projection, the slot of each top-level field given
    * by `slotOf` among `slots`; None when it is not one. */
  def of(ast: JqExpr, slotOf: String => Int, slots: Int): Option[Projection] = ast match {
    case If(VarRef("error"), e, Some(p)) if constant(e) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[JsonNode]
      try Compiler(e).run(Json.NullN, Json.NullN, (v: JsonNode) => { out += v; () })
      catch { case _: JqError => return None }
      projection(p, slotOf, slots, out.toArray)
    case p => projection(p, slotOf, slots, null)
  }

  private def projection(p: JqExpr, slotOf: String => Int, slots: Int, onError: Array[JsonNode]): Option[Projection] = {
    val (keys, paths) = p match {
      case ObjectLit(entries) =>
        val ps = entries.map {
          case (ObjKey.Fixed(k), None) => Some((k, (k, null: String)))
          case (ObjKey.Fixed(k), Some(v)) => path(v).map((k, _))
          case _ => None
        }
        if (!ps.forall(_.isDefined)) return None
        (ps.map(_.get._1).toArray, ps.map(_.get._2))
      case _ => path(p) match {
        case Some(one) => (null, List(one))
        case None => return None
      }
    }
    val slot = paths.map(x => slotOf(x._1)).toArray
    if (slot.contains(-1) || keys != null && keys.distinct.length != keys.length) None
    else Some(new Projection(slot, paths.map(_._2).toArray, keys, onError, slots))
  }

  /** (top-level field, subfield or null) of `.a` or `.a.b`. */
  private def path(e: JqExpr): Option[(String, String)] = e match {
    case Field(Identity, a, false) => Some((a, null))
    case Field(Field(Identity, a, false), b, false) => Some((a, b))
    case _ => None
  }

  /** Literals only: E reads neither the input nor a variable. */
  private def constant(e: JqExpr): Boolean = e match {
    case NumLit(_, _) | BoolLit(_) | NullLit | FuncCall("empty", Nil) => true
    case StrInterp(parts, None) => parts.forall(_.isLeft)
    case Neg(x) => constant(x)
    case Comma(l, r) => constant(l) && constant(r)
    case ArrayLit(body) => body.forall(constant)
    case ObjectLit(entries) => entries.forall {
      case (ObjKey.Fixed(_), Some(v)) => constant(v)
      case _ => false
    }
    case _ => false
  }
}
