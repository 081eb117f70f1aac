package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import scala.collection.mutable.ArrayBuffer
import JqExpr._
import Json._
import Values._

/** The jq evaluator: [[Compiler]] turns a parsed program once into a tree of
  * [[Node]]s, each of which runs on an input and pushes every output to a
  * sink as it is produced.
  *
  * Variables, labels and filter arguments live in slots of a [[Compiler.Frame]]
  * (an `Array[AnyRef]` whose slot 0 links to the frame of the lexically
  * enclosing `def`); a `def` call allocates the callee's frame, and each
  * filter argument is a [[Closure]] over the caller's frame. A binding writes
  * its slot for the extent of its body and restores it after, so a body
  * re-entered through a closure sees its own binding.
  *
  * A node whose filter yields exactly one output for every input (or
  * raises) is `single` and also answers `value(in, frame)` directly, so
  * `.a + 1`, `{k, v: .x}` or `.n / 2 | floor` run without a sink.
  *
  * Path expressions (`|=`, `del`, `path`, `paths`, …) run the same nodes
  * through `paths(root, frame, sink)`, which pushes paths relative to
  * `root`. */
private[jq] abstract class Node {
  import Compiler._

  /** Pushes every output of this filter on `in` to `k`. */
  def run(in: JsonNode, fr: Frame, k: Sink): Unit = k(value(in, fr))

  /** True when the filter yields exactly one output (or raises). */
  def single: Boolean = false

  /** The one output of a `single` filter. */
  def value(in: JsonNode, fr: Frame): JsonNode =
    throw new IllegalStateException(s"${getClass.getSimpleName} is not single-output")

  /** Pushes every path this filter selects, relative to `root`. */
  def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = throw JqError.of(pathError)

  protected def pathError: String = "Invalid path expression"
}

/** A filter argument: the argument's node over the caller's frame. */
private[jq] final class Closure(val node: Node, val frame: Array[AnyRef])

/** Control flow that is not an error: no message, no stack trace. */
private[jq] sealed abstract class Signal extends RuntimeException(null, null, false, false)

/** Ends a generator early. The sink that throws it marks itself stopped
  * first; its owner catches it only then, so an outer owner's stop passes
  * through an inner one. */
private[jq] object Stop extends Signal

/** A `JqError` raised downstream of a `try` or `//` crosses their body as
  * this, so the body's handlers do not see it; the [[Guard]] that caught it
  * holds the error, and its owner raises it again. */
private[jq] object Unwind extends Signal

/** `break $label`: one per entry into `label`, matched by identity. */
private[jq] final class Break extends Signal

/** The sink of a `try` or `//` body: forwards to `k`, turning a `JqError`
  * raised by `k` into [[Unwind]]. */
private[jq] final class Guard[A](k: A => Unit) extends (A => Unit) {
  var pending: JqError = _
  var any = false
  def apply(v: A): Unit = {
    any = true
    try k(v) catch { case e: JqError => pending = e; throw Unwind }
  }
}

/** Stops at the first value that satisfies `p`, which it keeps. */
private[jq] final class Finder(p: JsonNode => Boolean) extends (JsonNode => Unit) {
  var hit: JsonNode = _
  def apply(v: JsonNode): Unit = if (p(v)) { hit = v; throw Stop }
}

private[jq] object Compiler {
  type Frame = Array[AnyRef]
  type Sink = JsonNode => Unit
  type PathSink = Path => Unit

  /** Call depth past which a recursive `def` (or `recurse`/`repeat` over a
    * generator) raises "recursion depth exceeded"; see SURVEY §5. */
  final val MaxDepth = 1000

  private val depth = ThreadLocal.withInitial[Array[Int]](() => new Array[Int](1))

  /** Enters one call level: past [[MaxDepth]] it raises the catchable
    * "recursion depth exceeded". The caller runs the call in
    * `try … catch tooDeep … finally d(0) -= 1` on the returned counter, so
    * a thread stack that runs out first (a Spark task thread has the JVM's
    * default 1 MB) raises the same error. */
  def enter(): Array[Int] = {
    val d = depth.get()
    if (d(0) >= MaxDepth) throw JqError.of("recursion depth exceeded")
    d(0) += 1
    d
  }

  val tooDeep: PartialFunction[Throwable, Nothing] = {
    case _: StackOverflowError => throw JqError.of("recursion depth exceeded")
  }

  /** Runs `body` one call deeper (see [[enter]]). */
  def nested(body: () => Unit): Unit = {
    val d = enter()
    try body() catch tooDeep finally d(0) -= 1
  }

  def up(fr: Frame, hops: Int): Frame = {
    var f = fr
    var h = hops
    while (h > 0) { f = f(0).asInstanceOf[Frame]; h -= 1 }
    f
  }

  val always: JsonNode => Boolean = _ => true

  /** The first output of `f` on `in` that satisfies `p`, or null. */
  def find(f: Node, in: JsonNode, fr: Frame, p: JsonNode => Boolean = always): JsonNode =
    if (f.single && (p eq always)) f.value(in, fr)
    else {
      val s = new Finder(p)
      try f.run(in, fr, s) catch { case Stop if s.hit != null => () }
      s.hit
    }

  def exists(f: Node, in: JsonNode, fr: Frame, p: JsonNode => Boolean): Boolean = find(f, in, fr, p) != null

  /** Every output of `f` on `in`. */
  def collect(f: Node, in: JsonNode, fr: Frame): List[JsonNode] =
    if (f.single) f.value(in, fr) :: Nil
    else {
      val b = List.newBuilder[JsonNode]
      f.run(in, fr, b += _)
      b.result()
    }

  /** The last output of `f` on `in`, or null. */
  def last(f: Node, in: JsonNode, fr: Frame): JsonNode =
    if (f.single) f.value(in, fr)
    else {
      var l: JsonNode = null
      f.run(in, fr, l = _)
      l
    }

  /** Runs `body` on a guarded `k`: a `JqError` raised by the body goes to
    * `onError`; one raised by `k` passes through. Returns whether `k` was
    * called. */
  def guarded[A](k: A => Unit)(body: (A => Unit) => Unit)(onError: JqError => Unit): Boolean = {
    val g = new Guard(k)
    try body(g) catch {
      case e: JqError => onError(e)
      case Unwind if g.pending != null => throw g.pending
    }
    g.any
  }

  /** A compiled program: the root node, the size of the per-row frame and
    * the slots of the variables it reads without binding them. */
  final class Program(val root: Node, val frameSize: Int, val globals: Map[String, Int]) {
    private val errorSlot = globals.getOrElse("error", -1)

    def run(input: JsonNode, error: JsonNode, k: Sink): Unit = {
      val fr = new Array[AnyRef](frameSize)
      if (errorSlot > 0) fr(errorSlot) = error
      root.run(input, fr, k)
    }

    def run(input: JsonNode, vars: Map[String, JsonNode], k: Sink): Unit = {
      val fr = new Array[AnyRef](frameSize)
      globals.foreach { case (name, slot) => fr(slot) = vars.getOrElse(name, null) }
      root.run(input, fr, k)
    }
  }

  def apply(ast: JqExpr): Program = {
    val top = new Level
    val c = new Compiler(top)
    val root = c.compile(ast, Scope(top, 0, Map.empty, Map.empty, Map.empty))
    new Program(root, top.size, c.globals.toMap)
  }

  // ---- compile-time scope ------------------------------------------------

  /** One frame's worth of slots; slot 0 links to the enclosing frame. */
  final class Level { var size = 1; def slot(): Int = { size += 1; size - 1 } }

  sealed trait Fn
  /** A user `def`: its frame size and body are set once compiled. */
  final class Def(val depth: Int) extends Fn { var size = 1; var body: Node = _ }
  final case class Param(depth: Int, slot: Int) extends Fn

  final case class Scope(level: Level, depth: Int, vars: Map[String, (Int, Int)],
                                 labels: Map[String, (Int, Int)], funcs: Map[(String, Int), Fn])

  // ---- compiled patterns ---------------------------------------------------

  sealed trait Pat
  final case class PVar(slot: Int) extends Pat
  final case class PArr(elems: Array[Pat]) extends Pat
  final case class PObj(keys: Array[Node], subs: Array[Pat]) extends Pat

  /** Binds `p` to `v` and calls `then` once per binding; object-pattern keys
    * are evaluated on `in` and may yield several bindings. */
  private def bind(p: Pat, v: JsonNode, in: JsonNode, fr: Frame, then: () => Unit): Unit = p match {
    case PVar(slot) => fr(slot) = v; then()
    case PArr(elems) =>
      if (!v.isArray && !v.isNull) throw JqError.of(s"Cannot index ${Json.typeName(v)} with number")
      def go(i: Int): Unit =
        if (i >= elems.length) then()
        else bind(elems(i), if (v.isArray && i < v.size()) v.get(i) else NullN, in, fr, () => go(i + 1))
      go(0)
    case PObj(keys, subs) =>
      def go(i: Int): Unit =
        if (i >= keys.length) then()
        else keys(i).run(in, fr, kv => {
          if (!kv.isTextual) throw JqError.of(s"Cannot index object with ${Json.typeName(kv)}")
          bind(subs(i), fieldAccess(v, kv.textValue()), in, fr, () => go(i + 1))
        })
      go(0)
  }

  /** [[bind]] for the first binding only (reduce/foreach). */
  private def bindFirst(p: Pat, v: JsonNode, in: JsonNode, fr: Frame, then: () => Unit): Unit = p match {
    case PVar(slot) => fr(slot) = v; then()
    case _ =>
      var done = false
      try bind(p, v, in, fr, () => { then(); done = true; throw Stop })
      catch { case Stop if done => () }
  }

  /** Saves `slots` of `fr`, runs `body`, and restores them. */
  private def scoped(fr: Frame, slots: Array[Int])(body: => Unit): Unit = {
    val saved = slots.map(fr(_))
    try body finally { var i = 0; while (i < slots.length) { fr(slots(i)) = saved(i); i += 1 } }
  }

  // ---- nodes -----------------------------------------------------------------

  private final class Const(v: JsonNode) extends Node {
    override def single = true
    override def value(in: JsonNode, fr: Frame): JsonNode = v
  }

  private object IdentityN extends Node {
    override def single = true
    override def value(in: JsonNode, fr: Frame): JsonNode = in
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = k(Vector.empty)
  }

  private object RecurseN extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = recurseAll(in, k)
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = allPaths(root, Vector.empty, (p, _) => k(p))
  }

  private final class FieldN(t: Node, name: String) extends Node {
    private val key = text(name)
    override val single = t.single
    override def value(in: JsonNode, fr: Frame): JsonNode = fieldAccess(t.value(in, fr), name)
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr)) else t.run(in, fr, v => k(fieldAccess(v, name)))
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = t.paths(root, fr, p => k(p :+ key))
  }

  private final class IndexN(t: Node, idx: Node) extends Node {
    override val single = t.single && idx.single
    override def value(in: JsonNode, fr: Frame): JsonNode = indexAccess(t.value(in, fr), idx.value(in, fr))
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr))
      else t.run(in, fr, v => idx.run(in, fr, i => k(indexAccess(v, i))))
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      t.paths(root, fr, p => idx.run(root, fr, i =>
        if (i.isTextual || i.isNumber || i.isObject) k(p :+ i)
        else throw JqError.of(s"Invalid path component ${Json.typeName(i)}")))
  }

  private final class SliceN(t: Node, from: Node, to: Node) extends Node {
    override val single = t.single && from.single && to.single
    override def value(in: JsonNode, fr: Frame): JsonNode =
      sliceAccess(t.value(in, fr), from.value(in, fr), to.value(in, fr))
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr))
      else t.run(in, fr, v => from.run(in, fr, f => to.run(in, fr, e => k(sliceAccess(v, f, e)))))
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      t.paths(root, fr, p => from.run(root, fr, f => to.run(root, fr, e =>
        k(p :+ obj(List("start" -> f, "end" -> e))))))
  }

  private final class IterateN(t: Node) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (t.single) each(t.value(in, fr), k) else t.run(in, fr, each(_, k))
    private def each(v: JsonNode, k: Sink): Unit =
      if (v.isArray) { var i = 0; while (i < v.size()) { k(v.get(i)); i += 1 } }
      else if (v.isObject) Json.fields(v).foreach(e => k(e._2))
      else throw JqError.of(s"Cannot iterate over ${Json.typeName(v)}${preview(v)}")
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      t.paths(root, fr, p => {
        val v = getPath(root, p)
        if (v.isArray) (0 until v.size()).foreach(i => k(p :+ num(i)))
        else if (v.isObject) Json.fields(v).foreach(e => k(p :+ text(e._1)))
        else if (!v.isNull) throw JqError.of(s"Cannot iterate over ${Json.typeName(v)}")
      })
  }

  private final class PipeN(l: Node, r: Node) extends Node {
    override val single = l.single && r.single
    override def value(in: JsonNode, fr: Frame): JsonNode = r.value(l.value(in, fr), fr)
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (l.single) r.run(l.value(in, fr), fr, k)
      else if (r.single) l.run(in, fr, v => k(r.value(v, fr)))
      else l.run(in, fr, v => r.run(v, fr, k))
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      l.paths(root, fr, p => r.paths(getPath(root, p), fr, q => k(p ++ q)))
  }

  private final class CommaN(l: Node, r: Node) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = { l.run(in, fr, k); r.run(in, fr, k) }
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = { l.paths(root, fr, k); r.paths(root, fr, k) }
  }

  /** String interpolation: the last part runs first, as the outermost
    * loop (jq 1.6). */
  private final class InterpN(parts: Array[Either[String, Node]], format: Option[String]) extends Node {
    override val single = parts.forall(_.forall(_.single))
    private def render(v: JsonNode): String = format match {
      case None => Json.render(v)
      case Some(f) => Builtins.applyFormat(f, v)
    }
    override def value(in: JsonNode, fr: Frame): JsonNode = {
      val strs = new Array[String](parts.length)
      var i = parts.length - 1
      while (i >= 0) {
        strs(i) = parts(i) match {
          case Left(s) => s
          case Right(n) => render(n.value(in, fr))
        }
        i -= 1
      }
      text(strs.mkString)
    }
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr))
      else {
        val strs = new Array[String](parts.length)
        def go(i: Int): Unit =
          if (i < 0) k(text(strs.mkString))
          else parts(i) match {
            case Left(s) => strs(i) = s; go(i - 1)
            case Right(n) => n.run(in, fr, v => { strs(i) = render(v); go(i - 1) })
          }
        go(parts.length - 1)
      }
  }

  private final class FormatN(name: String) extends Node {
    override def single = true
    override def value(in: JsonNode, fr: Frame): JsonNode = text(Builtins.applyFormat(name, in))
  }

  private final class ArrayN(body: Node) extends Node {
    override def single = true
    override def value(in: JsonNode, fr: Frame): JsonNode = {
      val a = F.arrayNode()
      if (body != null) body.run(in, fr, v => { a.add(v); () })
      a
    }
  }

  /** `{k: v, …}`; key and value are null for `{$x}`-style shorthands. */
  private final class ObjectN(keys: Array[Node], vals: Array[Node]) extends Node {
    override val single = keys.forall(_.single) && vals.forall(v => v == null || v.single)
    private def key(kv: JsonNode): String =
      if (kv.isTextual) kv.textValue() else throw JqError.of(s"Object keys must be strings${preview(kv)}")
    override def value(in: JsonNode, fr: Frame): JsonNode = {
      val o = F.objectNode()
      var i = 0
      while (i < keys.length) {
        val k = key(keys(i).value(in, fr))
        o.set[JsonNode](k, if (vals(i) == null) fieldAccess(in, k) else vals(i).value(in, fr))
        i += 1
      }
      o
    }
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr))
      else {
        val ks = new Array[String](keys.length)
        val vs = new Array[JsonNode](keys.length)
        def go(i: Int): Unit =
          if (i >= keys.length) {
            val o = F.objectNode()
            var j = 0
            while (j < ks.length) { o.set[JsonNode](ks(j), vs(j)); j += 1 }
            k(o)
          } else keys(i).run(in, fr, kv => {
            ks(i) = key(kv)
            if (vals(i) == null) { vs(i) = fieldAccess(in, ks(i)); go(i + 1) }
            else vals(i).run(in, fr, v => { vs(i) = v; go(i + 1) })
          })
        go(0)
      }
  }

  private final class NegN(x: Node) extends Node {
    override val single = x.single
    private def neg(v: JsonNode): JsonNode =
      if (v.isNumber) num(-v.doubleValue())
      else throw JqError.of(s"${Json.typeName(v)}${preview(v)} cannot be negated")
    override def value(in: JsonNode, fr: Frame): JsonNode = neg(x.value(in, fr))
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr)) else x.run(in, fr, v => k(neg(v)))
  }

  /** Arithmetic and comparison: the right operand is the outer loop. */
  private final class BinN(l: Node, r: Node, op: (JsonNode, JsonNode) => JsonNode) extends Node {
    override val single = l.single && r.single
    override def value(in: JsonNode, fr: Frame): JsonNode = {
      val rv = r.value(in, fr)
      op(l.value(in, fr), rv)
    }
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr))
      else r.run(in, fr, rv => l.run(in, fr, lv => k(op(lv, rv))))
  }

  /** `and` / `or`: the left operand is the outer loop and short-circuits. */
  private final class LogicN(l: Node, r: Node, isAnd: Boolean) extends Node {
    override val single = l.single && r.single
    override def value(in: JsonNode, fr: Frame): JsonNode =
      if (truthy(l.value(in, fr)) != isAnd) bool(!isAnd) else bool(truthy(r.value(in, fr)))
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr))
      else l.run(in, fr, lv =>
        if (truthy(lv) != isAnd) k(bool(!isAnd)) else r.run(in, fr, rv => k(bool(truthy(rv)))))
  }

  /** `l // r`: the truthy outputs of `l` until it ends or raises; `r` when
    * there were none. */
  private final class AltN(l: Node, r: Node) extends Node {
    override val single = l.single && r.single
    private def left(in: JsonNode, fr: Frame): JsonNode = {
      val v = try l.value(in, fr) catch { case _: JqError => null }
      if (v != null && truthy(v)) v else null
    }
    override def value(in: JsonNode, fr: Frame): JsonNode = {
      val v = left(in, fr)
      if (v != null) v else r.value(in, fr)
    }
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (l.single) { val v = left(in, fr); if (v != null) k(v) else r.run(in, fr, k) }
      else {
        val any = guarded(k)(g => l.run(in, fr, v => if (truthy(v)) g(v)))(_ => ())
        if (!any) r.run(in, fr, k)
      }
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = {
      val any = guarded(k)(g => l.paths(root, fr, p => if (truthy(getPath(root, p))) g(p)))(_ => ())
      if (!any) r.paths(root, fr, k)
    }
  }

  private final class IfN(c: Node, t: Node, e: Node) extends Node {
    override val single = c.single && t.single && (e == null || e.single)
    override def value(in: JsonNode, fr: Frame): JsonNode =
      if (truthy(c.value(in, fr))) t.value(in, fr) else if (e == null) in else e.value(in, fr)
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (!c.single) c.run(in, fr, cv => if (truthy(cv)) t.run(in, fr, k) else if (e == null) k(in) else e.run(in, fr, k))
      else if (truthy(c.value(in, fr))) t.run(in, fr, k)
      else if (e == null) k(in)
      else e.run(in, fr, k)
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      c.run(root, fr, cv =>
        if (truthy(cv)) t.paths(root, fr, k) else if (e == null) k(Vector.empty) else e.paths(root, fr, k))
  }

  /** `try body catch handler`; `body?` has no handler. */
  private final class TryN(body: Node, handler: Node) extends Node {
    override val single = body.single && handler != null && handler.single
    private def handle(e: JqError, fr: Frame, k: Sink): Unit =
      if (handler != null) handler.run(e.payload, fr, k)
    override def value(in: JsonNode, fr: Frame): JsonNode =
      try body.value(in, fr) catch { case e: JqError => handler.value(e.payload, fr) }
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (body.single) {
        val v = try body.value(in, fr) catch { case e: JqError => handle(e, fr, k); null }
        if (v != null) k(v)
      } else guarded(k)(g => body.run(in, fr, g))(handle(_, fr, k)): Unit
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      if (handler != null) throw JqError.of(pathError)
      else guarded(k)(g => body.paths(root, fr, g))(_ => ()): Unit
  }

  private final class VarN(name: String, hops: Int, slot: Int) extends Node {
    override def single = true
    override def value(in: JsonNode, fr: Frame): JsonNode = {
      val v = up(fr, hops)(slot)
      if (v != null) v.asInstanceOf[JsonNode]
      else if (name == "ENV") obj(Nil) // deliberate: no ambient environment leakage
      else throw JqError.of(s"$$$name is not defined")
    }
  }

  /** `src as $x | body`. */
  private final class BindVarN(src: Node, slot: Int, body: Node) extends Node {
    override val single = src.single && body.single
    override def value(in: JsonNode, fr: Frame): JsonNode = {
      val v = src.value(in, fr)
      val saved = fr(slot)
      fr(slot) = v
      try body.value(in, fr) finally fr(slot) = saved
    }
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr)) else src.run(in, fr, v => runBody(v, in, fr, body.run(in, fr, k)))
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      src.run(root, fr, v => runBody(v, root, fr, body.paths(root, fr, k)))
    private def runBody(v: JsonNode, in: JsonNode, fr: Frame, go: => Unit): Unit = {
      val saved = fr(slot)
      fr(slot) = v
      try go finally fr(slot) = saved
    }
  }

  /** `src as P1 ?// P2 … | body`: a destructuring error in one alternative
    * moves to the next; every variable of every alternative is bound, to
    * null where its alternative does not match. */
  private final class BindN(src: Node, pats: Array[Pat], slots: Array[Int], body: Node) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      src.run(in, fr, v => alternatives(v, in, fr, () => body.run(in, fr, k)))
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit =
      src.run(root, fr, v => alternatives(v, root, fr, () => body.paths(root, fr, k)))
    private def alternatives(v: JsonNode, in: JsonNode, fr: Frame, go: () => Unit): Unit = scoped(fr, slots) {
      var i = 0
      var matched = false
      while (!matched) {
        slots.foreach(fr(_) = NullN)
        if (i == pats.length - 1) { bind(pats(i), v, in, fr, go); matched = true }
        else {
          val sets = ArrayBuffer.empty[Array[AnyRef]]
          try { bind(pats(i), v, in, fr, () => sets += slots.map(fr(_))); matched = true }
          catch { case _: JqError => i += 1 }
          if (matched) sets.foreach { set =>
            var j = 0
            while (j < slots.length) { fr(slots(j)) = set(j); j += 1 }
            go()
          }
        }
      }
    }
  }

  /** `reduce src as P (init; update)`: an update with no output ends the
    * reduction with no output. */
  private final class ReduceN(src: Node, pat: Pat, slots: Array[Int], init: Node, update: Node) extends Node {
    override val single = init.single && update.single
    private def fold(start: JsonNode, in: JsonNode, fr: Frame): JsonNode = {
      var acc = start
      scoped(fr, slots) {
        src.run(in, fr, v => if (acc != null) bindFirst(pat, v, in, fr, () => acc = last(update, acc, fr)))
      }
      acc
    }
    override def value(in: JsonNode, fr: Frame): JsonNode = fold(init.value(in, fr), in, fr)
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      init.run(in, fr, i => { val r = fold(i, in, fr); if (r != null) k(r) })
  }

  /** `foreach src as P (init; update; extract)`: every output of the update
    * is emitted (through `extract`), and the last one is the new state. */
  private final class ForeachN(src: Node, pat: Pat, slots: Array[Int], init: Node, update: Node,
                               extract: Node) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      init.run(in, fr, i => {
        var acc = i
        def emit(o: JsonNode): Unit = if (extract == null) k(o) else extract.run(o, fr, k)
        scoped(fr, slots) {
          src.run(in, fr, v => bindFirst(pat, v, in, fr, () =>
            if (update.single) { acc = update.value(acc, fr); emit(acc) }
            else {
              val outs = collect(update, acc, fr)
              if (outs.nonEmpty) acc = outs.last
              outs.foreach(emit)
            }))
        }
      })
  }

  private final class LabelN(slot: Int, body: Node) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = {
      val b = new Break
      val saved = fr(slot)
      fr(slot) = b
      try body.run(in, fr, k)
      catch { case x: Break if x eq b => () }
      finally fr(slot) = saved
    }
  }

  private final class BreakN(hops: Int, slot: Int) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = throw up(fr, hops)(slot).asInstanceOf[Break]
  }

  private final class Fail(msg: String, pathMsg: String) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = throw JqError.of(msg)
    override protected def pathError: String = pathMsg
  }

  /** A call of a user `def`: a new frame linked to the def's enclosing one,
    * each argument a closure over the caller's frame. */
  private final class CallN(fn: Def, hops: Int, args: Array[Node]) extends Node {
    private def frame(fr: Frame): Frame = {
      val f = new Array[AnyRef](fn.size)
      f(0) = up(fr, hops)
      var i = 0
      while (i < args.length) { f(i + 1) = new Closure(args(i), fr); i += 1 }
      f
    }
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = {
      val d = enter()
      try fn.body.run(in, frame(fr), k) catch tooDeep finally d(0) -= 1
    }
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = nested(() => fn.body.paths(root, frame(fr), k))
  }

  private final class ParamN(hops: Int, slot: Int) extends Node {
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit = {
      val c = up(fr, hops)(slot).asInstanceOf[Closure]
      c.node.run(in, c.frame, k)
    }
    override def paths(root: JsonNode, fr: Frame, k: PathSink): Unit = {
      val c = up(fr, hops)(slot).asInstanceOf[Closure]
      c.node.paths(root, c.frame, k)
    }
  }

  /** `path op value` for op ∈ = |= += -= *= /= %= //=. */
  private final class AssignN(op: String, path: Node, rhs: Node) extends Node {
    override val single = op == "|=" || rhs.single
    private val arith = if (op.length == 2 && op != "|=" && op != "//") binop(op.take(1)) else null
    private def update(in: JsonNode, fr: Frame, f: (JsonNode, Path) => JsonNode): JsonNode = {
      var acc = in
      path.paths(in, fr, p => acc = f(acc, p))
      acc
    }
    private def assign(v: JsonNode, in: JsonNode, fr: Frame): JsonNode = op match {
      case "=" => update(in, fr, (acc, p) => setPath(acc, p, v))
      case "//=" => update(in, fr, (acc, p) => if (truthy(getPath(acc, p))) acc else setPath(acc, p, v))
      case _ => update(in, fr, (acc, p) => setPath(acc, p, arith(getPath(acc, p), v)))
    }
    override def value(in: JsonNode, fr: Frame): JsonNode =
      if (op == "|=") update(in, fr, (acc, p) => {
        val nv = find(rhs, getPath(acc, p), fr)
        if (nv == null) acc else setPath(acc, p, nv)
      })
      else assign(rhs.value(in, fr), in, fr)
    override def run(in: JsonNode, fr: Frame, k: Sink): Unit =
      if (single) k(value(in, fr)) else rhs.run(in, fr, v => k(assign(v, in, fr)))
  }
}

/** One compilation: resolves names to slots and builds the node tree. */
private final class Compiler(topLevel: Compiler.Level) {
  import Compiler._

  /** Variables read but never bound: the per-row inputs (`$error`, …). */
  val globals = scala.collection.mutable.LinkedHashMap.empty[String, Int]

  def compile(e: JqExpr, s: Scope): Node = {
    def c(x: JqExpr): Node = compile(x, s)
    e match {
      case Identity => IdentityN
      case RecurseDefault => RecurseN
      case Field(t, name, _) => new FieldN(c(t), name)
      case Index(t, i, _) => new IndexN(c(t), c(i))
      case Slice(t, f, to, _) => new SliceN(c(t), f.map(c).getOrElse(new Const(NullN)), to.map(c).getOrElse(new Const(NullN)))
      case IterateAll(t, _) => new IterateN(c(t))
      case Pipe(l, r) => new PipeN(c(l), c(r))
      case Comma(l, r) => new CommaN(c(l), c(r))
      case NumLit(v, asLong) => new Const(asLong.map(F.numberNode(_): JsonNode).getOrElse(num(v)))
      case StrInterp(parts, _) if parts.forall(_.isLeft) => new Const(text(parts.collect { case Left(x) => x }.mkString))
      case StrInterp(parts, format) => new InterpN(parts.map(_.map(c)).toArray, format)
      case BoolLit(b) => new Const(bool(b))
      case NullLit => new Const(NullN)
      case ArrayLit(body) => new ArrayN(body.map(c).orNull)
      case ObjectLit(entries) =>
        val keys = entries.map {
          case (ObjKey.Fixed(n), _) => new Const(text(n))
          case (ObjKey.Var(n), _) => new Const(text(n))
          case (ObjKey.Computed(k), _) => c(k)
          case (ObjKey.InterpKey(si), _) => c(si)
        }
        val vals = entries.map {
          case (_, Some(v)) => c(v)
          case (ObjKey.Var(n), None) => c(VarRef(n))
          case (_, None) => null
        }
        new ObjectN(keys.toArray, vals.toArray)
      case Neg(x) => new NegN(c(x))
      case BinOp("and", l, r) => new LogicN(c(l), c(r), isAnd = true)
      case BinOp("or", l, r) => new LogicN(c(l), c(r), isAnd = false)
      case BinOp(op, l, r) => new BinN(c(l), c(r), binop(op))
      case Alternative(l, r) => new AltN(c(l), c(r))
      case Assign(op, p, v) => new AssignN(op, c(p), c(v))
      case VarRef(name) =>
        val (d, slot) = s.vars.getOrElse(name, (0, globals.getOrElseUpdate(name, topLevel.slot())))
        new VarN(name, s.depth - d, slot)
      case As(src, List(Pattern.PVar(name)), body) =>
        val slot = s.level.slot()
        new BindVarN(c(src), slot, compile(body, s.copy(vars = s.vars + (name -> (s.depth, slot)))))
      case As(src, alternatives, body) =>
        val (pats, slots, inner) = patterns(alternatives, s)
        new BindN(c(src), pats.toArray, slots, compile(body, inner))
      case If(cond, t, el) => new IfN(c(cond), c(t), el.map(c).orNull)
      case TryCatch(body, h) => new TryN(c(body), h.map(c).orNull)
      case FuncCall(name, args) => call(name, args, s)
      case FuncDef(name, params, body, rest) =>
        val fn = new Def(s.depth)
        val level = new Level
        val inner = Scope(level, s.depth + 1, s.vars, s.labels,
          s.funcs + ((name, params.length) -> fn) ++ params.map(p => (p, 0) -> Param(s.depth + 1, level.slot())))
        fn.body = compile(body, inner)
        fn.size = level.size
        compile(rest, s.copy(funcs = s.funcs + ((name, params.length) -> fn)))
      case Reduce(src, pattern, init, update) =>
        val (pats, slots, inner) = patterns(List(pattern), s)
        new ReduceN(c(src), pats.head, slots, c(init), compile(update, inner))
      case Foreach(src, pattern, init, update, extract) =>
        val (pats, slots, inner) = patterns(List(pattern), s)
        new ForeachN(c(src), pats.head, slots, c(init), compile(update, inner), extract.map(compile(_, inner)).orNull)
      case Format(name) => new FormatN(name)
      case Label(name, body) =>
        val slot = s.level.slot()
        new LabelN(slot, compile(body, s.copy(labels = s.labels + (name -> (s.depth, slot)))))
      case Break(name) => s.labels.get(name) match {
        case Some((d, slot)) => new BreakN(s.depth - d, slot)
        case None => new Fail(s"$$*label-$name is not defined", "Invalid path expression")
      }
    }
  }

  /** Slots for every variable of `pats` (shared by name), the compiled
    * patterns, and the scope of the body. Object-pattern keys see the
    * variables bound before them. */
  private def patterns(pats: List[Pattern], s: Scope): (List[Pat], Array[Int], Scope) = {
    def names(p: Pattern): List[String] = p match {
      case Pattern.PVar(n) => List(n)
      case Pattern.PArray(es) => es.flatMap(names)
      case Pattern.PObject(es) => es.flatMap(e => names(e._2))
    }
    val slotOf = pats.flatMap(names).distinct.map(n => n -> s.level.slot()).toMap
    def pat(p: Pattern, bound: Map[String, (Int, Int)]): (Pat, Map[String, (Int, Int)]) = p match {
      case Pattern.PVar(n) => (PVar(slotOf(n)), bound + (n -> (s.depth, slotOf(n))))
      case Pattern.PArray(es) =>
        var b = bound
        val ps = es.map { e => val (q, b2) = pat(e, b); b = b2; q }
        (PArr(ps.toArray), b)
      case Pattern.PObject(es) =>
        var b = bound
        val compiled = es.map { case (k, sub) =>
          val key = compile(k, s.copy(vars = b))
          val (q, b2) = pat(sub, b)
          b = b2
          (key, q)
        }
        (PObj(compiled.map(_._1).toArray, compiled.map(_._2).toArray), b)
    }
    val compiled = pats.map(p => pat(p, s.vars)._1)
    (compiled, slotOf.values.toArray, s.copy(vars = s.vars ++ slotOf.map { case (n, sl) => n -> (s.depth, sl) }))
  }

  private def call(name: String, args: List[JqExpr], s: Scope): Node = {
    val id = s"$name/${args.length}"
    s.funcs.get((name, args.length)) match {
      case Some(fn: Def) => new CallN(fn, s.depth - fn.depth, args.map(compile(_, s)).toArray)
      case Some(Param(d, slot)) => new ParamN(s.depth - d, slot)
      case None => Builtins.table.get((name, args.length)) match {
        case Some(b) => b(args.map(compile(_, s)).toArray)
        case None => new Fail(s"$id is not defined", s"Invalid path expression: $id")
      }
    }
  }
}
