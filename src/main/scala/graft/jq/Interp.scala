package graft.jq

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import JqExpr._

/** jq runtime error; payload is a JSON value (usually a string), caught by
  * `try`/`?`, surfaced with reference-compatible message otherwise. */
final class JqError(val payload: JsonNode) extends RuntimeException(Json.render(payload))
object JqError {
  def of(msg: String): JqError = new JqError(Json.text(msg))
}

/** A user-defined function or a call-site argument closure.
  * `env` is set after construction to close the recursion knot. */
final class FuncEntry(val params: List[String], val body: JqExpr) {
  var env: Env = _
}

/** `break $label` control-flow unwind — deliberately not a JqError. */
final class JqBreak(val label: String) extends RuntimeException(s"break $$$label")

final case class Env(vars: Map[String, JsonNode], funcs: Map[(String, Int), FuncEntry]) {
  def withVar(name: String, v: JsonNode): Env = copy(vars = vars + (name -> v))
  def withVars(vs: Iterable[(String, JsonNode)]): Env = copy(vars = vars ++ vs)
}
object Env {
  val empty: Env = Env(Map.empty, Map.empty)
}

/** Streaming evaluator: every expression maps an input value to a lazy
  * stream of outputs, so `limit`/`first` over infinite generators
  * (`repeat`, `recurse`) terminate. */
object Interp {
  import Json._

  type S = JqStream

  def eval(e: JqExpr, in: JsonNode, env: Env): S = e match {
    case Identity => JqStream(in)
    case RecurseDefault => recurseAll(in)

    case Field(target, name, _) =>
      eval(target, in, env).map(t => fieldAccess(t, name))

    case Index(target, idxE, _) =>
      eval(target, in, env).flatMap { t =>
        eval(idxE, in, env).map(i => indexAccess(t, i))
      }

    case Slice(target, fromE, toE, _) =>
      eval(target, in, env).flatMap { t =>
        val froms = fromE.map(eval(_, in, env)).getOrElse(JqStream(NullN))
        froms.flatMap { f =>
          val tos = toE.map(eval(_, in, env)).getOrElse(JqStream(NullN))
          tos.map(tt => sliceAccess(t, f, tt))
        }
      }

    case IterateAll(target, _) =>
      eval(target, in, env).flatMap { t =>
        if (t.isArray) JqStream.from(Json.elements(t).toSeq)
        else if (t.isObject) JqStream.from(Json.fields(t).map(_._2).toSeq)
        else throw JqError.of(s"Cannot iterate over ${Json.typeName(t)}${preview(t)}")
      }

    // generator | strict-tail: map instead of flatMap — no singleton
    // streams or concat cells per element (the dominant UDTF shape,
    // `.[] | {…}`, hits this)
    case Pipe(l, Strict(x)) => eval(l, in, env).map(v => evalOne(x, v, env))
    case Pipe(l, Semi(x)) => // `.[] | select(…) | …`: filter-map, no Defer/flatCont cells
      eval(l, in, env).flatMap { v =>
        val r = evalOpt(x, v, env)
        if (r eq null) JqStream.empty else JqStream(r)
      }
    case Pipe(l, r) => eval(l, in, env).flatMap(v => eval(r, v, env))
    case Comma(l, r) => eval(l, in, env) #::: eval(r, in, env)

    case NumLit(v, asLong) => JqStream(asLong.map(F.numberNode(_): JsonNode).getOrElse(num(v)))
    case BoolLit(b) => JqStream(bool(b))
    case NullLit => JqStream(NullN)

    case si: StrInterp => evalInterp(si, in, env)

    case ArrayLit(body) =>
      JqStream(arr(body.map(b => eval(b, in, env).toList).getOrElse(Nil)))

    case ObjectLit(entries) =>
      def build(rem: List[(ObjKey, Option[JqExpr])], acc: List[(String, JsonNode)]): S = rem match {
        case Nil => JqStream(obj(acc.reverse))
        case (key, valueOpt) :: rest =>
          val keyVals: S = key match {
            case ObjKey.Fixed(name) => JqStream(text(name))
            case ObjKey.Var(name) => JqStream(text(name))
            case ObjKey.Computed(ke) => eval(ke, in, env)
            case ObjKey.InterpKey(s) => evalInterp(s, in, env)
          }
          keyVals.flatMap { kv =>
            if (!kv.isTextual)
              throw JqError.of(s"Object keys must be strings${preview(kv)}")
            val k = kv.textValue()
            val valueStream: S = (key, valueOpt) match {
              case (_, Some(ve)) => eval(ve, in, env)
              case (ObjKey.Var(name), None) => JqStream(lookupVar(name, env))
              case (_, None) => JqStream(fieldAccess(in, k))
            }
            valueStream.flatMap(v => build(rest, (k, v) :: acc))
          }
      }
      build(entries, Nil)

    case Neg(b) =>
      eval(b, in, env).map { v =>
        if (!v.isNumber) throw JqError.of(s"${Json.typeName(v)}${preview(v)} cannot be negated")
        num(-v.doubleValue())
      }

    case BinOp("and", l, r) =>
      eval(l, in, env).flatMap { lv =>
        if (!truthy(lv)) JqStream(FalseN)
        else eval(r, in, env).map(rv => bool(truthy(rv)))
      }
    case BinOp("or", l, r) =>
      eval(l, in, env).flatMap { lv =>
        if (truthy(lv)) JqStream(TrueN)
        else eval(r, in, env).map(rv => bool(truthy(rv)))
      }

    case BinOp(op, l, r) =>
      // jq evaluates the right operand as the outer loop: (1,2)+(10,20) → 11,12,21,22
      eval(r, in, env).flatMap { rv =>
        eval(l, in, env).map(lv => binop(op, lv, rv))
      }

    case Alternative(l, r) =>
      // Lazy, like jq's ALTERNATION fork: truthy outputs of the left stream
      // are emitted as they arrive (`first(repeat(1) // 2)` terminates), a
      // JqError truncates the left stream but keeps values already produced,
      // and the right side runs only when no truthy value ever emerged.
      val lefts = truncateOnError(eval(l, in, env).filter(truthy))
      if (lefts.nonEmpty) lefts else eval(r, in, env)

    case VarRef(name) => JqStream(lookupVar(name, env))

    case As(src, patterns, body) =>
      eval(src, in, env).flatMap { v =>
        JqStream.from(destructureAlt(patterns, v, in, env).flatMap { binds =>
          eval(body, in, env.withVars(binds))
        })
      }

    case If(cond, thenB, elseB) =>
      eval(cond, in, env).flatMap { c =>
        if (truthy(c)) eval(thenB, in, env)
        else elseB.map(eval(_, in, env)).getOrElse(JqStream(in))
      }

    case TryCatch(body, handler) =>
      protect(eval(body, in, env), err => handler match {
        case Some(h) => eval(h, err.payload, env)
        case None => JqStream.empty
      })

    case FuncCall(name, args) => call(name, args, in, env)

    case FuncDef(name, params, body, rest) =>
      eval(rest, in, defineFunc(name, params, body, env))

    case Reduce(src, pattern, initE, update) =>
      eval(initE, in, env).flatMap { init =>
        var acc: Option[JsonNode] = Some(init)
        (pattern, update) match {
          // `as $x` + certified-1 update: no destructure list, no Option,
          // no per-iteration stream cells — the common reduce shape
          case (Pattern.PVar(name), Strict(u)) =>
            var a = init
            eval(src, in, env).foreach(v => a = evalOne(u, a, env.withVar(name, v)))
            acc = Some(a)
          case _ =>
            eval(src, in, env).foreach { v =>
              if (acc.isDefined) {
                destructure(pattern, v, in, env).headOption.foreach { binds =>
                  val outs = eval(update, acc.get, env.withVars(binds))
                  acc = outs.lastOption // empty update → whole reduce yields nothing (jq 1.6)
                }
              }
            }
        }
        JqStream.from(acc)
      }

    case Foreach(src, pattern, initE, update, extract) =>
      eval(initE, in, env).flatMap { init =>
        var acc = init
        eval(src, in, env).flatMap { v =>
          (pattern, update) match {
            // `as $x` + certified-1 update: single binding, single output —
            // skip destructure/toList (stream forces cells in order, so the
            // mutable `acc` advances exactly once per source element)
            case (Pattern.PVar(name), Strict(u)) =>
              val env2 = env.withVar(name, v)
              val out = evalOne(u, acc, env2)
              acc = out
              extract match {
                case None => JqStream(out)
                case Some(ex) => eval(ex, out, env2)
              }
            case _ =>
              destructure(pattern, v, in, env).headOption match {
                case None => JqStream.empty
                case Some(binds) =>
                  val env2 = env.withVars(binds)
                  val outs = eval(update, acc, env2).toList
                  outs.lastOption.foreach(acc = _)
                  extract match {
                    case None => JqStream.from(outs)
                    case Some(ex) => JqStream.from(outs).flatMap(o => eval(ex, o, env2))
                  }
              }
          }
        }
      }

    case Assign(op, pathE, valueE) => evalAssign(op, pathE, valueE, in, env)

    case Format(name) => JqStream(text(Builtins.applyFormat(name, in)))

    case Label(name, body) => breakable(name, eval(body, in, env))
    case Break(name) => throw new JqBreak(name)

    // lazy head: strict-path errors must surface on forcing, not stream
    // construction, to keep try/catch and comma-truncation timing intact
    case Strict(inner) =>
      // deferred: strict-path errors must surface when the stream is
      // FORCED, not at construction (JqStream cons heads are strict,
      // unlike LazyList's — a bare #:: here would evaluate early)
      JqStream.defer(() => JqStream(evalOne(inner, in, env)))

    case Semi(inner) =>
      // ≤1-output lane (select/empty pipelines): one deferred cell, no
      // per-element stream machinery; same forcing-time error semantics
      JqStream.defer { () =>
        val v = evalOpt(inner, in, env)
        if (v eq null) JqStream.empty else JqStream(v)
      }
  }

  /** ≤1-output evaluator for compiler-certified Semi subtrees (select /
    * empty / their pipelines): returns the single output, or Scala `null`
    * for "no output" (never confusable with JSON null = NullN). Must agree
    * with `eval` on every expression StrictRewrite.atMostOne certifies —
    * StrictPathSpec runs both lanes over the shared program corpus. The
    * default branch falls back to forcing the stream's FIRST cell only,
    * which is sound (and not over-forcing) precisely because the subtree
    * is certified ≤1. */
  def evalOpt(e: JqExpr, in: JsonNode, env: Env): JsonNode = e match {
    case Strict(inner) => evalOne(inner, in, env)
    case Semi(inner) => evalOpt(inner, in, env)
    case FuncCall("select", List(c)) =>
      if (truthy(evalOne(c, in, env))) in else null
    case FuncCall("empty", Nil) => null
    case Pipe(l, r) =>
      val v = evalOpt(l, in, env)
      if (v eq null) null else evalOpt(r, v, env)
    case If(c, t, eOpt) =>
      if (truthy(evalOne(c, in, env))) evalOpt(t, in, env)
      else eOpt match {
        case Some(x) => evalOpt(x, in, env)
        case None => in
      }
    case TryCatch(body, handler) =>
      try evalOpt(body, in, env)
      catch {
        case err: JqError => handler match {
          case Some(h) => evalOpt(h, err.payload, env)
          case None => null
        }
      }
    case Alternative(l, r) =>
      val v = try evalOpt(l, in, env) catch { case _: JqError => null }
      if ((v ne null) && truthy(v)) v else evalOpt(r, in, env)
    case Field(target, name, _) => // `?` desugars to TryCatch, same as eval
      val t = evalOpt(target, in, env)
      if (t eq null) null else fieldAccess(t, name)
    case Index(target, idxE, _) =>
      val t = evalOpt(target, in, env)
      if (t eq null) null else indexAccess(t, evalOne(idxE, in, env))
    case Neg(x) =>
      val v = evalOpt(x, in, env)
      if (v eq null) null
      else if (!v.isNumber) throw JqError.of(s"${Json.typeName(v)}${preview(v)} cannot be negated")
      else num(-v.doubleValue())
    case BinOp("and", l, r) =>
      val lv = evalOpt(l, in, env)
      if (lv eq null) null
      else if (!truthy(lv)) FalseN
      else {
        val rv = evalOpt(r, in, env)
        if (rv eq null) null else bool(truthy(rv))
      }
    case BinOp("or", l, r) =>
      val lv = evalOpt(l, in, env)
      if (lv eq null) null
      else if (truthy(lv)) TrueN
      else {
        val rv = evalOpt(r, in, env)
        if (rv eq null) null else bool(truthy(rv))
      }
    case BinOp(op, l, r) =>
      // right operand is the outer loop, same as eval: it runs (and may
      // error or yield nothing) BEFORE the left side is touched
      val rv = evalOpt(r, in, env)
      if (rv eq null) null
      else {
        val lv = evalOpt(l, in, env)
        if (lv eq null) null else binop(op, lv, rv)
      }
    case other =>
      // certified ≤1: the first cell is the only cell; tail never forced
      val s = eval(other, in, env)
      if (s.isEmpty) null else s.head
  }

  /** Strict evaluator for compiler-certified always-one-output subtrees
    * (see StrictRewrite) — direct recursion, no LazyList cells. Must agree
    * with `eval` on every expression it accepts; the engine spec runs the
    * whole suite through programs covered by both paths. */
  def evalOne(e: JqExpr, in: JsonNode, env: Env): JsonNode = e match {
    case Strict(inner) => evalOne(inner, in, env)
    case Identity => in
    case NumLit(v, asLong) => asLong.map(F.numberNode(_): JsonNode).getOrElse(num(v))
    case BoolLit(b) => bool(b)
    case NullLit => NullN
    case VarRef(name) => lookupVar(name, env)
    case Field(target, name, _) => fieldAccess(evalOne(target, in, env), name)
    case Index(target, idxE, _) =>
      indexAccess(evalOne(target, in, env), evalOne(idxE, in, env))
    case Slice(target, fromE, toE, _) =>
      sliceAccess(evalOne(target, in, env),
        fromE.map(evalOne(_, in, env)).getOrElse(NullN),
        toE.map(evalOne(_, in, env)).getOrElse(NullN))
    case Pipe(l, r) => evalOne(r, evalOne(l, in, env), env)
    case si: StrInterp =>
      val sb = new StringBuilder
      si.parts.foreach {
        case Left(s) => sb.append(s)
        case Right(x) =>
          val v = evalOne(x, in, env)
          sb.append(si.format match {
            case None => Json.render(v)
            case Some(f) => Builtins.applyFormat(f, v)
          })
      }
      text(sb.toString)
    case ArrayLit(body) =>
      arr(body.map(b => eval(b, in, env).toList).getOrElse(Nil))
    case ObjectLit(entries) =>
      val o = F.objectNode()
      entries.foreach { case (key, valueOpt) =>
        val kv = key match {
          case ObjKey.Fixed(name) => text(name)
          case ObjKey.Var(name) => text(name)
          case ObjKey.Computed(ke) => evalOne(ke, in, env)
          case ObjKey.InterpKey(s) => evalOne(s, in, env)
        }
        if (!kv.isTextual) throw JqError.of(s"Object keys must be strings${preview(kv)}")
        val k = kv.textValue()
        val v = (key, valueOpt) match {
          case (_, Some(ve)) => evalOne(ve, in, env)
          case (ObjKey.Var(name), None) => lookupVar(name, env)
          case (_, None) => fieldAccess(in, k)
        }
        o.set[JsonNode](k, v)
      }
      o
    case Neg(b) =>
      val v = evalOne(b, in, env)
      if (!v.isNumber) throw JqError.of(s"${Json.typeName(v)}${preview(v)} cannot be negated")
      num(-v.doubleValue())
    case BinOp("and", l, r) =>
      if (!truthy(evalOne(l, in, env))) FalseN else bool(truthy(evalOne(r, in, env)))
    case BinOp("or", l, r) =>
      if (truthy(evalOne(l, in, env))) TrueN else bool(truthy(evalOne(r, in, env)))
    case BinOp(op, l, r) =>
      val rv = evalOne(r, in, env) // rhs first, as in the stream path
      binop(op, evalOne(l, in, env), rv)
    case Alternative(l, r) =>
      val lv = try Some(evalOne(l, in, env)) catch { case _: JqError => None }
      lv.filter(truthy) match {
        case Some(v) => v
        case None => evalOne(r, in, env)
      }
    case As(src, List(pattern), body) =>
      val v = evalOne(src, in, env)
      pattern match {
        case Pattern.PVar(name) => evalOne(body, in, env.withVar(name, v))
        case _ =>
          val binds = destructure(pattern, v, in, env).head
          evalOne(body, in, env.withVars(binds))
      }
    case If(cond, thenB, elseB) =>
      if (truthy(evalOne(cond, in, env))) evalOne(thenB, in, env)
      else elseB.map(evalOne(_, in, env)).getOrElse(in)
    case Reduce(src, pattern, initE, update) =>
      var acc = evalOne(initE, in, env)
      pattern match {
        // `as $x`: exactly one binding, no destructure list / Option per
        // source element (the dominant reduce shape)
        case Pattern.PVar(name) =>
          eval(src, in, env).foreach(v => acc = evalOne(update, acc, env.withVar(name, v)))
        case _ =>
          eval(src, in, env).foreach { v =>
            destructure(pattern, v, in, env).headOption.foreach { binds =>
              acc = evalOne(update, acc, env.withVars(binds))
            }
          }
      }
      acc
    case Assign("|=", pathE, valueE) =>
      evalPaths(pathE, in, env).foldLeft(in) { (acc, p) =>
        val cur = getPath(acc, p)
        eval(valueE, cur, env).headOption match {
          case Some(nv) => setPath(acc, p, nv)
          case None => acc
        }
      }
    case Assign("=", pathE, valueE) =>
      val v = evalOne(valueE, in, env)
      evalPaths(pathE, in, env).foldLeft(in)((acc, p) => setPath(acc, p, v))
    case Assign("//=", pathE, valueE) =>
      val v = evalOne(valueE, in, env)
      evalPaths(pathE, in, env).foldLeft(in) { (acc, p) =>
        if (truthy(getPath(acc, p))) acc else setPath(acc, p, v)
      }
    case Assign(arithOp, pathE, valueE) =>
      val bop = arithOp.stripSuffix("=")
      val v = evalOne(valueE, in, env)
      evalPaths(pathE, in, env).foldLeft(in) { (acc, p) =>
        setPath(acc, p, binop(bop, getPath(acc, p), v))
      }
    case Format(name) => text(Builtins.applyFormat(name, in))
    case fc: FuncCall =>
      // singular builtin — the table impl yields exactly one value
      val s = eval(fc, in, env)
      val h = s.head
      h
    case other =>
      throw new IllegalStateException(s"evalOne on non-singular node: $other")
  }

  /** Force `stream` step by step; a JqBreak for `name` truncates it.
    * JqBreak is NOT a JqError — try/catch does not intercept it (jq
    * semantics: break unwinds to its label only). */
  private def breakable(name: String, stream: => S): S = {
    // only the CURRENT cell may be forced inside the try — touching s.tail
    // here would evaluate the next element one step early and lose the
    // already-produced head when that element breaks (JqStream tails force
    // on access, unlike LazyList cells)
    def step(thunk: () => S): S = {
      val r: Option[S] =
        try {
          val s = thunk()
          if (s.isEmpty) None else Some(s)
        } catch { case b: JqBreak if b.label == name => None }
      r match {
        case None => JqStream.empty
        case Some(s) => s.head #:: step(() => s.tail)
      }
    }
    step(() => stream)
  }

  // ---- helpers ----------------------------------------------------------

  def defineFunc(name: String, params: List[String], body: JqExpr, env: Env): Env = {
    val entry = new FuncEntry(params, body)
    val env2 = env.copy(funcs = env.funcs + ((name, params.length) -> entry))
    entry.env = env2 // recursion: the function sees itself
    env2
  }

  private def call(name: String, args: List[JqExpr], in: JsonNode, env: Env): S =
    env.funcs.get((name, args.length)) match {
      case Some(entry) =>
        val argEntries = entry.params.zip(args).map { case (p, argE) =>
          val ae = new FuncEntry(Nil, argE)
          ae.env = env // argument closures evaluate in the caller's env
          (p, 0) -> ae
        }
        eval(entry.body, in, entry.env.copy(funcs = entry.env.funcs ++ argEntries))
      case None =>
        Builtins.table.get((name, args.length)) match {
          case Some(b) => b(args, in, env)
          case None => throw JqError.of(s"$name/${args.length} is not defined")
        }
    }

  def lookupVar(name: String, env: Env): JsonNode =
    env.vars.getOrElse(name, name match {
      case "ENV" => obj(Nil) // deliberate: no ambient environment leakage
      case _ => throw JqError.of(s"$$$name is not defined")
    })

  /** Force `stream` step by step; on JqError divert to `handler` and stop.
    * Only the current cell is forced inside the try (`s.tail` would
    * evaluate the NEXT element eagerly — JqStream tails force on access,
    * unlike LazyList cells — and an error there must not eat this head). */
  def protect(stream: => S, handler: JqError => S): S = {
    def step(thunk: () => S): S = {
      val r: Either[JqError, Option[S]] =
        try {
          val s = thunk()
          Right(if (s.isEmpty) None else Some(s))
        } catch { case e: JqError => Left(e) }
      r match {
        case Left(e) => handler(e)
        case Right(None) => JqStream.empty
        case Right(Some(s)) => s.head #:: step(() => s.tail)
      }
    }
    step(() => stream)
  }

  /** Ends the stream at the first JqError, keeping values already produced
    * (the `//` left-side contract). Label/break unwinds pass through. */
  private def truncateOnError(stream: => S): S = protect(stream, _ => JqStream.empty)

  def recurseAll(v: JsonNode): S =
    v #:: (if (v.isArray) JqStream.from(Json.elements(v).toSeq).flatMap(recurseAll)
           else if (v.isObject) JqStream.from(Json.fields(v).map(_._2).toSeq).flatMap(recurseAll)
           else JqStream.empty)

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
        val n = t.size()
        var idx = math.floor(i.doubleValue()).toInt
        if (idx < 0) idx += n
        if (idx < 0 || idx >= n) NullN else t.get(idx)
      } else throw JqError.of(s"Cannot index ${Json.typeName(t)} with number")
    } else if (i.isObject && t.isArray) {
      // .[{"start":a,"end":b}] — slice via object (path-elem form)
      sliceAccess(t, i.get("start"), i.get("end"))
    } else if (t.isNull) NullN
    else throw JqError.of(s"Cannot index ${Json.typeName(t)} with ${Json.typeName(i)}")

  def sliceAccess(t: JsonNode, from: JsonNode, to: JsonNode): JsonNode = {
    def bounds(len: Int): (Int, Int) = {
      def clamp(nOpt: JsonNode, dflt: Int): Int =
        if (nOpt == null || nOpt.isNull) dflt
        else {
          var x = math.floor(nOpt.doubleValue()).toInt
          if (x < 0) x += len
          math.max(0, math.min(len, x))
        }
      val f = clamp(from, 0)
      val tt = clamp(to, len)
      (f, math.max(f, tt))
    }
    if (t.isNull) NullN
    else if (t.isArray) {
      val (f, tt) = bounds(t.size())
      arr((f until tt).map(t.get))
    } else if (t.isTextual) {
      val s = t.textValue()
      val cps = s.codePointCount(0, s.length)
      val (f, tt) = bounds(cps)
      val start = s.offsetByCodePoints(0, f)
      val end = s.offsetByCodePoints(0, tt)
      text(s.substring(start, end))
    } else throw JqError.of(s"Cannot index ${Json.typeName(t)} with object")
  }

  def evalInterp(si: StrInterp, in: JsonNode, env: Env): S = {
    def build(rem: List[Either[String, JqExpr]], acc: StringBuilder): S = rem match {
      case Nil => JqStream(text(acc.toString))
      case Left(s) :: rest => build(rest, new StringBuilder(acc.toString).append(s))
      case Right(e) :: rest =>
        eval(e, in, env).flatMap { v =>
          val s = si.format match {
            case None => Json.render(v)
            case Some(f) => Builtins.applyFormat(f, v)
          }
          build(rest, new StringBuilder(acc.toString).append(s))
        }
    }
    build(si.parts, new StringBuilder)
  }

  /** `?//` alternatives: try patterns left to right; a destructuring error
    * falls through to the next. Variables of ALL alternatives are bound
    * (null when absent from the matching pattern) so the body may
    * reference any of them (jq manual, "destructuring alternative"). */
  def destructureAlt(patterns: List[Pattern], v: JsonNode, in: JsonNode,
                     env: Env): LazyList[Map[String, JsonNode]] = {
    val allVars: Set[String] = patterns.flatMap(patternVars).toSet
    def tryAll(rem: List[Pattern]): LazyList[Map[String, JsonNode]] = rem match {
      case Nil => LazyList.empty
      case last :: Nil =>
        destructure(last, v, in, env).map(b => withNulls(b, allVars))
      case p :: rest =>
        val attempt =
          try Some(destructure(p, v, in, env).toList)
          catch { case _: JqError => None }
        attempt match {
          case Some(binds) => LazyList.from(binds).map(b => withNulls(b, allVars))
          case None => tryAll(rest)
        }
    }
    tryAll(patterns)
  }

  private def withNulls(b: Map[String, JsonNode], all: Set[String]): Map[String, JsonNode] =
    b ++ (all -- b.keySet).map(_ -> (NullN: JsonNode))

  private def patternVars(p: Pattern): Seq[String] = p match {
    case Pattern.PVar(n) => Seq(n)
    case Pattern.PArray(es) => es.flatMap(patternVars)
    case Pattern.PObject(es) => es.flatMap { case (_, sub) => patternVars(sub) }
  }

  /** Pattern destructuring; may yield several binding sets when computed
    * object-pattern keys produce several values. */
  def destructure(p: Pattern, v: JsonNode, in: JsonNode, env: Env): LazyList[Map[String, JsonNode]] = p match {
    case Pattern.PVar(name) => LazyList(Map(name -> v))
    case Pattern.PArray(elems) =>
      if (!v.isArray && !v.isNull)
        throw JqError.of(s"Cannot index ${Json.typeName(v)} with number")
      def go(i: Int, acc: Map[String, JsonNode]): LazyList[Map[String, JsonNode]] =
        if (i >= elems.length) LazyList(acc)
        else {
          val sub = if (v.isArray && i < v.size()) v.get(i) else NullN
          destructure(elems(i), sub, in, env).flatMap(m => go(i + 1, acc ++ m))
        }
      go(0, Map.empty)
    case Pattern.PObject(entries) =>
      def go(rem: List[(JqExpr, Pattern)], acc: Map[String, JsonNode]): LazyList[Map[String, JsonNode]] = rem match {
        case Nil => LazyList(acc)
        case (keyE, sub) :: rest =>
          LazyList.from(eval(keyE, in, env.withVars(acc))).flatMap { kv =>
            if (!kv.isTextual) throw JqError.of(s"Cannot index object with ${Json.typeName(kv)}")
            val subV = fieldAccess(v, kv.textValue())
            destructure(sub, subV, in, env).flatMap(m => go(rest, acc ++ m))
          }
      }
      go(entries, Map.empty)
  }

  // ---- arithmetic -------------------------------------------------------

  def binop(op: String, a: JsonNode, b: JsonNode): JsonNode = op match {
    case "==" => bool(Json.eq(a, b))
    case "!=" => bool(!Json.eq(a, b))
    case "<" => bool(Json.compare(a, b) < 0)
    case "<=" => bool(Json.compare(a, b) <= 0)
    case ">" => bool(Json.compare(a, b) > 0)
    case ">=" => bool(Json.compare(a, b) >= 0)
    case "+" => add(a, b)
    case "-" => subtract(a, b)
    case "*" => multiply(a, b)
    case "/" => divide(a, b)
    case "%" => modulo(a, b)
  }

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
    } else throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be added")

  private def subtract(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isNumber && b.isNumber) num(a.doubleValue() - b.doubleValue())
    else if (a.isArray && b.isArray) {
      val rem = Json.elements(b).toList
      arr(Json.elements(a).filterNot(x => rem.exists(Json.eq(_, x))).toSeq)
    } else throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be subtracted")

  private def multiply(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isNumber && b.isNumber) num(a.doubleValue() * b.doubleValue())
    else if (a.isTextual && b.isNumber) repeatStr(a.textValue(), b.doubleValue())
    else if (a.isNumber && b.isTextual) repeatStr(b.textValue(), a.doubleValue())
    else if (a.isObject && b.isObject) deepMerge(a.asInstanceOf[ObjectNode], b.asInstanceOf[ObjectNode])
    else throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be multiplied")

  private def repeatStr(s: String, n: Double): JsonNode =
    if (n <= 0) NullN else text(s * math.ceil(n).toInt)

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
      if (b.doubleValue() == 0)
        throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be divided because the divisor is zero")
      num(a.doubleValue() / b.doubleValue())
    } else if (a.isTextual && b.isTextual) {
      arr(splitLiteral(a.textValue(), b.textValue()).map(text))
    } else throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be divided")

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
      if (bi == 0)
        throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be divided because the divisor is zero")
      val ai = math.floor(math.abs(a.doubleValue())).toLong * (if (a.doubleValue() < 0) -1 else 1)
      num((ai % bi).toDouble)
    } else throw JqError.of(s"${Json.typeName(a)}${preview(a)} and ${Json.typeName(b)}${preview(b)} cannot be divided")

  // ---- path machinery ---------------------------------------------------

  /** Evaluate `e` as a path expression relative to `root`; yields path
    * vectors whose elements are TextNode (field), number node (index) or
    * {"start","end"} object (slice). */
  def evalPaths(e: JqExpr, root: JsonNode, env: Env): LazyList[Vector[JsonNode]] = e match {
    case Strict(inner) => evalPaths(inner, root, env)
    case Semi(inner) => evalPaths(inner, root, env)
    case Identity => LazyList(Vector.empty)
    case RecurseDefault => allPaths(root, Vector.empty, leavesOnly = false)
    case Field(target, name, _) =>
      evalPaths(target, root, env).map(_ :+ text(name))
    case Index(target, idxE, _) =>
      evalPaths(target, root, env).flatMap { p =>
        LazyList.from(eval(idxE, root, env)).map { i =>
          if (i.isTextual || i.isNumber || i.isObject) p :+ i
          else throw JqError.of(s"Invalid path component ${Json.typeName(i)}")
        }
      }
    case Slice(target, fromE, toE, _) =>
      evalPaths(target, root, env).flatMap { p =>
        val froms = fromE.map(eval(_, root, env)).getOrElse(JqStream(NullN))
        LazyList.from(froms).flatMap { f =>
          val tos = toE.map(eval(_, root, env)).getOrElse(JqStream(NullN))
          LazyList.from(tos).map(t => p :+ obj(List("start" -> f, "end" -> t)))
        }
      }
    case IterateAll(target, _) =>
      evalPaths(target, root, env).flatMap { p =>
        val v = getPath(root, p)
        if (v.isArray) LazyList.from(0 until v.size()).map(i => p :+ num(i))
        else if (v.isObject) LazyList.from(Json.fields(v).map(_._1).toSeq).map(k => p :+ text(k))
        else if (v.isNull) LazyList.empty
        else throw JqError.of(s"Cannot iterate over ${Json.typeName(v)}")
      }
    case Pipe(l, r) =>
      evalPaths(l, root, env).flatMap { p =>
        val sub = getPath(root, p)
        evalPaths(r, sub, env).map(p ++ _)
      }
    case Comma(l, r) => evalPaths(l, root, env) #::: evalPaths(r, root, env)
    case If(cond, thenB, elseB) =>
      LazyList.from(eval(cond, root, env)).flatMap { c =>
        if (truthy(c)) evalPaths(thenB, root, env)
        else elseB.map(evalPaths(_, root, env)).getOrElse(LazyList(Vector.empty))
      }
    case TryCatch(body, None) =>
      protectPaths(evalPaths(body, root, env))
    case As(src, patterns, body) =>
      LazyList.from(eval(src, root, env)).flatMap { v =>
        destructureAlt(patterns, v, root, env).flatMap { binds =>
          evalPaths(body, root, env.withVars(binds))
        }
      }
    case FuncCall("select", List(cond)) =>
      LazyList.from(eval(cond, root, env)).flatMap(c =>
        if (truthy(c)) LazyList(Vector.empty) else LazyList.empty)
    case FuncCall("empty", Nil) => LazyList.empty
    case FuncCall("recurse", Nil) => allPaths(root, Vector.empty, leavesOnly = false)
    case FuncCall("getpath", List(pe)) =>
      LazyList.from(eval(pe, root, env)).map { pl =>
        if (!pl.isArray) throw JqError.of("getpath path must be an array")
        Vector.from(Json.elements(pl))
      }
    case FuncCall("paths", Nil) =>
      allPaths(root, Vector.empty, leavesOnly = false).drop(1)
    case FuncCall("first", List(f)) => evalPaths(f, root, env).take(1)
    case FuncCall("last", List(f)) =>
      LazyList.from(evalPaths(f, root, env).lastOption)
    case FuncCall("limit", List(nE, f)) =>
      LazyList.from(eval(nE, root, env).take(1)).flatMap(n => evalPaths(f, root, env).take(n.intValue()))
    case FuncDef(name, params, body, rest) =>
      evalPaths(rest, root, defineFunc(name, params, body, env))
    case FuncCall(name, args) =>
      env.funcs.get((name, args.length)) match {
        case Some(entry) =>
          val argEntries = entry.params.zip(args).map { case (p, argE) =>
            val ae = new FuncEntry(Nil, argE); ae.env = env; (p, 0) -> ae
          }
          evalPaths(entry.body, root, entry.env.copy(funcs = entry.env.funcs ++ argEntries))
        case None => throw JqError.of(s"Invalid path expression: $name/${args.length}")
      }
    case Alternative(l, r) =>
      // same lazy truncate-on-error shape as the value-stream Alternative
      val lefts = protectPaths(evalPaths(l, root, env).filter(p => truthy(getPath(root, p))))
      if (lefts.nonEmpty) lefts else evalPaths(r, root, env)
    case other => throw JqError.of(s"Invalid path expression")
  }

  private def protectPaths(s: => LazyList[Vector[JsonNode]]): LazyList[Vector[JsonNode]] = {
    def step(thunk: () => LazyList[Vector[JsonNode]]): LazyList[Vector[JsonNode]] = {
      val r =
        try {
          val ll = thunk()
          if (ll.isEmpty) None else Some((ll.head, ll.tail))
        } catch { case _: JqError => None }
      r match {
        case None => LazyList.empty
        case Some((h, t)) => h #:: step(() => t)
      }
    }
    step(() => s)
  }

  def allPaths(v: JsonNode, prefix: Vector[JsonNode], leavesOnly: Boolean): LazyList[Vector[JsonNode]] = {
    val self = if (leavesOnly && (v.isArray || v.isObject)) LazyList.empty else LazyList(prefix)
    val children =
      if (v.isArray)
        LazyList.from(0 until v.size()).flatMap(i => allPaths(v.get(i), prefix :+ num(i), leavesOnly))
      else if (v.isObject)
        LazyList.from(Json.fields(v).toSeq).flatMap { case (k, c) => allPaths(c, prefix :+ text(k), leavesOnly) }
      else LazyList.empty
    if (leavesOnly) self #::: children
    else LazyList(prefix) #::: children
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
        val idxRaw = math.floor(el.doubleValue()).toInt
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
        def clamp(x: JsonNode, dflt: Int): Int =
          if (x == null || x.isNull) dflt
          else { var v = math.floor(x.doubleValue()).toInt; if (v < 0) v += n; math.max(0, math.min(n, v)) }
        val f = clamp(el.get("start"), 0)
        val t = math.max(f, clamp(el.get("end"), n))
        arr((0 until f).map(base.get) ++ Json.elements(value).toSeq ++ (t until n).map(base.get))
      } else throw JqError.of(s"Invalid path component")
    }

  def delPaths(root: JsonNode, paths: List[Seq[JsonNode]]): JsonNode = {
    // delete deepest/rightmost first so earlier deletions don't shift later ones
    val sorted = paths.sortWith { (a, b) =>
      Json.compare(arr(a), arr(b)) > 0
    }
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
        var idx = math.floor(el.doubleValue()).toInt
        if (idx < 0) idx += n
        if (idx < 0 || idx >= n) root
        else arr((0 until n).filter(_ != idx).map(root.get))
      } else if (el.isObject) {
        if (!root.isArray) throw JqError.of(s"Cannot delete slice of ${Json.typeName(root)}")
        val n = root.size()
        def clamp(x: JsonNode, dflt: Int): Int =
          if (x == null || x.isNull) dflt
          else { var v = math.floor(x.doubleValue()).toInt; if (v < 0) v += n; math.max(0, math.min(n, v)) }
        val f = clamp(el.get("start"), 0)
        val t = math.max(f, clamp(el.get("end"), n))
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
    else if (root.isArray && el.isNumber) root.get(math.floor(el.doubleValue()).toInt)
    else null

  // ---- assignment -------------------------------------------------------

  private def evalAssign(op: String, pathE: JqExpr, valueE: JqExpr, in: JsonNode, env: Env): S = op match {
    case "=" =>
      // rhs sees the ORIGINAL input; one output per rhs value
      eval(valueE, in, env).map { v =>
        evalPaths(pathE, in, env).foldLeft(in)((acc, p) => setPath(acc, p, v))
      }
    case "|=" =>
      JqStream(evalPaths(pathE, in, env).foldLeft(in) { (acc, p) =>
        val cur = getPath(acc, p)
        eval(valueE, cur, env).headOption match {
          case Some(nv) => setPath(acc, p, nv)
          case None => acc // jq 1.6 quirk territory; keep value unchanged
        }
      })
    case "//=" =>
      eval(valueE, in, env).map { v =>
        evalPaths(pathE, in, env).foldLeft(in) { (acc, p) =>
          if (truthy(getPath(acc, p))) acc else setPath(acc, p, v)
        }
      }
    case arithOp =>
      val binOp = arithOp.stripSuffix("=") // += -= *= /= %=
      eval(valueE, in, env).map { v =>
        evalPaths(pathE, in, env).foldLeft(in) { (acc, p) =>
          setPath(acc, p, binop(binOp, getPath(acc, p), v))
        }
      }
  }
}
