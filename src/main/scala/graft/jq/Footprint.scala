package graft.jq

import JqExpr._

/** Static input-footprint analysis: the jq analogue of Spark's projection
  * pushdown, pushed one level deeper — into the JSON PARSE itself.
  *
  * `Footprint(ast) = Some(m)` certifies that evaluating the program on an
  * OBJECT input only ever observes the input through `.f` field accesses
  * with f ∈ m.keySet (never iterating, serializing, or passing the whole
  * input downstream) — and, one level down, `m(f) = Some(S)` additionally
  * certifies that when `.f` is an OBJECT it is only observed through its
  * subfields in S (`m(f) = None` = the whole `.f` subtree is needed). The
  * generator then parses rows with [[Jq.parsePruned]], which lexes every
  * byte (corrupt-input and trailing-garbage semantics are exactly those of
  * the full parse) but builds JsonNode trees ONLY for the needed fields —
  * and only the needed SUBfields of nested objects — `skipChildren()`ing
  * the rest. On wide crawl/event payloads where a UDTF extracts a few
  * nested fields from many, node construction is the parse cost, and this
  * removes it for every untouched field and subfield. Non-object values of
  * a sub-tracked field are materialized in full (the program may
  * legitimately error on them, previewing the value). `None` overall = the
  * program may observe the whole input; callers fall back to the full
  * parse.
  *
  * Soundness bar: every rule here must OVER-
  * approximate (more fields, a deeper-than-needed None, or outer None) —
  * when in doubt, None. Rules are input-relative: sub-expressions evaluated
  * on a DIFFERENT input (a pipe rhs, a reduce update on its accumulator)
  * contribute nothing, because whatever value flows to them was already
  * fully extracted. The ONE sharpening below level 1: an access chain
  * `.a.b` (field or constant-string index on a value that is EXACTLY a
  * single static access on the input) observes only subfield b of a —
  * constructed values (`{x: .a} | .x` style) never qualify because the
  * sharpening is syntactic on the access target. Variables are values
  * (safe); `as` bodies run on the ORIGINAL input and are analyzed;
  * assignments return the modified input (whole-input by definition);
  * every builtin call in input position but `empty` is whole-input
  * (`select` alone would leak the full input as its output). */
object Footprint {

  /** Needed top-level fields → per-field need: `None` = whole subtree,
    * `Some(S)` = only subfields S (when the value is an object). */
  type Fields = Map[String, Option[Set[String]]]

  def apply(e: JqExpr): Option[Fields] = fp(e)

  private val empty: Option[Fields] = Some(Map.empty)

  /** Whole-subtree need for one field. */
  private def whole(name: String): Option[Fields] = Some(Map(name -> None))

  private def merge(a: Fields, b: Fields): Fields =
    (a.keySet | b.keySet).iterator.map { k =>
      k -> ((a.get(k), b.get(k)) match {
        case (Some(None), _) | (_, Some(None)) => None // whole subtree wins
        case (Some(Some(x)), Some(Some(y))) => Some(x | y)
        case (Some(s), None) => s
        case (None, s) => s.flatten
      })
    }.toMap

  private def union(a: Option[Fields], b: Option[Fields]): Option[Fields] =
    for (x <- a; y <- b) yield merge(x, y)

  private def unionAll(es: Iterable[Option[Fields]]): Option[Fields] =
    es.foldLeft(empty)(union)

  /** Constant string value of an index expression, if statically known. */
  private def constString(e: JqExpr): Option[String] = e match {
    case StrInterp(List(Left(s)), None) => Some(s)
    case _ => None
  }

  /** The expression's value is EXACTLY `input.<name>` for a static name
    * (one field/constant-index step on the input, modulo `?`): a further
    * static access on that value observes only the named subfield. */
  private def level1(e: JqExpr): Option[String] = e match {
    case Field(Identity, name, _) => Some(name)
    case Index(Identity, idx, _) => constString(idx)
    // `.a?` desugars to try(.a) with NO handler: the only value that flows
    // on is input.a (errors are suppressed to empty). A try WITH a handler
    // never qualifies — the handler's value would flow to the access too.
    case TryCatch(inner, None) => level1(inner)
    case _ => None
  }

  private def patternsSafe(ps: List[Pattern]): Boolean = ps.forall {
    case Pattern.PVar(_) => true
    case _ => false // PObject keys evaluate on the original input; PArray may nest them
  }

  private def fp(e: JqExpr): Option[Fields] = e match {
    case Identity | RecurseDefault => None

    case Field(Identity, name, _) => whole(name)
    case Field(target, name, _) => level1(target) match {
      case Some(a) => Some(Map(a -> Some(Set(name)))) // .a.b → subfield b of a
      case None => fp(target) // deeper access stays inside the extracted subtree
    }

    case Index(Identity, idx, _) => constString(idx).map(k => Map(k -> None))
    case Index(target, idx, _) => (level1(target), constString(idx)) match {
      case (Some(a), Some(k)) => Some(Map(a -> Some(Set(k)))) // .a["b"]
      case _ => union(fp(target), fp(idx)) // idx evaluates on the input
    }

    case Slice(target, from, to, _) =>
      unionAll(Seq(fp(target)) ++ from.map(fp) ++ to.map(fp))

    case IterateAll(Identity, _) => None
    case IterateAll(target, _) => fp(target)

    case Pipe(l, _) => fp(l) // rhs input is the lhs OUTPUT, already extracted
    case Comma(l, r) => union(fp(l), fp(r))

    case NumLit(_, _) | BoolLit(_) | NullLit | Break(_) | VarRef(_) => empty

    case StrInterp(parts, _) => unionAll(parts.collect { case Right(x) => fp(x) })

    case ArrayLit(body) => body.map(fp).getOrElse(empty)

    case ObjectLit(entries) => unionAll(entries.map {
      case (ObjKey.Fixed(name), None) => whole(name) // {a} shorthand reads .a
      case (ObjKey.Fixed(_), Some(v)) => fp(v)
      case (ObjKey.Var(_), None) => empty
      case (ObjKey.Var(_), Some(v)) => fp(v)
      // shorthand with a DYNAMIC key reads an input field whose name is
      // only known at runtime — whole input
      case (ObjKey.Computed(_), None) | (ObjKey.InterpKey(_), None) => None
      case (ObjKey.Computed(k), Some(v)) => union(fp(k), fp(v))
      case (ObjKey.InterpKey(s), Some(v)) => union(fp(s), fp(v))
    })

    case Neg(x) => fp(x)
    case BinOp(_, l, r) => union(fp(l), fp(r))
    case Alternative(l, r) => union(fp(l), fp(r))

    case Assign(_, _, _) => None // returns the (modified) whole input

    case As(src, patterns, body) if patternsSafe(patterns) => union(fp(src), fp(body))
    case As(_, _, _) => None

    case If(_, _, None) => None // missing else = `.` — whole-input passthrough
    case If(c, t, Some(eb)) => unionAll(Seq(fp(c), fp(t), fp(eb)))
    case TryCatch(b, h) => unionAll(Seq(fp(b)) ++ h.map(fp)) // handler fp over-approximates

    // `empty` emits nothing and reads nothing. A user `def empty` is in
    // scope only inside a FuncDef, which certifies nothing.
    case FuncCall("empty", Nil) => empty
    case FuncCall(_, _) => None // builtin in input position observes the input
    case FuncDef(_, _, _, _) => None // user defs: call sites not tracked

    case Reduce(src, pat, init, _) if patternsSafe(List(pat)) => union(fp(src), fp(init))
    case Reduce(_, _, _, _) => None
    case Foreach(src, pat, init, _, _) if patternsSafe(List(pat)) => union(fp(src), fp(init))
    case Foreach(_, _, _, _, _) => None

    case Format(_) => None // formats the whole input

    case Label(_, body) => fp(body)
  }
}
