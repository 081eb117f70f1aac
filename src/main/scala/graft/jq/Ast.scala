package graft.jq

/** AST for the jq language subset implemented by graft.
  *
  * Models the surface exercised by the reference UDTF
  * (/root/reference/src/main/java/.../JsonQueryUDTF.java:53 compiles an
  * arbitrary jq program via jackson-jq) — so the grammar here follows jq 1.6:
  * pipes, comma streams, path navigation, constructors, control flow,
  * reduce/foreach, function definitions, assignment, and formats.
  */
sealed trait JqExpr extends Product with Serializable

object JqExpr {
  /** `.` */
  case object Identity extends JqExpr
  /** `..` — recursive descent (sugar for `recurse`) */
  case object RecurseDefault extends JqExpr
  /** `.foo` applied to the current input (or postfix on `target`). */
  final case class Field(target: JqExpr, name: String, optional: Boolean) extends JqExpr
  /** `target[idx]` — idx is any expression (string key or array index). */
  final case class Index(target: JqExpr, idx: JqExpr, optional: Boolean) extends JqExpr
  /** `target[from:to]` */
  final case class Slice(target: JqExpr, from: Option[JqExpr], to: Option[JqExpr], optional: Boolean) extends JqExpr
  /** `target[]` */
  final case class IterateAll(target: JqExpr, optional: Boolean) extends JqExpr

  final case class Pipe(left: JqExpr, right: JqExpr) extends JqExpr
  final case class Comma(left: JqExpr, right: JqExpr) extends JqExpr

  /** `asLong` preserves 64-bit integer literals exactly (beyond 2^53). */
  final case class NumLit(value: Double, asLong: Option[Long]) extends JqExpr
  /** Literal string or interpolation; parts: Left(raw text) / Right(expr).
    * `format` set when written as `@fmt "..."`. */
  final case class StrInterp(parts: List[Either[String, JqExpr]], format: Option[String]) extends JqExpr
  final case class BoolLit(value: Boolean) extends JqExpr
  case object NullLit extends JqExpr

  /** `[expr]` / `[]` */
  final case class ArrayLit(body: Option[JqExpr]) extends JqExpr
  /** Object construction entry kinds. */
  sealed trait ObjKey extends Product with Serializable
  object ObjKey {
    final case class Fixed(name: String) extends ObjKey            // {a: e} / {"a": e}
    final case class Computed(expr: JqExpr) extends ObjKey         // {(e): e}
    final case class Var(name: String) extends ObjKey              // {$x}
    final case class InterpKey(s: StrInterp) extends ObjKey        // {"a\(.b)": e}
  }
  /** value=None → shorthand `{a}` / `{$x}` */
  final case class ObjectLit(entries: List[(ObjKey, Option[JqExpr])]) extends JqExpr

  final case class Neg(expr: JqExpr) extends JqExpr
  /** op ∈ + - * / % == != < <= > >= and or */
  final case class BinOp(op: String, left: JqExpr, right: JqExpr) extends JqExpr
  /** `l // r` */
  final case class Alternative(left: JqExpr, right: JqExpr) extends JqExpr
  /** `path OP value`; op ∈ = |= += -= *= /= %= //= */
  final case class Assign(op: String, path: JqExpr, value: JqExpr) extends JqExpr

  final case class VarRef(name: String) extends JqExpr

  /** Destructuring patterns for `as` */
  sealed trait Pattern extends Product with Serializable
  object Pattern {
    final case class PVar(name: String) extends Pattern
    final case class PArray(elems: List[Pattern]) extends Pattern
    /** object pattern entry: key (fixed/var/computed) → sub-pattern */
    final case class PObject(entries: List[(JqExpr, Pattern)]) extends Pattern
  }
  /** `src as P1 ?// P2 ... | body` — patterns tried left to right; a
    * destructuring error falls through to the next alternative. */
  final case class As(src: JqExpr, patterns: List[Pattern], body: JqExpr) extends JqExpr

  final case class If(cond: JqExpr, thenB: JqExpr, elseB: Option[JqExpr]) extends JqExpr
  /** `try body catch handler` / `body?` (handler=None) */
  final case class TryCatch(body: JqExpr, handler: Option[JqExpr]) extends JqExpr

  final case class FuncCall(name: String, args: List[JqExpr]) extends JqExpr
  /** `def name(params): body; rest` — `$x` params are desugared by the parser
    * into plain params + `x as $x | body`. */
  final case class FuncDef(name: String, params: List[String], body: JqExpr, rest: JqExpr) extends JqExpr

  final case class Reduce(src: JqExpr, pattern: Pattern, init: JqExpr, update: JqExpr) extends JqExpr
  final case class Foreach(src: JqExpr, pattern: Pattern, init: JqExpr, update: JqExpr, extract: Option[JqExpr]) extends JqExpr

  /** `@base64` etc. used as a filter (no string literal attached). */
  final case class Format(name: String) extends JqExpr

  /** `label $name | body` / `break $name` — early termination. */
  final case class Label(name: String, body: JqExpr) extends JqExpr
  final case class Break(name: String) extends JqExpr
}
