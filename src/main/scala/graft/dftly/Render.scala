package graft.dftly

import java.time.{LocalDate, LocalDateTime, LocalTime}

/** Serializers for [[Node]] trees — beyond-reference tooling (the reference
  * offers only dataclass `repr`): programmatic pipeline builders can emit
  * configs, error messages can show canonical forms, and tests can
  * round-trip.
  *
  *   - [[Render.toDict]] is TOTAL (every parseable node): emits the
  *     dict/YAML short form, `DictParser.parse(toDict(n)) == n`.
  *   - [[Render.toExprString]] is PARTIAL: emits the string form where the
  *     grammar can express the node (throws [[RenderError]] otherwise —
  *     array literals, f-strings, non-literal time in `@`, exotic doubles);
  *     `Dftly.parse(toExprString(n)) == n` when it succeeds.
  */
final class RenderError(msg: String) extends IllegalArgumentException(msg)

object Render {

  // ----------------------------------------------------------------- dict

  def toDict(n: Node): Any = n match {
    case Lit(s: String) => Map("literal" -> s) // a bare string would re-parse as string form
    case Lit(xs: Seq[_]) => Map("literal" -> xs) // the whole payload IS the value
    case Lit(v)         => v
    case Col(name)      => Map("column" -> name)

    case Conditional(w, t, o) =>
      Map("conditional" ->
        (Map("when" -> toDict(w), "then" -> toDict(t)) ++
          o.map(x => "otherwise" -> toDict(x))))
    case StringInterpolate(p, fs) =>
      Map("string_interpolate" -> (toDict(p) +: fs.map(toDict)))
    case RegexExtract(p, s, g) =>
      Map("regex_extract" ->
        (Map("pattern" -> toDict(p), "source" -> toDict(s)) ++
          g.map(x => "group_index" -> toDict(x))))
    case RegexMatch(p, s) =>
      Map("regex_match" -> Map("pattern" -> toDict(p), "source" -> toDict(s)))
    case Strptime(f, s, st) =>
      Map("strptime" ->
        (Map("format" -> toDict(f), "source" -> toDict(s)) ++
          st.map(x => "strict" -> toDict(x))))
    case Substring(s, a, b) =>
      Map("substring" ->
        (Map("source" -> toDict(s), "start" -> toDict(a)) ++
          b.map(x => "stop" -> toDict(x))))
    case Split(s, by) =>
      Map("split" -> Map("source" -> toDict(s), "by" -> toDict(by)))
    case Cast(s, t, st) =>
      Map("cast" ->
        (Map("source" -> toDict(s), "type" -> toDict(t)) ++
          st.map(x => "strict" -> toDict(x))))

    case Extension(name, args, _) => Map(name -> args.map(toDict))
    case BareWordNode(w) =>
      throw new RenderError(s"bare word '$w' is a parse-time marker, not a renderable node")
    // every positional node: its children, in order, under its key
    case n => Map(Builtins.of(n).key -> n.children.map(toDict))
  }

  // --------------------------------------------------------------- string

  def toExprString(n: Node): String = n match {
    case Lit(v)    => litStr(v)
    case Col(name) => colStr(name)

    // unary binds tighter than `::` in the ladder, so the operand must be
    // parenthesized or a trailing cast would re-associate onto the result
    case Not(a)        => s"(not (${toExprString(a)}))"
    case Negate(a)     => s"(-(${toExprString(a)}))"

    // infix only at arity 2 — the grammar folds chains pairwise, so a flat
    // 3-arg Add has no infix spelling; the function form covers any arity
    // EXCEPT and/or, whose names are grammar keywords (not callable) — a
    // non-binary And/Or has no string form at all.
    case And(Seq(l, r))      => s"(${toExprString(l)} and ${toExprString(r)})"
    case Or(Seq(l, r))       => s"(${toExprString(l)} or ${toExprString(r)})"
    case Add(Seq(l, r))      => s"(${toExprString(l)} + ${toExprString(r)})"
    case Multiply(Seq(l, r)) => s"(${toExprString(l)} * ${toExprString(r)})"
    case Coalesce(Seq(l, r)) => s"(${toExprString(l)} ?? ${toExprString(r)})"
    case And(as) =>
      throw new RenderError(
        s"and of arity ${as.size} has no string form ('and' is a keyword, not callable); use toDict")
    case Or(as) =>
      throw new RenderError(
        s"or of arity ${as.size} has no string form ('or' is a keyword, not callable); use toDict")

    case Subtract(l, r) => s"(${toExprString(l)} - ${toExprString(r)})"
    case Divide(l, r)   => s"(${toExprString(l)} / ${toExprString(r)})"
    case Power(b, e)    => s"(${toExprString(b)} ** ${toExprString(e)})"

    case Gt(l, r)  => s"(${toExprString(l)} > ${toExprString(r)})"
    case Lt(l, r)  => s"(${toExprString(l)} < ${toExprString(r)})"
    case Eq(l, r)  => s"(${toExprString(l)} == ${toExprString(r)})"
    case Neq(l, r) => s"(${toExprString(l)} != ${toExprString(r)})"
    case Gte(l, r) => s"(${toExprString(l)} >= ${toExprString(r)})"
    case Lte(l, r) => s"(${toExprString(l)} <= ${toExprString(r)})"

    case Conditional(w, t, None) =>
      s"(${toExprString(t)} if ${toExprString(w)})"
    case Conditional(w, t, Some(o)) =>
      s"(${toExprString(t)} if ${toExprString(w)} else ${toExprString(o)})"

    case RegexExtract(p, s, None) => fnCall("regex_extract", Seq(p, s))
    case RegexExtract(p, s, Some(g)) => fnCall("regex_extract", Seq(g, p, s))
    case RegexMatch(p, s) => fnCall("regex_match", Seq(p, s))
    case Substring(s, a, b) => fnCall("substring", Seq(s, a) ++ b)
    case Split(s, by) => fnCall("split", Seq(s, by))

    case Strptime(Lit(fmt: String), s, st) =>
      val op = strictOp(st, "strptime")
      s"(${toExprString(s)})$op${quote(fmt)}"
    case Strptime(f, _, _) =>
      throw new RenderError(s"strptime format must be a string literal to render; got $f")

    case Cast(s, Lit(t: String), st) =>
      s"(${toExprString(s)})${strictOp(st, "cast")}$t"
    case Cast(_, t, _) =>
      throw new RenderError(s"cast type must be a string literal to render; got $t")

    case SetTime(d, Lit(t: LocalTime)) =>
      val hhmmss = f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
      if (t.getNano != 0)
        throw new RenderError("sub-second literal times have no string form")
      s"(${toExprString(d)} @ $hhmmss)"
    case n @ (_: Hash | _: SignedHash | _: LenChars | _: Add | _: Multiply | _: Coalesce |
        _: Mean | _: Min | _: Max | _: SetTime) =>
      fnCall(Builtins.of(n).key, n.children)
    case d @ (_: DtAccessor | _: DtTotal) =>
      s"(${toExprString(d.children.head)})::${Builtins.of(d).castName.get}"

    case StringInterpolate(_, _) =>
      throw new RenderError(
        "string_interpolate has no canonical string form (f-string fields are raw text); use toDict")
    case Extension(name, args, _) => fnCall(name, args)
    case BareWordNode(w) =>
      throw new RenderError(s"bare word '$w' is a parse-time marker, not a renderable node")
  }

  // -------------------------------------------------------------- helpers

  private def fnCall(name: String, args: Seq[Node]): String =
    args.map(toExprString).mkString(s"$name(", ", ", ")")

  private def strictOp(st: Option[Node], what: String): String = st match {
    case None             => "::"
    case Some(Lit(false)) => "::?"
    case Some(other) =>
      throw new RenderError(s"$what strict=$other has no string form; use toDict")
  }

  private val PlainName = "^[A-Za-z_][A-Za-z0-9_]*$".r
  private def colStr(name: String): String =
    if (PlainName.matches(name)) s"$$$name"
    else if (!name.contains('`')) s"$$`$name`"
    else throw new RenderError(s"column name with backtick has no string form: $name")

  private val PlainNumber = "^[0-9]+(\\.[0-9]+)?$".r

  // NB: negative numeric literals have NO string form — the grammar always
  // parses `-x` as Negate(Lit(x)); a faithful round-trip must refuse.
  // Likewise Lit(Long) within Int range: the lexer produces Int for such
  // digits, so "5" would silently reparse as Lit(5: Int) != Lit(5L).
  private def litStr(v: Any): String = v match {
    case i: Int if i >= 0 => i.toString
    case l: Long if l > Int.MaxValue => l.toString // reparses as Long
    case l: Long if l >= 0 =>
      throw new RenderError(
        s"Lit(${l}L) would reparse as Int (the lexer yields Int in Int range); use Lit(Int) or toDict")
    case b: Boolean => b.toString
    case d: Double =>
      val s = d.toString
      if (PlainNumber.matches(s)) s
      else throw new RenderError(s"double $s has no plain-decimal string form (negative or scientific); use toDict")
    case s: String => quote(s)
    case d: LocalDate => d.toString
    case dt: LocalDateTime =>
      if (dt.getNano != 0)
        throw new RenderError("sub-second datetime literals have no string form")
      f"${dt.toLocalDate} ${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d"
    case other =>
      throw new RenderError(s"literal $other (${if (other == null) "null" else other.getClass.getSimpleName}) has no string form; use toDict")
  }

  private def quote(s: String): String = {
    if (s.contains('\n') || s.endsWith("\\"))
      throw new RenderError(s"string literal not expressible in the grammar: $s")
    if (!s.contains('\'')) s"'$s'"
    else if (!s.contains('"')) "\"" + s + "\""
    else throw new RenderError(s"string with both quote kinds has no string form: $s")
  }
}
