package graft.dftly.strform

import graft.dftly._
import graft.dftly.ConstEval.checked

/** Builds nodes from the string grammar's function-call form `fn(a, b, …)`
  * (reference: str_form/parser.py:377-386 → `NODES[name].from_lark(args)`).
  *
  * Positional argument orders follow each node's `from_lark`:
  * conditional(then, when[, otherwise]) (conditional.py:58-63);
  * regex_extract(pattern, source) / (group_index, pattern, source)
  * (str.py:427-433); regex_match(pattern, source) (str.py:501-504);
  * strptime(source, format) (str.py:714-717); substring(source, start[, stop])
  * (str.py:974-984); split(source, by) (str.py:1057-1063); cast(source, type)
  * (types.py:315-323); string_interpolate(pattern) splits its single string
  * argument through [[Interp]] (str.py:155-172).
  *
  * Known reference quirk #109 (1-arg calls like `negate($a)` fail to resolve
  * because a one-element args list round-trips through a bare dict read as
  * kwargs; tests/test_interpolation_properties.py:129-134) is deliberately
  * FIXED here — we build from parsed nodes directly, so the ambiguity never
  * arises. SURVEY.md §2.10 records the decision.
  */
object FnCalls {

  def build(name: String, args: Seq[Node]): Node = name match {
    case "conditional" =>
      args match {
        case Seq(t, w)    => Conditional(w, t, None)
        case Seq(t, w, o) => Conditional(w, t, Some(o))
        case _ =>
          throw new ParseError(
            s"conditional(then, when[, otherwise]) takes 2 or 3 arguments; got ${args.size}"
          )
      }
    case "regex_extract" =>
      args match {
        case Seq(p, s)    => checked(RegexExtract(p, s, None))(ConstEval.regexExtractArgs)
        case Seq(g, p, s) => checked(RegexExtract(p, s, Some(g)))(ConstEval.regexExtractArgs)
        case _ =>
          throw new ParseError(
            s"regex_extract takes (pattern, source) or (group_index, pattern, source); got ${args.size} arguments"
          )
      }
    case "regex_match" =>
      args match {
        case Seq(p, s) => RegexMatch(p, s)
        case _ =>
          throw new ParseError(s"regex_match(pattern, source) takes 2 arguments; got ${args.size}")
      }
    case "strptime" =>
      args match {
        case Seq(src, fmt) => checked(Strptime(fmt, src, None))(ConstEval.strptimeArgs)
        case _ =>
          throw new ParseError(s"strptime(source, format) takes 2 arguments; got ${args.size}")
      }
    case "substring" =>
      args match {
        case Seq(src, start)       => Substring(src, start, None)
        case Seq(src, start, stop) => Substring(src, start, Some(stop))
        case _ =>
          throw new ParseError(
            s"substring(source, start[, stop]) takes 2 or 3 arguments; got ${args.size}"
          )
      }
    case "split" =>
      args match {
        case Seq(src, by) => Split(src, by)
        case _ =>
          throw new ParseError(s"split(source, by) takes 2 arguments; got ${args.size}")
      }
    case "cast" =>
      args match {
        case Seq(src, ty) => checked(Cast(src, ty, None))(ConstEval.castArgs)
        case _ => throw new ParseError(s"cast(source, type) takes 2 arguments; got ${args.size}")
      }
    case "string_interpolate" =>
      args match {
        case Seq(Lit(s: String)) =>
          val (pattern, fieldTexts) = Interp.splitInterpolation(s)
          if (fieldTexts.isEmpty)
            throw new ParseError(
              "StringInterpolate requires more than one argument; the pattern needs at " +
                "least one `{...}` field."
            )
          StringInterpolate(Lit(pattern), fieldTexts.map(t => StrParser.parseValue(t, nested = true)))
        case _ =>
          throw new ParseError(
            "string_interpolate only accepts a single argument, which is the pattern string."
          )
      }
    case "literal" | "column" =>
      args match {
        case Seq(Lit(v)) if name == "literal" => Lit(v)
        case Seq(Lit(s: String)) if name == "column" => Col(s)
        case _ =>
          throw new ParseError(s"$name() takes one literal argument")
      }
    case other =>
      // Resolve through the ACTIVE registry, builtins included (the default
      // registry's specs delegate to DictParser's arity checks) — so the
      // string form and the dict form always agree on what exists: a
      // restricted registry that excludes `add` rejects `add(1, 2)` too,
      // and custom nodes are callable (reference: str_form/parser.py:377-386,
      // NODES[name].from_lark).
      DftlyParser.active.value.specForKey(other) match {
        case Some(spec) =>
          spec.build(Map(other -> args), new NodeSpec.Ctx(nested = true))
        case None =>
          throw DictParser.fail(Map(other -> args), Nil)
      }
  }
}
