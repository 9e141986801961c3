package graft.dftly.strform

import java.time.{LocalDate, LocalDateTime, LocalTime}

import graft.dftly._
import graft.dftly.ConstEval.checked

final class ParseError(msg: String) extends IllegalArgumentException(msg)

/** Recursive-descent (precedence-climbing) parser for the dftly string form,
  * implementing the 13-level ladder of reference grammar.lark:1-26:
  *
  *   global_cast(as/@) → conditional(if/else) → ?? → or → and → comparison &
  *   regex forms → +- → *\/ → ** (right) → ::cast → unary(not ! -) →
  *   postfix [i:j] → primary
  *
  * A hand parser is used (not combinators) because the grammar needs
  * contextual lexing (`/` = regex-start vs division) and incremental
  * "parse until stuck" prefix parsing for f-string field splitting
  * (SURVEY.md §7.1).
  */
object StrParser {

  /** Parse a complete expression. `nested` controls the bare-word warning
    * (reference: parser.py:185-194).
    */
  def parseValue(s: String, nested: Boolean): Node = {
    val p = new P(s, prefixMode = false)
    val node =
      try {
        val n = p.parseRoot()
        // the reference's LALR parser rejects trailing tokens ("1 < 2 < 3"
        // is an error — comparison is non-chaining); silently dropping the
        // tail would return a wrong expression
        if (!p.atEnd)
          throw new ParseError(s"unexpected token at position ${p.currentPos}")
        n
      } catch {
        case e: LexError   => throw new ParseError(s"Failed to parse expression '$s': ${e.getMessage}")
        case e: ParseError => throw new ParseError(s"Failed to parse expression '$s': ${e.getMessage}")
        case e: IllegalArgumentException =>
          throw new ParseError(s"Failed to parse expression '$s': ${e.getMessage}")
        // LocalDate/LocalDateTime.parse reject lexically-valid but impossible
        // dates (2024-13-45) with DateTimeParseException, which is NOT an
        // IllegalArgumentException — wrap it too so Interp's ParseError
        // handling and the standard message prefix apply.
        case e: java.time.DateTimeException =>
          throw new ParseError(s"Failed to parse expression '$s': ${e.getMessage}")
      }
    node match {
      case BareWordNode(w) =>
        if (nested) warnBareWord(w)
        Lit(w)
      case n => n
    }
  }

  /** Find where a prefix expression of `s` ends: Some(offset-of-first-unlexable
    * -char) or None if the whole string is one expression. Throws on a token
    * stream the grammar rejects — see Interp for the error wording contract.
    */
  private[strform] def prefixStop(s: String): Option[Int] = {
    val p = new P(s, prefixMode = true)
    try {
      p.parseRoot()
      if (!p.atEnd)
        throw new ParseError(s"unexpected token at position ${p.currentPos} of $s")
      p.lexStop
    } catch {
      // Lexer-stop takes precedence over an incomplete parse, mirroring lark:
      // UnexpectedCharacters fires on the unlexable char even when the parse so
      // far is not a complete expression (e.g. field text "$a + " stopping at
      // `}`). The field splitter reports the boundary; the bad field text
      // fails later when re-parsed on its own.
      case e: ParseError if p.lexStop.isDefined => p.lexStop
      // the token stream ran out mid-expression with nothing unlexable: the
      // field is UNTERMINATED (reference: parse_interactive exhausts tokens
      // without UnexpectedCharacters) — not an invalid expression
      case e: ParseError if p.atEnd => None
      case e: java.time.DateTimeException =>
        if (p.lexStop.isDefined) p.lexStop
        else throw new ParseError(e.getMessage)
    }
  }

  private[strform] def warnBareWord(w: String): Unit =
    System.err.println(
      s"[dftly] Warning: Bare word '$w' interpreted as string literal in a subexpression. " +
        s"Did you mean the column '$$$w'?"
    )

  private final class P(input: String, prefixMode: Boolean) {
    private val lexer = new Lexer(input, prefixMode)
    private var tok: Tok = _
    private var tokOperandPos = true
    advanceAt(0, operandPos = true)

    def lexStop: Option[Int] = lexer.stopOffset
    def atEnd: Boolean = tok.isInstanceOf[TEnd]
    def currentPos: Int = tok.pos

    private def advanceAt(p: Int, operandPos: Boolean): Unit = {
      tok = lexer.lex(p, operandPos)
      tokOperandPos = operandPos
    }

    /** Re-lex the current token if operand-ness changed and it matters
      * (only `/` is ambiguous).
      */
    private def relex(operandPos: Boolean): Unit = {
      if (operandPos != tokOperandPos && !tok.isInstanceOf[TEnd] &&
        input.charAt(tok.pos) == '/') {
        lexer.stopOffset = None
        advanceAt(tok.pos, operandPos)
      }
    }

    private def advance(operandPos: Boolean): Unit = advanceAt(tok.end, operandPos)

    /** Consume `sym`. The closers `)` and `]` put the parser in infix
      * position — lexing the next token at operand position would read a
      * following `/` as a regex-literal start (`($a / $b) / $c` must divide;
      * lark's contextual lexer gets this from the parser state).
      */
    private def expectOp(sym: String): Unit = tok match {
      case TOp(`sym`, _, _) => advance(operandPos = sym != ")" && sym != "]")
      case other => throw new ParseError(s"expected '$sym' but found $other")
    }

    /** Use a node as an operand: nested bare words warn and become literals
      * (reference: parser.py:185-194 with _nested=True).
      */
    private def operand(n: Node): Node = n match {
      case BareWordNode(w) => warnBareWord(w); Lit(w)
      case x               => x
    }

    def parseRoot(): Node = parseConditional()

    // 1. conditional: THEN if WHEN [else OTHERWISE] — loosest. The THEN part
    // is the cast level ("1 as int if 2" = Conditional(Cast(1), 2)); WHEN
    // and OTHERWISE recurse at conditional level, so "1 if 2 as int" puts
    // the cast inside the when and "a if b if c" nests the when — the
    // shapes verified against the reference Lark grammar.
    private def parseConditional(): Node = {
      val t = parseGlobalCast()
      relex(operandPos = false)
      tok match {
        case TKw("if", _, _, _) =>
          advance(operandPos = true)
          val w = parseConditional()
          relex(operandPos = false)
          val o = tok match {
            case TKw("else", _, _, _) =>
              advance(operandPos = true)
              Some(operand(parseConditional()))
            case _ => None
          }
          Conditional(operand(w), operand(t), o)
        case _ => t
      }
    }

    // 2. cast level: `as type` / `as "%fmt"` / `@ TIME` — left-assoc over ??
    private def parseGlobalCast(): Node = {
      var left = parseCoalesce()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TKw("as", _, _, _) =>
            advance(operandPos = true)
            left = parseCastRhs(operand(left))
          case TOp("@", _, _) =>
            advance(operandPos = true)
            tok match {
              case TTime(raw, _, _) =>
                advance(operandPos = false)
                left = SetTime(operand(left), Lit(parseTime(raw)))
              case other =>
                throw new ParseError(s"`@` must be followed by a time literal; found $other")
            }
          case _ => continue = false
        }
      }
      left
    }

    // 3. `??` — left-assoc, desugars to nested coalesce (grammar.lark:107-108)
    private def parseCoalesce(): Node = {
      var left = parseBoolOr()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TOp("??", _, _) =>
            advance(operandPos = true)
            val right = parseBoolOr()
            left = Coalesce(Seq(operand(left), operand(right)))
          case _ => continue = false
        }
      }
      left
    }

    // 4. or / ||
    private def parseBoolOr(): Node = {
      var left = parseBoolAnd()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TKw("or", _, _, _) | TOp("||", _, _) =>
            advance(operandPos = true)
            left = Or(Seq(operand(left), operand(parseBoolAnd())))
          case _ => continue = false
        }
      }
      left
    }

    // 5. and / &&
    private def parseBoolAnd(): Node = {
      var left = parseComparison()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TKw("and", _, _, _) | TOp("&&", _, _) =>
            advance(operandPos = true)
            left = And(Seq(operand(left), operand(parseComparison())))
          case _ => continue = false
        }
      }
      left
    }

    // 6. comparison — single, non-chaining (grammar: additive OP additive)
    private def parseComparison(): Node = {
      val left = parseAdditive()
      relex(operandPos = false)
      tok match {
        case TOp(sym @ ("==" | "!=" | ">=" | "<=" | ">" | "<"), _, _) =>
          advance(operandPos = true)
          val right = parseAdditive()
          val (l, r) = (operand(left), operand(right))
          sym match {
            case "==" => Eq(l, r)
            case "!=" => Neq(l, r)
            case ">=" => Gte(l, r)
            case "<=" => Lte(l, r)
            case ">"  => Gt(l, r)
            case "<"  => Lt(l, r)
          }
        case _ => left
      }
    }

    // 7. + - (left-assoc; binary `add`/`subtract` nodes)
    private def parseAdditive(): Node = {
      var left = parseMultiplicative()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TOp("+", _, _) =>
            advance(operandPos = true)
            left = Add(Seq(operand(left), operand(parseMultiplicative())))
          case TOp("-", _, _) =>
            advance(operandPos = true)
            left = Subtract(operand(left), operand(parseMultiplicative()))
          case _ => continue = false
        }
      }
      left
    }

    // 8. * /
    private def parseMultiplicative(): Node = {
      var left = parseExp()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TOp("*", _, _) =>
            advance(operandPos = true)
            left = Multiply(Seq(operand(left), operand(parseExp())))
          case TOp("/", _, _) =>
            advance(operandPos = true)
            left = Divide(operand(left), operand(parseExp()))
          case _ => continue = false
        }
      }
      left
    }

    // 9. ** — right-assoc, tighter than * / (note `-2**2 = 4`: unary minus
    //    binds to the literal, grammar.lark:125-135)
    private def parseExp(): Node = {
      val base = parseLocalCast()
      relex(operandPos = false)
      tok match {
        case TOp("**", _, _) =>
          advance(operandPos = true)
          Power(operand(base), operand(parseExp()))
        case _ => base
      }
    }

    // 10. :: — local cast, left-assoc chaining
    private def parseLocalCast(): Node = {
      var left = parseUnary()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TOp("::", _, _) =>
            advance(operandPos = true)
            left = parseCastRhs(operand(left))
          case _ => continue = false
        }
      }
      left
    }

    /** Shared rhs of `::` and `as`: `[?]NAME` → cast or dt accessor,
      * `[?]STRING` → strptime (reference: str_form/parser.py:391-421).
      */
    private def parseCastRhs(src: Node): Node = {
      val nonstrict = tok match {
        case TOp("?", _, _) => advance(operandPos = true); true
        case _              => false
      }
      tok match {
        case TName(name, _, _) =>
          advance(operandPos = false)
          // CAST_NAME → accessor (reference: nodes/__init__.py:138-202)
          Builtins.byCastName.get(name) match {
            case Some(accessor) =>
              if (nonstrict)
                throw new ParseError(
                  s"Non-strict casting (`::?`) is not supported for accessor '$name'; " +
                    "`strict` applies only to dtype casts."
                )
              accessor.make(Seq(src))
            case None =>
              checked(Cast(src, Lit(name), if (nonstrict) Some(Lit(false)) else None))(
                ConstEval.castArgs)
          }
        case TStr(fmt, _, _) =>
          advance(operandPos = false)
          checked(Strptime(Lit(fmt), src, if (nonstrict) Some(Lit(false)) else None))(
            ConstEval.strptimeArgs)
        case other =>
          throw new ParseError(s"expected a type name or format string after cast; found $other")
      }
    }

    // 11. unary: not ! - (unary + is rejected, matching UNARY_OPS dispatch)
    private def parseUnary(): Node = {
      relex(operandPos = true)
      tok match {
        case TKw("not", _, _, _) | TOp("!", _, _) =>
          advance(operandPos = true)
          Not(operand(parseUnary()))
        case TOp("-", _, _) =>
          advance(operandPos = true)
          Negate(operand(parseUnary()))
        case TOp("+", _, _) =>
          throw new ParseError("Unsupported unary operator: +; allowed: [!, not, -]")
        case _ => parsePostfix()
      }
    }

    // 12. postfix slices: `[i:j]`, `[i:]`, `[:j]`, `[:]` (+ the TIME-token
    //     decomposition quirk, grammar.lark slice_spec comment)
    private def parsePostfix(): Node = {
      var left = parsePrimary()
      var continue = true
      while (continue) {
        relex(operandPos = false)
        tok match {
          case TOp("[", _, _) =>
            advance(operandPos = true)
            left = parseSliceInto(operand(left))
          case _ => continue = false
        }
      }
      left
    }

    private def parseSliceInto(src: Node): Node = {
      tok match {
        // `[10:30]` lexes as one TIME token — decompose (HH:MM = bounds;
        // HH:MM:SS = unsupported step; reference: parser.py:463-482)
        case TTime(raw, _, _) =>
          advance(operandPos = false)
          expectOp("]")
          val parts = raw.split(" ")(0).split(":")
          if (parts.length == 2)
            Substring(src, Lit(parts(0).toInt), Some(Lit(parts(1).toInt)))
          else
            throw new ParseError(
              s"Slice shorthand does not support step (got '$raw'); use the substring() function form."
            )
        case TOp(":", _, _) =>
          advance(operandPos = true)
          tok match {
            case TOp("]", _, _) => // [:]
              advance(operandPos = false)
              Substring(src, Lit(0), None)
            case _ => // [:j]
              val stop = operand(parseRootInner())
              expectOp("]")
              Substring(src, Lit(0), Some(stop))
          }
        case _ =>
          val start = operand(parseRootInner())
          tok match {
            case TOp(":", _, _) =>
              advance(operandPos = true)
              tok match {
                case TOp("]", _, _) => // [i:]
                  advance(operandPos = false)
                  Substring(src, start, None)
                case _ => // [i:j]
                  val stop = operand(parseRootInner())
                  expectOp("]")
                  Substring(src, start, Some(stop))
              }
            case _ =>
              throw new ParseError(
                "Single-index subscription is not supported; use substring(expr, i, i+1) " +
                  "or a slice `[i:j]`."
              )
          }
      }
    }

    /** Full-expression parse for parenthesized/function/slice contexts. */
    private def parseRootInner(): Node = parseConditional()

    // 13. primary
    private def parsePrimary(): Node = {
      relex(operandPos = true)
      tok match {
        case TKw("extract", _, _, _) =>
          advance(operandPos = true)
          val group = tok match {
            case TKw("group", _, _, _) =>
              advance(operandPos = true)
              val g = tok match {
                case TNum(i: Int, _, _) => advance(operandPos = false); i
                case other => throw new ParseError(s"expected an integer group index; found $other")
              }
              tok match {
                case TKw("of", _, _, _) => advance(operandPos = true)
                case other           => throw new ParseError(s"expected 'of' after group index; found $other")
              }
              Some(g)
            case _ => None
          }
          val pat = tok match {
            case TRegex(p, _, _) => advance(operandPos = false); p
            case other           => throw new ParseError(s"expected a /regex/ literal; found $other")
          }
          tok match {
            case TKw("from", _, _, _) => advance(operandPos = true)
            case other             => throw new ParseError(s"expected 'from'; found $other")
          }
          val src = operand(parseAdditive())
          RegexExtract(Lit(pat), src, group.map(Lit(_)))

        case TRegex(pat, _, _) =>
          advance(operandPos = false)
          tok match {
            case TKw("in", _, _, _) =>
              advance(operandPos = true)
              RegexMatch(Lit(pat), operand(parseAdditive()))
            case other =>
              throw new ParseError(s"expected 'in' after regex literal; found $other")
          }

        case TOp("$", _, _) =>
          advance(operandPos = true)
          tok match {
            case TName(n, _, _)     => advance(operandPos = false); Col(n)
            case TBacktick(n, _, _) => advance(operandPos = false); Col(n)
            case TKw(_, raw, _, _)  => advance(operandPos = false); Col(raw)
            case TBool(_, raw, _, _)   => advance(operandPos = false); Col(raw)
            case other => throw new ParseError(s"expected a column name after '$$'; found $other")
          }

        case TFStr(content, _, _) =>
          advance(operandPos = false)
          val (pattern, fieldTexts) = Interp.splitInterpolation(content)
          if (fieldTexts.isEmpty)
            throw new ParseError(
              "StringInterpolate requires more than one argument; an f-string needs at " +
                "least one `{...}` field."
            )
          val fields = fieldTexts.map(t => parseValue(t, nested = true))
          StringInterpolate(Lit(pattern), fields)

        // The reference's FORMAT_PFX terminal wins the tie against NAME, so
        // a bare `f` (its f-string quote not directly attached) is always a
        // parse error there — never a name, bare word, or function.
        case TName("f", _, _) =>
          throw new ParseError("expected a string literal directly after 'f'")

        case TName(name, _, _) =>
          advance(operandPos = false)
          tok match {
            case TOp("(", _, _) =>
              advance(operandPos = true)
              val args = Seq.newBuilder[Node]
              tok match {
                case TOp(")", _, _) => advance(operandPos = false)
                case _ =>
                  args += operand(parseRootInner())
                  var more = true
                  while (more) {
                    tok match {
                      case TOp(",", _, _) =>
                        advance(operandPos = true)
                        args += operand(parseRootInner())
                      case TOp(")", _, _) =>
                        advance(operandPos = false)
                        more = false
                      case other =>
                        throw new ParseError(s"expected ',' or ')' in argument list; found $other")
                    }
                  }
              }
              FnCalls.build(name, args.result())
            case _ => BareWordNode(name)
          }

        case TTime(raw, _, _)     => advance(operandPos = false); Lit(parseTime(raw))
        case TDate(raw, _, _)     => advance(operandPos = false); Lit(LocalDate.parse(raw))
        case TDateTime(raw, _, _) => advance(operandPos = false); Lit(parseDateTime(raw))
        case TNum(v, _, _)        => advance(operandPos = false); Lit(v)
        case TBool(b, _, _, _)       => advance(operandPos = false); Lit(b)
        case TStr(s, _, _)        => advance(operandPos = false); Lit(s)

        case TOp("(", _, _) =>
          advance(operandPos = true)
          val inner = parseRootInner() // bare words survive parens un-warned
          expectOp(")")
          inner

        // Keywords in OPERAND position lex as plain names in the reference
        // (contextual lexer: the keyword terminal isn't acceptable there),
        // so `sentinel: from` or `min($a, of)` yield bare words. `extract`
        // starts the extract-form and is handled above; `not` never reaches
        // primary (consumed by unary).
        case TKw(_, raw, _, _) =>
          advance(operandPos = false)
          BareWordNode(raw)

        case other => throw new ParseError(s"unexpected token: $other")
      }
    }
  }

  /** Parse `HH:MM[:SS][ am/pm]` with dateutil-equivalent validation
    * (reference: parser.py:452-461; "29:59" must fail).
    */
  private[strform] def parseTime(raw: String): LocalTime = {
    val m = """(?i)^([0-2]?\d):([0-5]\d)(?::([0-5]\d))?(?:\s*([AP])\.?M\.?)?$""".r
    raw.trim match {
      case m(h0, mi, s0, mer) =>
        var h = h0.toInt
        val sec = Option(s0).map(_.toInt).getOrElse(0)
        if (mer != null) {
          // dateutil accepts 0 <= h <= 12 with a meridiem: 0:30 AM = 00:30,
          // 0:30 PM = 12:30 (0 and 12 behave identically)
          if (h > 12)
            throw new ParseError(s"Failed to parse literal $raw")
          val pm = mer.equalsIgnoreCase("p")
          h = if (pm) { if (h % 12 == 0) 12 else h + 12 } else h % 12
        } else if (h > 23) {
          throw new ParseError(s"Failed to parse literal $raw")
        }
        LocalTime.of(h, mi.toInt, sec)
      case _ => throw new ParseError(s"Failed to parse literal $raw")
    }
  }

  private[strform] def parseDateTime(raw: String): LocalDateTime = {
    val datePart = raw.substring(0, 10)
    val timePart = raw.substring(11)
    LocalDateTime.of(LocalDate.parse(datePart), parseTime(timePart))
  }
}
