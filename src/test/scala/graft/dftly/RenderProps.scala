package graft.dftly

import java.time.{LocalDate, LocalDateTime, LocalTime}

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** Round-trip properties for the renderers: random ASTs must survive
  * `DictParser.parse(Render.toDict(n)) == n` (total) and
  * `Dftly.parse(Render.toExprString(n)) == n` (on the grammar-expressible
  * subset the generator draws from).
  */
object RenderProps extends Properties("Render") {

  private val genName: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(4, Gen.alphaNumChar)
  } yield (h :: t).mkString

  private val lit: Gen[Node] = Gen.oneOf(
    // non-negative only: the grammar parses `-x` as Negate(Lit(x)), so a
    // negative Lit has no string form (Render refuses; Negate covers it)
    Gen.choose(0, 999).map(i => Lit(i)),
    Gen.const(Lit(Int.MaxValue.toLong + 7L)),        // HAS a string form (lexes as Long)
    Gen.choose(0, 9999).map(i => Lit(i / 100.0)),
    Gen.oneOf(true, false).map(Lit(_)),
    Gen.oneOf("plain", "two words", "semi;colon").map(Lit(_)),
    Gen.const(Lit(LocalDate.of(2024, 3, 15))),
    Gen.const(Lit(LocalDateTime.of(2024, 3, 15, 10, 30, 0)))
  )

  private val col: Gen[Node] = Gen.oneOf(
    genName.map(Col(_)),
    genName.map(n => Col(n + " sp")) // needs backticks in string form
  )

  private def node(depth: Int): Gen[Node] =
    if (depth <= 0) Gen.oneOf(lit, col)
    else {
      val sub = Gen.lzy(node(depth - 1))
      Gen.oneOf(
        lit,
        col,
        sub.map(Hash(_)),
        sub.map(SignedHash(_)),
        sub.map(Not(_)),
        sub.map(Negate(_)),
        sub.map(LenChars(_)),
        Gen.zip(sub, sub).map { case (a, b) => Add(Seq(a, b)) },
        Gen.listOfN(3, sub).map(Multiply(_)),
        Gen.zip(sub, sub).map { case (a, b) => Subtract(a, b) },
        Gen.zip(sub, sub).map { case (a, b) => Divide(a, b) },
        Gen.zip(sub, sub).map { case (a, b) => Power(a, b) },
        Gen.listOfN(2, sub).map(Coalesce(_)),
        Gen.listOfN(3, sub).map(Mean(_)),
        Gen.listOfN(2, sub).map(Min(_)),
        Gen.listOfN(3, sub).map(Max(_)),
        Gen.zip(sub, sub).map { case (a, b) => And(Seq(a, b)) },
        Gen.zip(sub, sub).map { case (a, b) => Or(Seq(a, b)) },
        Gen.zip(sub, sub).map { case (a, b) => Gt(a, b) },
        Gen.zip(sub, sub).map { case (a, b) => Lte(a, b) },
        Gen.zip(sub, sub, Gen.option(sub)).map { case (w, t, o) => Conditional(w, t, o) },
        Gen.zip(sub, sub).map { case (s, by) => Split(s, by) },
        Gen.zip(sub, sub, Gen.option(sub)).map { case (s, a, b) => Substring(s, a, b) },
        sub.map(a => Cast(a, Lit("int64"), None)),
        sub.map(a => Cast(a, Lit("float"), Some(Lit(false)))),
        sub.map(a => Strptime(Lit("%Y-%m-%d"), a, None)),
        Gen.zip(sub, Gen.oneOf[Node => Node](
          DtYear(_), DtMonthOfYear(_), DtDayOfMonth(_), DtDayOfWeek(_), DtDayOfYear(_),
          DtHourOfDay(_), DtMinuteOfHour(_), DtSecondOfMinute(_), DtWeekOfYear(_),
          DtQuarterOfYear(_), DtTotalSeconds(_), DtTotalMilliseconds(_),
          DtTotalMicroseconds(_), DtTotalNanoseconds(_), DtTotalMinutes(_), DtTotalHours(_),
          DtTotalDays(_))).map { case (a, dt) => dt(a) },
        Gen.zip(sub, Gen.choose(0, 23), Gen.choose(0, 59)).map { case (d, h, m) =>
          SetTime(d, Lit(LocalTime.of(h, m, 0)))
        },
        Gen.zip(sub, sub).map { case (d, t) => SetTime(d, t) }, // renders as set_time(d, t)
        sub.map(s => RegexMatch(Lit("ab+c"), s))
      )
    }

  // every shape above IS string-renderable, so the round-trip property
  // stays STRICT (a renderable node that starts refusing is a regression);
  // the refusing shapes get targeted assertions below and extra toDict
  // coverage via `withRefusals`
  private val ast: Gen[Node] = Gen.choose(0, 3).flatMap(node)

  private val withRefusals: Gen[Node] = Gen.oneOf(
    ast,
    Gen.choose(0, 3).flatMap(d => Gen.listOfN(3, Gen.lzy(node(d))).map(And(_))),
    Gen.choose(0, 3).flatMap(d => Gen.listOfN(3, Gen.lzy(node(d))).map(Or(_))),
    Gen.choose(0L, 99L).map(l => Lit(l))
  )

  property("DictParser.parse(toDict(n)) == n") = Prop.forAll(withRefusals) { n =>
    DictParser.parse(Render.toDict(n)) == n
  }

  property("toExprString round-trips every renderable node exactly") =
    Prop.forAll(ast) { n =>
      val s = Render.toExprString(n)
      val back = Dftly.parse(s)
      (back == n) :| s"rendered: $s\nreparsed: $back"
    }

  property("unrenderable shapes refuse with RenderError (and only those)") =
    Prop.forAll(Gen.choose(0, 2).flatMap(d => Gen.listOfN(3, Gen.lzy(node(d))))) { subs =>
      def refuses(n: Node): Boolean =
        try { Render.toExprString(n); false }
        catch { case _: RenderError => true }
      refuses(And(subs)) && refuses(Or(subs)) &&
        refuses(Lit(5L)) && refuses(Lit(-3)) && refuses(Lit(Seq(1, 2)))
    }

  property("mapChildren keeps the node and replaces exactly its children") =
    Prop.forAll(withRefusals) { n =>
      val marked = n.mapChildren(_ => Col("m"))
      n.mapChildren(identity) == n && marked.getClass == n.getClass &&
        marked.children == n.children.map(_ => Col("m")) && marked.size == n.children.size + 1
    }

  property("toDict handles array literals and interpolation (no string form)") =
    Prop.forAll(Gen.listOf(Gen.choose(0, 9))) { xs =>
      val n = Add(Seq(Lit(xs), Lit(1)))
      DictParser.parse(Render.toDict(n)) == n
    }
}
