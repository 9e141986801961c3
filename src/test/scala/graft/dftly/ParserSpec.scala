package graft.dftly

import java.time.{LocalDate, LocalTime}

import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** String-form grammar → AST golden tests, ported from the reference's
  * doctests (str_form/parser.py, grammar.lark comments, README tables), plus
  * three-form equivalence: the string form and the dict/YAML base form must
  * produce the identical tree (reference: README.md:554-586).
  */
class ParserSpec extends AnyFunSuite {

  private def p(s: String): Node = Dftly.parse(s)

  test("precedence: + binds looser than *") {
    assert(p("$col1 + $col2 * 3") ==
      Add(Seq(Col("col1"), Multiply(Seq(Col("col2"), Lit(3))))))
  }

  test("power is right-associative and tighter than *") {
    assert(p("2**3**2") == Power(Lit(2), Power(Lit(3), Lit(2))))
    assert(p("2*3**2") == Multiply(Seq(Lit(2), Power(Lit(3), Lit(2)))))
  }

  test("unary minus binds tighter than ** (-2**2 = (-2)**2)") {
    assert(p("-2**2") == Power(Negate(Lit(2)), Lit(2)))
  }

  test("comparison / boolean ladder") {
    assert(p("$a == $b and $c or not $d") ==
      Or(Seq(And(Seq(Eq(Col("a"), Col("b")), Col("c"))), Not(Col("d")))))
    assert(p("$a >= 3 && $b < 4") ==
      And(Seq(Gte(Col("a"), Lit(3)), Lt(Col("b"), Lit(4)))))
  }

  test("?? desugars to left-nested coalesce") {
    assert(p("$a ?? $b ?? 'UNK'") ==
      Coalesce(Seq(Coalesce(Seq(Col("a"), Col("b"))), Lit("UNK"))))
  }

  test("conditional: THEN if WHEN else OTHERWISE") {
    assert(p("$x if $y else $z") == Conditional(Col("y"), Col("x"), Some(Col("z"))))
    assert(p("$x if $y") == Conditional(Col("y"), Col("x"), None))
  }

  test("cast :: forms") {
    assert(p("$dose::float64") == Cast(Col("dose"), Lit("float64"), None))
    assert(p("$dose::?float64") == Cast(Col("dose"), Lit("float64"), Some(Lit(false))))
    assert(p("$x::int64::str") ==
      Cast(Cast(Col("x"), Lit("int64"), None), Lit("str"), None))
  }

  test("as is the loosest cast: $a + $b as str casts the sum") {
    assert(p("$a + $b as str") ==
      Cast(Add(Seq(Col("a"), Col("b"))), Lit("str"), None))
    // while :: binds tighter than +
    assert(p("$a + $b::str") ==
      Add(Seq(Col("a"), Cast(Col("b"), Lit("str"), None))))
  }

  test("dt accessors via cast names; ::? on an accessor is rejected") {
    assert(p("$ts::year_of_date") == DtYear(Col("ts")))
    assert(p("$ts::day_of_week") == DtDayOfWeek(Col("ts")))
    assert(p("$iv::total_seconds") == DtTotalSeconds(Col("iv")))
    val e = intercept[Exception](p("$ts::?hour_of_day"))
    assert(e.getMessage.contains("Non-strict casting"))
  }

  test("implicit unit casts parse; ::?minutes rejected") {
    assert(p("$n::minutes") == Cast(Col("n"), Lit("minutes"), None))
    assert(p("2010::year") == Cast(Lit(2010), Lit("year"), None))
    val e = intercept[Exception](p("$n::?minutes"))
    assert(e.getMessage.contains("Non-strict casting"))
  }

  test("strptime via :: \"fmt\" and as ?\"fmt\"") {
    assert(p("""$s :: "%Y-%m-%d"""") == Strptime(Lit("%Y-%m-%d"), Col("s"), None))
    assert(p("""$s as ?"%Y-%m-%d"""") ==
      Strptime(Lit("%Y-%m-%d"), Col("s"), Some(Lit(false))))
  }

  test("slices lower to substring (incl. the TIME-token [10:30] quirk)") {
    assert(p("$code[0:3]") == Substring(Col("code"), Lit(0), Some(Lit(3))))
    assert(p("$code[2:]") == Substring(Col("code"), Lit(2), None))
    assert(p("$code[:3]") == Substring(Col("code"), Lit(0), Some(Lit(3))))
    assert(p("$code[:]") == Substring(Col("code"), Lit(0), None))
    assert(p("$code[-4:-1]") ==
      Substring(Col("code"), Negate(Lit(4)), Some(Negate(Lit(1)))))
    assert(p("$code[10:30]") == Substring(Col("code"), Lit(10), Some(Lit(30))))
  }

  test("regex forms") {
    assert(p("""extract /\d+/ from $s""") == RegexExtract(Lit("""\d+"""), Col("s"), None))
    assert(p("""extract group 1 of /(\d+)-x/ from $s""") ==
      RegexExtract(Lit("""(\d+)-x"""), Col("s"), Some(Lit(1))))
    assert(p("""/\d+/ in $s""") == RegexMatch(Lit("""\d+"""), Col("s")))
  }

  test("regex vs division is contextual") {
    assert(p("$a / $b") == Divide(Col("a"), Col("b")))
    assert(p("($a / $b)") == Divide(Col("a"), Col("b")))
  }

  test("f-string interpolation") {
    assert(p("""f"hello {$name}"""") ==
      StringInterpolate(Lit("hello {}"), Seq(Col("name"))))
    assert(p("""f"{{lit}} {$a} and {$b}"""") ==
      StringInterpolate(Lit("{lit} {} and {}"), Seq(Col("a"), Col("b"))))
    // fields are full dftly expressions, not str.format specs
    assert(p("""f"{$dose::?float64}"""") ==
      StringInterpolate(Lit("{}"), Seq(Cast(Col("dose"), Lit("float64"), Some(Lit(false))))))
  }

  test("set_time via @") {
    assert(p("$d @ 11:30") == SetTime(Col("d"), Lit(LocalTime.of(11, 30))))
    assert(p("$d @ 1:30 p.m.") == SetTime(Col("d"), Lit(LocalTime.of(13, 30))))
  }

  test("date / datetime / time literals") {
    assert(p("2021-03-04") == Lit(LocalDate.of(2021, 3, 4)))
    assert(p("2021-03-04 05:06:07") ==
      Lit(LocalDate.of(2021, 3, 4).atTime(5, 6, 7)))
    assert(p("11:30 p.m.") == Lit(LocalTime.of(23, 30)))
  }

  test("bad time literal fails (dateutil-parity: 29:59)") {
    intercept[Exception](p("$d @ 29:59"))
  }

  test("bare word at top level is a string literal") {
    assert(p("MEDS_BIRTH") == Lit("MEDS_BIRTH"))
  }

  test("quoted column names") {
    assert(p("$`my col`") == Col("my col"))
  }

  test("function-call forms (incl. fixed 1-arg quirk #109)") {
    assert(p("negate($a)") == Negate(Col("a")))
    assert(p("add($a, $b, 3)") == Add(Seq(Col("a"), Col("b"), Lit(3))))
    assert(p("coalesce($a, $b)") == Coalesce(Seq(Col("a"), Col("b"))))
    assert(p("conditional($x, $y, $z)") == Conditional(Col("y"), Col("x"), Some(Col("z"))))
    assert(p("substring($s, 1, 3)") == Substring(Col("s"), Lit(1), Some(Lit(3))))
    assert(p("strptime($s, '%Y-%m-%d')") == Strptime(Lit("%Y-%m-%d"), Col("s"), None))
    assert(p("split($s, ',')") == Split(Col("s"), Lit(",")))
    assert(p("dt_year($ts)") == DtYear(Col("ts")))
    intercept[Exception](p("frobnicate($a)"))
  }

  test("unary + is rejected") {
    val e = intercept[Exception](p("+$a"))
    assert(e.getMessage.contains("Unsupported unary operator"))
  }

  test("single-index subscription is rejected") {
    intercept[Exception](p("$code[1]"))
  }

  test("three-form equivalence: string form == dict short form == resolved form") {
    val fromStr = p("$col1 + $col2 * 3")
    val fromDict = Dftly.parse(
      Map("add" -> Seq(
        Map("column" -> "col1"),
        Map("multiply" -> Seq(Map("column" -> "col2"), Map("literal" -> 3)))
      ))
    )
    val fromResolved = Dftly.parse(
      Map("expression" -> Map(
        "type" -> "add",
        "arguments" -> Seq(
          Map("column" -> "col1"),
          Map("expression" -> Map(
            "type" -> "multiply",
            "arguments" -> Seq(Map("column" -> "col2"), Map("literal" -> 3))
          ))
        )
      ))
    )
    assert(fromStr == fromDict)
    assert(fromDict == fromResolved)
  }

  test("dict kwargs forms") {
    assert(
      Dftly.parse(Map("conditional" ->
        Map("when" -> "$a > 1", "then" -> Map("literal" -> "hi")))) ==
        Conditional(Gt(Col("a"), Lit(1)), Lit("hi"), None)
    )
    assert(
      Dftly.parse(Map("cast" -> Map("source" -> "$x", "type" -> "int", "strict" -> false))) ==
        Cast(Col("x"), Lit("int"), Some(Lit(false)))
    )
  }

  test("yaml front-end preserves order and parses each expression") {
    val yaml =
      """revenue: $price * (1 - $discount)
        |flag: "HIGH if $price > 100 else LOW"
        |""".stripMargin
    val exprs = Yaml.loadExprMap(yaml)
    assert(exprs.map(_._1) == Seq("revenue", "flag"))
    assert(Dftly.parse(exprs.head._2) ==
      Multiply(Seq(Col("price"), Subtract(Lit(1), Col("discount")))))
    assert(Dftly.parse(exprs(1)._2) ==
      Conditional(Gt(Col("price"), Lit(100)), Lit("HIGH"), Some(Lit("LOW"))))
  }

  test("as chains left-assoc like ::, and the two spellings mix") {
    assert(p("$col as int as year") ==
      Cast(Cast(Col("col"), Lit("int"), None), Lit("year"), None))
    assert(p("$col::int as year") ==
      Cast(Cast(Col("col"), Lit("int"), None), Lit("year"), None))
    // :: binds tighter than arithmetic, as binds looser
    assert(p("$a::int + 1") == Add(Seq(Cast(Col("a"), Lit("int"), None), Lit(1))))
    assert(p("$a + 1 as int") == Cast(Add(Seq(Col("a"), Lit(1))), Lit("int"), None))
  }

  test("variadic nodes accept a single argument") {
    assert(p("coalesce($a)") == Coalesce(Seq(Col("a"))))
    assert(p("max($a)") == Max(Seq(Col("a"))))
    assert(p("add($a)") == Add(Seq(Col("a"))))
  }

  test("unsupported cast type errors at parse time") {
    val e = intercept[Exception](p("$x::notatype"))
    assert(e.getMessage.contains("Unsupported type"))
  }

  test("referencedColumns") {
    assert(Dftly.referencedColumns("$a + $b * coalesce($c, 1)") == Set("a", "b", "c"))
  }

  test("impossible date literals raise ParseError with the standard prefix") {
    val e = intercept[Exception](p("$d > 2024-13-45"))
    assert(e.isInstanceOf[IllegalArgumentException], e.getClass.toString)
    assert(e.getMessage.startsWith("Failed to parse expression"), e.getMessage)
    val e2 = intercept[Exception](p("$d > 2024-02-30 10:00:00"))
    assert(e2.getMessage.startsWith("Failed to parse expression"), e2.getMessage)
  }


  // --- round-2 grammar parity fixes (verified against the reference Lark
  // grammar by the review pass) ---------------------------------------

  test("trailing tokens are rejected, not silently dropped") {
    for (bad <- Seq("1 < 2 < 3", "1 2", "$a ? 1 : 2", "$a extra"))
      assert(intercept[Exception](p(bad)).getMessage
        .startsWith("Failed to parse expression"), bad)
  }

  test("conditional vs cast precedence matches the reference") {
    // cast binds the THEN part: '1 as int if 2'
    assert(p("1 as int if 2") ==
      Conditional(Lit(2), Cast(Lit(1), Lit("int"), None), None))
    // when extends to cast level: '1 if 2 as int'
    assert(p("1 if 2 as int") ==
      Conditional(Cast(Lit(2), Lit("int"), None), Lit(1), None))
    // else extends to cast level
    assert(p("1 if 2 else 3 as int") ==
      Conditional(Lit(2), Lit(1), Some(Cast(Lit(3), Lit("int"), None))))
    // right-recursive when
    assert(p("$a if $b if $c") ==
      Conditional(Conditional(Col("c"), Col("b"), None), Col("a"), None))
    // parens still let a cast wrap a whole conditional
    assert(p("(1 if 2) as int") ==
      Cast(Conditional(Lit(2), Lit(1), None), Lit("int"), None))
  }

  test("keywords in operand position are bare words, case preserved") {
    assert(p("from") == Lit("from"))
    assert(p("From") == Lit("From"))
    assert(p("group") == Lit("group"))
    assert(p("and") == Lit("and"))
    // nested: becomes a literal (with the usual bare-word warning)
    assert(p("min($a, of)") == Min(Seq(Col("a"), Lit("of"))))
  }

  test("column names that look like keywords/booleans keep their spelling") {
    assert(p("$AND") == Col("AND"))
    assert(p("$True") == Col("True"))
    assert(p("$From") == Col("From"))
  }

  test("hour 0 with a meridiem parses like dateutil") {
    assert(p("$d @ 0:30") ==
      SetTime(Col("d"), Lit(java.time.LocalTime.of(0, 30))))
    assert(p("$d @ 0:30 PM") ==
      SetTime(Col("d"), Lit(java.time.LocalTime.of(12, 30))))
    assert(p("$d @ 0:30 AM") ==
      SetTime(Col("d"), Lit(java.time.LocalTime.of(0, 30))))
  }

  test("bare 'f' is rejected (FORMAT_PFX wins over NAME in the reference)") {
    assert(intercept[Exception](p("f")).getMessage.contains("after 'f'"))
    assert(intercept[Exception](p("min($a, f)")).getMessage.contains("after 'f'"))
  }

  test("backtick names cannot span newlines") {
    intercept[Exception](p("$`a\nb`"))
  }

  test("past-Long integers parse as BigInt and fail only at compile") {
    assert(p("99999999999999999999") == Lit(BigInt("99999999999999999999")))
    val e = intercept[IllegalArgumentException](
      Dftly.compile(p("99999999999999999999"), None))
    assert(e.getMessage.contains("overflows"))
  }

  test("unterminated f-string fields report the unterminated contract") {
    val e = intercept[Exception](p("f\"{$a +\""))
    assert(e.getMessage.contains("Unterminated interpolation field"), e.getMessage)
  }


  test("literal short form takes the whole payload as ONE value") {
    assert(Dftly.parse(Map("literal" -> Seq(1, 2, 3))) == Lit(Seq(1, 2, 3)))
    assert(Dftly.parse(Map("literal" -> null)) == Lit(null))
    assert(Dftly.parse(Map("literal" -> "s")) == Lit("s"))
    // round-trip via the renderer agrees
    assert(DictParser.parse(Render.toDict(Lit(Seq(1, 2)))) == Lit(Seq(1, 2)))
  }

  test("const-eval: coalesce with a non-constant arg is NOT a constant") {
    // {coalesce: [$t, 'int']} must not silently become 'int'
    val e = intercept[Exception](Dftly.parse(
      Map("cast" -> Map("source" -> "$y",
        "type" -> Map("coalesce" -> Seq("$t", Map("literal" -> "int")))))))
    assert(e.getMessage.contains("string literal"), e.getMessage)
    // but a genuinely constant coalesce works
    val ok = Dftly.parse(Map("cast" -> Map("source" -> "$y",
      "type" -> Map("coalesce" -> Seq(Map("literal" -> null), Map("literal" -> "int"))))))
    assert(ok.isInstanceOf[Cast])
  }

  test("const-eval: integer arithmetic stays integral for group indexes") {
    val n = Dftly.parse(Map("regex_extract" -> Map(
      "pattern" -> Map("literal" -> "(a)(b)"), "source" -> "$s",
      "group_index" -> Map("add" -> Seq(1, 1)))))
    assert(n.isInstanceOf[RegexExtract])
    // subtract/min/max also const-evaluate now
    assert(ConstEval.evalInt(Dftly.parse(Map("subtract" -> Seq(3, 1)))).contains(2))
    assert(ConstEval.evalInt(Dftly.parse(Map("min" -> Seq(5, 2)))).contains(2))
  }

  test("const-eval: a folded `and` is a cast's strict flag") {
    val n = Dftly.parse(Map("cast" -> Map("source" -> "$y", "type" -> "int",
      "strict" -> Map("and" -> Seq(true, true)))))
    assert(ConstEval.castArgs(n.asInstanceOf[Cast]) == ("int", true))
  }

  test("const-eval: a string_interpolate is a regex_extract pattern") {
    val n = Dftly.parse(Map("regex_extract" -> Map(
      "pattern" -> Map("string_interpolate" -> Seq(
        Map("literal" -> "{}(\\d+)"), Map("literal" -> "a"))),
      "source" -> "$s", "group_index" -> 1)))
    assert(ConstEval.regexExtractArgs(n.asInstanceOf[RegexExtract]) == ("a(\\d+)", 1))
  }

  test("const-eval: a substring of a literal is a cast type") {
    val n = Dftly.parse(Map("cast" -> Map("source" -> "$y",
      "type" -> Map("substring" -> Map(
        "source" -> Map("literal" -> "int64"), "start" -> 0, "stop" -> 3)))))
    assert(ColumnBridge.convertedExpression(Dftly.compile(n)).dataType == IntegerType)
  }

  test("const-eval: a coalesce that reads a column is not a cast type") {
    val e = intercept[IllegalArgumentException](Dftly.parse(Map("cast" -> Map("source" -> "$y",
      "type" -> Map("coalesce" -> Seq(Map("literal" -> "int"), "$x"))))))
    assert(e.getMessage.contains("string literal"), e.getMessage)
  }

  test("strptime's strict flag is checked at parse time") {
    val e = intercept[IllegalArgumentException](Dftly.parse(Map("strptime" -> Map(
      "format" -> Map("literal" -> "%Y-%m-%d"), "source" -> "$s", "strict" -> "$x"))))
    assert(e.getMessage.contains("strict argument must be a boolean"), e.getMessage)
  }

  test("const-eval: literal arguments parse and compile without Catalyst rules") {
    def ruleRuns = RuleExecutor.getCurrentMetrics().numRuns
    // The counter is JVM-wide, so a query another suite left running can
    // move it; a Catalyst fold moves it on every attempt.
    assert((1 to 3).exists { _ =>
      val before = ruleRuns
      for (s <- Seq("$s ::? float64", "$t ::? \"%Y-%m-%d\"", "extract group 2 of /(a)(b)/ from $s"))
        Dftly.compile(p(s))
      ruleRuns == before
    })
  }

  test("parse-time validation: bad interpolate/extract args fail at parse") {
    val e1 = intercept[Exception](Dftly.parse(
      Map("string_interpolate" -> Seq(Map("column" -> "x"), Map("column" -> "y")))))
    assert(e1.getMessage.contains("pattern argument"), e1.getMessage)
    val e2 = intercept[Exception](Dftly.parse(
      Map("regex_extract" -> Map("pattern" -> "$p", "source" -> "$s"))))
    assert(e2.getMessage.contains("pattern"), e2.getMessage)
  }

  // --- the built-in node table, pinned from outside it ------------------

  test("the default registry holds the 50 reference nodes in reference order") {
    assert(DftlyParser.defaultSpecs.map(_._1) == Seq(
      "literal", "column",
      "hash", "signed_hash", "not", "negate", "len_chars",
      "and", "or", "add", "multiply", "mean", "min", "max", "coalesce",
      "subtract", "divide", "power", "set_time",
      "greater_than", "less_than", "equal", "not_equal",
      "greater_than_or_equal", "less_than_or_equal",
      "conditional", "string_interpolate",
      "regex_extract", "regex_match", "strptime", "substring", "split", "cast",
      "dt_year", "dt_month_of_year", "dt_day_of_month", "dt_day_of_week",
      "dt_day_of_year", "dt_hour_of_day", "dt_minute_of_hour",
      "dt_second_of_minute", "dt_week_of_year", "dt_quarter_of_year",
      "dt_total_seconds", "dt_total_milliseconds", "dt_total_microseconds",
      "dt_total_nanoseconds", "dt_total_minutes", "dt_total_hours",
      "dt_total_days"))
  }

  private val (a, b, c) = (Col("a"), Col("b"), Col("c"))

  /** Every positional node, built over `$a`, `$b`, `$c` as its arity allows. */
  private val positionalNodes: Seq[(String, Node)] = Seq(
    "hash" -> Hash(a), "signed_hash" -> SignedHash(a), "not" -> Not(a),
    "negate" -> Negate(a), "len_chars" -> LenChars(a),
    "and" -> And(Seq(a, b, c)), "or" -> Or(Seq(a, b, c)), "add" -> Add(Seq(a, b, c)),
    "multiply" -> Multiply(Seq(a, b, c)), "mean" -> Mean(Seq(a, b, c)),
    "min" -> Min(Seq(a, b, c)), "max" -> Max(Seq(a, b, c)), "coalesce" -> Coalesce(Seq(a)),
    "subtract" -> Subtract(a, b), "divide" -> Divide(a, b), "power" -> Power(a, b),
    "set_time" -> SetTime(a, b), "greater_than" -> Gt(a, b), "less_than" -> Lt(a, b),
    "equal" -> Eq(a, b), "not_equal" -> Neq(a, b), "greater_than_or_equal" -> Gte(a, b),
    "less_than_or_equal" -> Lte(a, b),
    "dt_year" -> DtYear(a), "dt_month_of_year" -> DtMonthOfYear(a),
    "dt_day_of_month" -> DtDayOfMonth(a), "dt_day_of_week" -> DtDayOfWeek(a),
    "dt_day_of_year" -> DtDayOfYear(a), "dt_hour_of_day" -> DtHourOfDay(a),
    "dt_minute_of_hour" -> DtMinuteOfHour(a), "dt_second_of_minute" -> DtSecondOfMinute(a),
    "dt_week_of_year" -> DtWeekOfYear(a), "dt_quarter_of_year" -> DtQuarterOfYear(a),
    "dt_total_seconds" -> DtTotalSeconds(a), "dt_total_milliseconds" -> DtTotalMilliseconds(a),
    "dt_total_microseconds" -> DtTotalMicroseconds(a),
    "dt_total_nanoseconds" -> DtTotalNanoseconds(a), "dt_total_minutes" -> DtTotalMinutes(a),
    "dt_total_hours" -> DtTotalHours(a), "dt_total_days" -> DtTotalDays(a))

  test("each positional key builds its node in short, resolved and function-call form") {
    assert(positionalNodes.size == 40)
    for ((key, node) <- positionalNodes) {
      val args = node.children.map { case Col(n) => "$" + n; case other => other }
      assert(Dftly.parse(Map(key -> args)) == node, key)
      assert(Dftly.parse(Map("expression" -> Map("type" -> key, "arguments" -> args))) == node, key)
      // `and`/`or` are grammar keywords, so they have no function-call form
      if (key != "and" && key != "or")
        assert(p(args.mkString(s"$key(", ", ", ")")) == node, key)
    }
  }

  test("all 17 :: accessor names parse to their nodes") {
    val accessors = Seq(
      "year_of_date" -> DtYear(a), "month_of_year" -> DtMonthOfYear(a),
      "day_of_month" -> DtDayOfMonth(a), "day_of_week" -> DtDayOfWeek(a),
      "day_of_year" -> DtDayOfYear(a), "hour_of_day" -> DtHourOfDay(a),
      "minute_of_hour" -> DtMinuteOfHour(a), "second_of_minute" -> DtSecondOfMinute(a),
      "week_of_year" -> DtWeekOfYear(a), "quarter_of_year" -> DtQuarterOfYear(a),
      "total_seconds" -> DtTotalSeconds(a), "total_milliseconds" -> DtTotalMilliseconds(a),
      "total_microseconds" -> DtTotalMicroseconds(a),
      "total_nanoseconds" -> DtTotalNanoseconds(a), "total_minutes" -> DtTotalMinutes(a),
      "total_hours" -> DtTotalHours(a), "total_days" -> DtTotalDays(a))
    for ((name, node) <- accessors) {
      assert(p(s"$$a::$name") == node, name)
      assert(p(s"$$a as $name") == node, name)
    }
  }

  test("a wrong argument count names the arity the node needs") {
    def cause(v: Any): String = intercept[IllegalArgumentException](Dftly.parse(v)).getMessage
    assert(cause(Map("hash" -> Seq("$a", "$b")))
      .contains("- hash: hash requires exactly one positional argument; got 2"))
    assert(cause(Map("dt_total_days" -> Nil))
      .contains("- dt_total_days: dt_total_days requires exactly one positional argument; got 0"))
    assert(cause(Map("power" -> Seq("$a")))
      .contains("- power: power requires exactly two positional arguments; got 1"))
    assert(cause(Map("expression" -> Map("type" -> "set_time", "arguments" -> Seq(1, 2, 3))))
      .contains("- set_time: set_time requires exactly two positional arguments; got 3"))
    assert(cause(Map("coalesce" -> Nil))
      .contains("- coalesce: coalesce requires at least one argument"))
    assert(cause(Map("negate" -> Map("x" -> 1)))
      .contains("- negate: negate does not accept keyword arguments"))
    assert(intercept[Exception](p("subtract($a)")).getMessage
      .contains("subtract requires exactly two positional arguments; got 1"))
  }

  test("unicode whitespace does not silently separate tokens") {
    intercept[Exception](p("1\u3000+ 2")) // ideographic space: reference rejects
    assert(p("1 + 2") == Add(Seq(Lit(1), Lit(2))))
  }

}
