package graft.dftly

import java.time.LocalDateTime

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{to_date, to_timestamp_ntz}
import org.apache.spark.sql.types._

/** End-to-end evaluation tests: parse (any form) → compile → run on a local
  * SparkSession → compare values. Ported from the reference's node doctests
  * (README tables; the doctests in the reference nodes package).
  */
class CompilerSpec extends SparkTestBase {

  import spark.implicits._

  private def eval1(expr: String, df: org.apache.spark.sql.DataFrame): Any = {
    val c = Compiler.compile(Dftly.parse(expr))
    df.select(c.as("r")).head.get(0)
  }

  private def evalLit(expr: String): Any = {
    val c = Dftly.expr(expr)
    spark.range(1).select(c.as("r")).head.get(0)
  }

  test("arithmetic basics") {
    assert(evalLit("1 + 2 * 3") == 7)
    assert(evalLit("2**3**2") == 512.0)
    assert(evalLit("-2**2") == 4.0)
    assert(evalLit("7 / 2") == 3.5) // true division
    assert(evalLit("1 + 2 - 3 * 4 / 8") == 1.5)
  }

  test("division by zero follows Polars/IEEE: inf, -inf, NaN; null propagates") {
    assert(evalLit("1 / 0") == Double.PositiveInfinity)
    assert(evalLit("-1 / 0") == Double.NegativeInfinity)
    assert(evalLit("0 / 0").asInstanceOf[Double].isNaN)
    val df = Seq((None: Option[Double], Some(0.0))).toDF("a", "b")
    assert(eval1("$a / $b", df) == null)
    assert(eval1("$b / $a", df) == null)
  }

  test("string + concatenates when operands are strings (schema-directed)") {
    val df = Seq(("ICD", "250.2")).toDF("prefix", "code")
    assert(eval1("$prefix + '//' + $code", df) == "ICD//250.2")
  }

  test("horizontal mean/min/max skip nulls") {
    val df = Seq((Some(1.0), None: Option[Double], Some(3.0))).toDF("a", "b", "c")
    assert(eval1("mean($a, $b, $c)", df) == 2.0)
    assert(eval1("min($a, $b, $c)", df) == 1.0)
    assert(eval1("max($a, $b, $c)", df) == 3.0)
    val allNull = Seq((None: Option[Double], None: Option[Double])).toDF("a", "b")
    assert(eval1("mean($a, $b)", allNull) == null)
  }

  test("coalesce and ??") {
    val df = Seq((None: Option[String], Some("x"))).toDF("a", "b")
    assert(eval1("$a ?? $b ?? 'UNK'", df) == "x")
    assert(eval1("$a ?? 'UNK'", df) == "UNK")
  }

  test("conditional without otherwise yields null") {
    val df = Seq(50, 150).toDF("price")
    val c = Compiler.compile(Dftly.parse("HIGH if $price > 100"))
    assert(df.select(c).collect().map(_.get(0)).toSeq == Seq(null, "HIGH"))
  }

  test("comparisons are null-propagating") {
    val df = Seq((Some(1), None: Option[Int])).toDF("a", "b")
    assert(eval1("$a == $b", df) == null)
    assert(eval1("$a < $b", df) == null)
  }

  test("hash: null-in null-out, deterministic, signed == unsigned bits") {
    val df = Seq((Some("abc"), None: Option[String])).toDF("s", "n")
    val h1 = eval1("hash($s)", df)
    val h2 = eval1("hash($s)", df)
    assert(h1 == h2 && h1 != null)
    assert(eval1("hash($n)", df) == null)
    assert(eval1("signed_hash($n)", df) == null)
  }

  test("not / negate / and / or") {
    val df = Seq((true, false, 5)).toDF("t", "f", "x")
    assert(eval1("not $t", df) == false)
    assert(eval1("!$f", df) == true)
    assert(eval1("$t and $f", df) == false)
    assert(eval1("$t or $f", df) == true)
    assert(eval1("-$x", df) == -5)
  }

  test("cast: strict raises, non-strict nulls") {
    val df = Seq("12", "abc").toDF("s")
    val strictC = Compiler.compile(Dftly.parse("$s::int"))
    intercept[Exception](df.select(strictC).collect())
    val lax = Compiler.compile(Dftly.parse("$s::?int"))
    assert(df.select(lax).collect().map(_.get(0)).toSeq == Seq(12, null))
  }

  test("cast: float is Float32 (alias table is the spec)") {
    val df = Seq(1).toDF("x")
    val c = Compiler.compile(Dftly.parse("$x::float"))
    assert(df.select(c).schema.head.dataType == FloatType)
  }

  test("implicit unit constructors: minutes, and duration totals") {
    assert(evalLit("3::minutes::total_seconds") == 180L)
    assert(evalLit("90::seconds::total_minutes") == 1L) // truncating
    assert(evalLit("2::hours::total_milliseconds") == 7200000L)
    assert(evalLit("1::weeks::total_days") == 7L)
    // months/years use the reference's approximations verbatim
    assert(evalLit("1::months::total_seconds") == 2629800L)
    assert(evalLit("1::years::total_seconds") == 31557600L)
    assert(evalLit("2010::year") == java.sql.Date.valueOf("2010-01-01"))
  }

  test("negative duration totals truncate toward zero") {
    val df = Seq(("2021-01-01 00:00:00", "2021-01-01 00:01:30")).toDF("a", "b")
    val expr = "($a::datetime - $b::datetime)::total_minutes"
    assert(eval1(expr, df) == -1L)
  }

  test("datetime subtraction yields a duration; age formula works") {
    val df = Seq(("2021-03-04 10:00:00", "2021-03-03 10:00:00")).toDF("t1", "t2")
    assert(eval1("($t1::datetime - $t2::datetime)::total_hours", df) == 24L)
  }

  test("dt accessors") {
    // 2021-03-04 is a Thursday (day_of_week=4, 1=Monday)
    val df = Seq("2021-03-04 05:06:07").toDF("s")
    val e = "$s::datetime"
    assert(eval1(s"($e)::year_of_date", df) == 2021)
    assert(eval1(s"($e)::month_of_year", df) == 3)
    assert(eval1(s"($e)::day_of_month", df) == 4)
    assert(eval1(s"($e)::day_of_week", df) == 4)
    assert(eval1(s"($e)::day_of_year", df) == 63)
    assert(eval1(s"($e)::hour_of_day", df) == 5)
    assert(eval1(s"($e)::minute_of_hour", df) == 6)
    assert(eval1(s"($e)::second_of_minute", df) == 7)
    assert(eval1(s"($e)::week_of_year", df) == 9)
    assert(eval1(s"($e)::quarter_of_year", df) == 1)
    assert(eval1("dt_day_of_week($s::datetime)", df) == 4)
  }

  test("day_of_week: Sunday is 7") {
    val df = Seq("2021-03-07").toDF("s")
    assert(eval1("($s::date)::day_of_week", df) == 7)
  }

  test("set_time") {
    val df = Seq("2021-03-04").toDF("s")
    assert(eval1("($s::date) @ 11:30", df) ==
      LocalDateTime.of(2021, 3, 4, 11, 30, 0))
  }

  test("strptime: format classification → date / datetime; strict vs lax") {
    val df = Seq("2021-03-04").toDF("s")
    assert(eval1("""$s::"%Y-%m-%d"""", df) == java.sql.Date.valueOf("2021-03-04"))
    val df2 = Seq("03/04/2021 05:06").toDF("s")
    assert(eval1("""$s::"%m/%d/%Y %H:%M"""", df2) ==
      LocalDateTime.of(2021, 3, 4, 5, 6, 0))
    val bad = Seq("notadate").toDF("s")
    assert(eval1("""$s::?"%Y-%m-%d"""", bad) == null)
    val strictC = Compiler.compile(Dftly.parse("""$s::"%Y-%m-%d""""))
    intercept[Exception](bad.select(strictC).collect())
  }

  test("strptime %s: unix epoch seconds") {
    val df = Seq("1614837967").toDF("s")
    assert(eval1("""$s::"%s"""", df) == LocalDateTime.of(2021, 3, 4, 6, 6, 7))
  }

  test("len_chars counts unicode chars") {
    val df = Seq("héllo").toDF("s")
    assert(eval1("len_chars($s)", df) == 5)
  }

  test("substring: python slice semantics incl. negatives and clipping") {
    val df = Seq("hello world").toDF("s")
    assert(eval1("$s[0:5]", df) == "hello")
    assert(eval1("$s[6:]", df) == "world")
    assert(eval1("$s[:5]", df) == "hello")
    assert(eval1("$s[:]", df) == "hello world")
    assert(eval1("$s[-5:]", df) == "world")
    assert(eval1("$s[-5:-1]", df) == "worl")
    // lark-parity quirk: `[3:100]` lexes "3:10" as a TIME token and errors;
    // out-of-range bounds use the function form instead.
    intercept[Exception](Dftly.parse("$s[3:100]"))
    assert(eval1("substring($s, 3, 100)", df) == "lo world")
    assert(eval1("$s[100:200]", df) == "")
    assert(eval1("$s[-100:2]", df) == "he")
    assert(eval1("$s[5:2]", df) == "") // start > stop clips to empty
  }

  test("literal slice bounds equal Python slicing, nulls and multibyte included") {
    val strs = Seq("hello world", "", "a", "héllo wörld", "日本語テキスト", "x\uD83D\uDE00y\uD83D\uDE00", null)
    val df = strs.toDF("s")
    def py(s: String, a: Int, b: Option[Int]): String = if (s == null) null else {
      val cp = s.codePoints.toArray
      val (from, to) = (a min cp.length, b.getOrElse(cp.length) min cp.length)
      if (to <= from) "" else new String(cp, from, to - from)
    }
    val top = strs.filter(_ != null).map(s => s.codePointCount(0, s.length)).max
    val bounds = for (a <- 0 to top + 2; b <- (0 to top + 2).map(Some(_)) :+ None) yield (a, b)
    val cols = bounds.map { case (a, b) =>
      val e = b.fold(s"substring($$s, $a)")(x => s"substring($$s, $a, $x)")
      Compiler.compile(Dftly.parse(e))
    }
    val got = df.select(cols: _*).collect()
    for ((row, s) <- got.zip(strs); ((a, b), k) <- bounds.zipWithIndex)
      assert(row.get(k) == py(s, a, b), s"'$s'[$a:${b.getOrElse("")}]")
    // the slice syntax takes the same lowering
    assert(eval1("$s[1:3]", Seq("héllo").toDF("s")) == "él")
    assert(eval1("$s[3:]", Seq("héllo").toDF("s")) == "lo")
  }

  test("a literal slice lowers to one substring call") {
    import org.apache.spark.sql.catalyst.expressions.{Greatest, Least, Length, Substring => SubstringExpr}
    val df = Seq("E11.9").toDF("code")
    val out = df.select(Compiler.compile(Dftly.parse("$code[1:2]")).as("r"))
    val es = out.queryExecution.analyzed.expressions.flatMap(_.collect { case e => e })
    assert(es.count(_.isInstanceOf[SubstringExpr]) == 1)
    assert(!es.exists(e => e.isInstanceOf[Length] || e.isInstanceOf[Greatest] || e.isInstanceOf[Least]),
      out.queryExecution.analyzed.toString)
    assert(out.head.getString(0) == "1")
    // a negative bound keeps the clamped Python-slice form
    val neg = df.select(Compiler.compile(Dftly.parse("$code[-3:]")).as("r"))
    assert(neg.queryExecution.analyzed.expressions.exists(_.exists(_.isInstanceOf[Length])))
    assert(neg.head.getString(0) == "1.9")
  }

  test("non-strict datetime strptime parses once and keeps its values") {
    import org.apache.spark.sql.catalyst.expressions.GetTimestamp
    def lax(fmt: String, xs: Seq[String]) = {
      val df = xs.toDF("s")
      val out = df.select(Compiler.compile(Dftly.parse("$s ::? \"" + fmt + "\"")).as("r"))
      val parses = out.queryExecution.analyzed.expressions
        .map(_.collect { case g: GetTimestamp => g }.size).sum
      assert(parses == 1, out.queryExecution.analyzed.toString)
      out.collect().map(_.get(0)).toSeq
    }
    def ts(s: String) = LocalDateTime.parse(s)
    assert(lax("%Y-%m-%d %H:%M:%S",
      Seq("2021-03-04 05:06:07", "notadate", "2021-02-30 00:00:00", "2021-13-01 00:00:00", "", null)) ==
      Seq(ts("2021-03-04T05:06:07"), null, null, null, null, null))
    // an offset is parsed and dropped: the local time stays as written
    assert(lax("%Y-%m-%d %H:%M:%S%z", Seq("2021-03-04 05:06:07+0200", "2021-03-04 05:06:07-0530",
      "2021-03-04 05:06:07")) == Seq(ts("2021-03-04T05:06:07"), ts("2021-03-04T05:06:07"), null))
    // a local time in a DST gap of the session zone still parses as written
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try assert(lax("%Y-%m-%d %H:%M:%S", Seq("2021-03-14 02:30:00", "2021-11-07 01:30:00")) ==
      Seq(ts("2021-03-14T02:30:00"), ts("2021-11-07T01:30:00")))
    finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("a column named in another case types + as the analyzer resolves it") {
    val df = Seq(("x", "y")).toDF("a", "b")
    assert(Dftly.select(df, Seq("r" -> "$A + $B")).head.getString(0) == "xy")
    assert(Dftly.select(df, Seq("r" -> "$a + $b")).head.getString(0) == "xy")
  }

  test("split: literal separator, not regex; empties kept; null → null") {
    val df = Seq(("a.b.c", "x,,y")).toDF("dotted", "commas")
    assert(eval1("split($dotted, '.')", df) == Seq("a", "b", "c"))
    assert(eval1("split($commas, ',')", df) == Seq("x", "", "y"))
    val nulls = Seq((None: Option[String])).toDF("s")
    assert(eval1("split($s, ',')", nulls) == null)
    val empty = Seq("").toDF("s")
    assert(eval1("split($s, ',')", empty) == Seq(""))
  }

  test("split with expression separator escapes metacharacters") {
    val df = Seq(("a.b.c", ".")).toDF("s", "sep")
    assert(eval1("split($s, $sep)", df) == Seq("a", "b", "c"))
  }

  test("regex_extract: no match → null (not empty string); group index") {
    val df = Seq(("bp: 120/80", "nope")).toDF("bp", "other")
    assert(eval1("""extract group 1 of /(\d+)\/(\d+)/ from $bp""", df) == "120")
    assert(eval1("""extract group 2 of /(\d+)\/(\d+)/ from $bp""", df) == "80")
    assert(eval1("""extract /\d+/ from $other""", df) == null)
    assert(eval1("""extract /\d+/ from $bp""", df) == "120")
  }

  test("regex_match is unanchored contains") {
    val df = Seq("abc123").toDF("s")
    assert(eval1("""/\d+/ in $s""", df) == true)
    assert(eval1("""/^\d+$/ in $s""", df) == false)
  }

  test("string_interpolate: null-propagating, casts fields to string") {
    val df = Seq((Some("Ann"), Some(32)), (None, Some(7))).toDF("name", "age")
    val c = Compiler.compile(Dftly.parse("""f"{$name} is {$age}""""))
    assert(df.select(c).collect().map(_.get(0)).toSeq == Seq("Ann is 32", null))
  }

  test("literal arrays and dates from dict form") {
    assert(Dftly.parse(Map("literal" -> 3)) == Lit(3))
    val d = Dftly.parse("2021-01-02")
    assert(Compiler.compile(d) != null)
  }

  test("select applies an ordered yaml op-map") {
    val df = Seq((10.0, 0.1, "AB-12")).toDF("price", "discount", "code")
    val out = Dftly.select(
      df,
      """revenue: $price * (1 - $discount)
        |prefix: $code[0:2]
        |big: "YES if $price > 5 else NO"
        |""".stripMargin
    )
    assert(out.columns.toSeq == Seq("revenue", "prefix", "big"))
    val r = out.head
    assert(math.abs(r.getDouble(0) - 9.0) < 1e-9)
    assert(r.getString(1) == "AB")
    assert(r.getString(2) == "YES")
  }

  test("uint64 widens to decimal(20,0); int128 to decimal(38,0)") {
    val df = Seq(1L).toDF("x")
    assert(df.select(Compiler.compile(Dftly.parse("$x::uint64")))
      .schema.head.dataType == DecimalType(20, 0))
    assert(df.select(Compiler.compile(Dftly.parse("$x::int128")))
      .schema.head.dataType == DecimalType(38, 0))
  }

  test("and/or are Kleene three-valued (matching Polars horizontal ops)") {
    val df = Seq((None: Option[Boolean], Some(false), Some(true))).toDF("n", "f", "t")
    assert(eval1("$n and $f", df) == false) // null AND false = false
    assert(eval1("$n and $t", df) == null)
    assert(eval1("$n or $t", df) == true)   // null OR true = true
    assert(eval1("$n or $f", df) == null)
  }

  test("missingColumns pre-flight validation") {
    val df = Seq((1, 2)).toDF("a", "b")
    val yaml = "ok: $a + $b\nbad: $a + $nope * $alsono\n"
    val missing = Dftly.missingColumns(df.schema, yaml)
    assert(missing == Map("bad" -> Set("nope", "alsono")))
    // `$A` resolves against `a` under the default case-insensitive resolver
    for (ok <- Seq("x: $a\n", "x: $A\n"))
      assert(Dftly.missingColumns(df.schema, ok).isEmpty, ok)
  }

  test("no UDFs: plans stay in whole-stage codegen") {
    // A range-based frame so ConvertToLocalRelation can't fold the project away.
    val df = spark.range(100).selectExpr("cast(id as double) as price", "0.1d as discount")
    val out = Dftly.select(df, "revenue: $price * (1 - $discount)\n")
    val plan = out.queryExecution.executedPlan.toString
    // `*(n)` marks a WholeStageCodegen span in the compact plan string.
    assert(plan.contains("*(1) Project"), s"expected codegen in plan:\n$plan")
  }

  // --- round-2 parity fixes (found by adversarial review of the core) ----

  test("duration / number divides natively and keeps the duration type") {
    val df = Seq(("2024-01-01 00:00:10", "2024-01-01 00:00:00")).toDF("e", "s")
      .select(to_timestamp_ntz($"e").as("e"), to_timestamp_ntz($"s").as("s"))
    val out = df.select(Dftly.compile(
      Dftly.parse(Map("divide" -> Seq("$e - $s", 2))), Some(df.schema)).as("half"))
    assert(out.schema.head.dataType.isInstanceOf[
      org.apache.spark.sql.types.DayTimeIntervalType])
    assert(out.head.get(0) == java.time.Duration.ofSeconds(5))
  }

  test("date - duration stays a date, like date + duration") {
    val df = Seq("2020-01-10").toDF("d").select(to_date($"d").as("d"))
    val out = df.select(Dftly.compile(
      Dftly.parse("$d - 1::days"), Some(df.schema)).as("earlier"))
    assert(out.schema.head.dataType == org.apache.spark.sql.types.DateType)
    assert(out.as[java.sql.Date].head.toString == "2020-01-09")
  }

  test("IEEE division specials: NaN/0 is NaN, x / -0.0 flips the sign") {
    val df = Seq((Double.NaN, 0.0, 1.0, -0.0)).toDF("nan", "zero", "one", "negzero")
    val out = df.select(
      Dftly.compile(Dftly.parse("$nan / $zero"), Some(df.schema)).as("a"),
      Dftly.compile(Dftly.parse("$one / $negzero"), Some(df.schema)).as("b"),
      Dftly.compile(Dftly.parse("$one / $zero"), Some(df.schema)).as("c"))
      .head
    assert(out.getDouble(0).isNaN)
    assert(out.getDouble(1) == Double.NegativeInfinity)
    assert(out.getDouble(2) == Double.PositiveInfinity)
  }

  test("two-digit years pivot at 69 like chrono, not Java's 2000-2099") {
    val df = Seq(("01/02/75", "01/02/24")).toDF("old", "recent")
    val out = df.select(
      Dftly.compile(Dftly.parse("$old :: \"%m/%d/%y\""), Some(df.schema)).as("o"),
      Dftly.compile(Dftly.parse("$recent :: \"%m/%d/%y\""), Some(df.schema)).as("r"))
      .head
    assert(out.get(0).toString == "1975-01-02", out.get(0).toString)
    assert(out.get(1).toString == "2024-01-02", out.get(1).toString)
    // %D expands to %m/%d/%y and pivots identically; datetime kind too
    val dt = df.select(Dftly.compile(
      Dftly.parse("$old :: \"%D %H:%M\""), Some(df.schema)).as("x"))
    // (no time in the input -> strict parse fails; use a combined input)
    val df2 = Seq("01/02/75 10:30").toDF("s")
    val got = df2.select(Dftly.compile(
      Dftly.parse("$s :: \"%D %H:%M\""), Some(df2.schema)).as("ts")).head.get(0)
    assert(got.toString == "1975-01-02T10:30", got.toString)
  }

  test("regex extract: non-participating group is null, not empty string") {
    val df = Seq("a").toDF("s")
    val out = df.select(Dftly.compile(
      Dftly.parse("extract group 2 of /(a)|(b)/ from $s"), Some(df.schema)).as("g"))
    assert(out.head.isNullAt(0), out.head.toString)
    // participating-but-empty group still yields the empty string
    val out2 = Seq("xb").toDF("s")
    val got2 = out2.select(Dftly.compile(
      Dftly.parse("extract group 1 of /(a*)b/ from $s"), Some(out2.schema)).as("g")).head
    assert(!got2.isNullAt(0) && got2.getString(0) == "")
  }

  test("regex extract: two extracts over a non-nullable input compile into one method") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.unsafe.types.UTF8String
    // no interpreted fallback: a compile error in the generated code throws
    val s = BoundReference(0, StringType, nullable = false)
    val proj = GenerateUnsafeProjection.generate(
      Seq(RegexExtractNull(s, "(\\d+)/(\\d+)", 2), RegexExtractNull(s, "^([a-z]+)", 1)))
    val row = proj(InternalRow(UTF8String.fromString("ab 12/34")))
    assert(row.getUTF8String(0).toString == "34")
    assert(row.getUTF8String(1).toString == "ab")
  }

  test("out-of-range integer literals error instead of wrapping") {
    val e = intercept[IllegalArgumentException] {
      Dftly.compile(Dftly.parse(Map("literal" -> BigInt("18446744073709551616"))), None)
    }
    assert(e.getMessage.contains("overflows"), e.getMessage)
  }

  test("embedded %s reports the standalone-only restriction") {
    val df = Seq("ts:123").toDF("s")
    val e = intercept[IllegalArgumentException] {
      df.select(Dftly.compile(Dftly.parse("$s :: \"ts:%s\""), Some(df.schema)))
    }
    assert(e.getMessage.contains("ENTIRE format"), e.getMessage)
  }


  // --- type-directed +, - and / choose by the analyzed types ---------------

  test("string + concatenates where no schema is given: expr and SQL") {
    val df = Seq(("x", "y")).toDF("a", "b")
    assert(df.select(Dftly.expr("$a + $b")).head.getString(0) == "xy")
    Dftly.registerSql(spark)
    df.createOrReplaceTempView("dftly_strs")
    assert(spark.sql("SELECT dftly('$a + $b') AS r FROM dftly_strs").head.getString(0) == "xy")
  }

  test("date plus a computed duration stays a date, in one expression") {
    import java.time.{Duration, LocalDate}
    val df = Seq((LocalDate.of(2021, 3, 4), 2, Duration.ofHours(36), Duration.ofDays(1)))
      .toDF("d", "n", "dur", "dur2")
    val out = Dftly.select(df, Seq("y" -> "$d + $n * $dur", "z" -> "$dur + $d - $dur2"))
    assert(out.schema.map(_.dataType) == Seq(DateType, DateType))
    assert(out.head.toSeq.map(String.valueOf) == Seq("2021-03-07", "2021-03-04"))
  }

  test("an Extension returning a string concatenates under +") {
    import org.apache.spark.sql.functions.upper
    val up = NodeSpec.expression("up", 1, 1) { case Seq(x) => upper(x) }
    val df = Seq("ab").toDF("s")
    val parser = DftlyParser.withDefaults("up" -> up)
    val out = Dftly.select(df, "r: 'up($s) + \"x\"'\nq: 'up($s) + up($s)'", parser)
    assert(out.head.toSeq == Seq("ABx", "ABAB"))
  }

  test("a missing column under + fails as an unresolved column, naming it") {
    val df = Seq(1).toDF("a")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Dftly.expr("$a + $nope")).collect()
    }
    assert(e.getCondition.startsWith("UNRESOLVED_COLUMN"), e.getMessage)
    assert(e.getMessage.contains("`nope`"), e.getMessage)
  }

  test("date ± duration does not depend on the session time zone") {
    import java.time.{Duration, LocalDate}
    val df = Seq((LocalDate.of(2020, 3, 8), Duration.ofHours(-23))).toDF("d", "back")
    val zone = spark.conf.get("spark.sql.session.timeZone")
    // 2020-03-08 is 23 hours long there: in local time 23 hours from its
    // midnight is the next midnight
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val out = Dftly.select(df, Seq("a" -> "$d + 23::hours", "b" -> "$d - $back"))
      assert(out.head.toSeq.map(String.valueOf) == Seq("2020-03-08", "2020-03-08"))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

}
