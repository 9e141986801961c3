package graft.dftly

import java.time.{Instant, LocalDate, LocalDateTime, LocalTime}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Add => CAdd, Cast => CCast, Concat => CConcat, Divide => CDivide,
  EvalMode, Expression, GetTimestamp, Literal, Subtract => CSubtract}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Lowers a [[Node]] tree to a single `org.apache.spark.sql.Column`.
  *
  * Every node compiles to Catalyst expressions — built-ins, or this package's
  * codegen'd kernels `RegexExtractNull`, `XxHash64OrNull` and
  * `TryParseFloating`; no UDFs anywhere — so whole-stage codegen, predicate
  * pushdown and column pruning all apply unchanged (SURVEY.md §4). The
  * right-hand "Spark mapping" column of SURVEY.md §2 is implemented here,
  * with the null-safety rewrites the
  * reference encodes in its lowering (hash null-guard, regex-extract no-match
  * guard) reproduced exactly.
  *
  * Each node lowers to the fewest Catalyst calls that keep its semantics:
  *   - a slice whose bounds are non-negative integer literals (`$code[1:2]`,
  *     `$code[4:]`) is one `substring(s, a + 1, max(b - a, 0))`; negative or
  *     computed bounds keep the clamped Python-slice form;
  *   - a non-strict datetime `strptime` is one `GetTimestamp` with
  *     `failOnError` off, so each string is parsed once;
  *   - `hash` is one `XxHash64OrNull`, which builds its argument once;
  *   - a non-strict float cast of a string is one `TryParseFloating`, which
  *     skips `valueOf` and its exception for a string that cannot parse.
  *
  * The type-directed decisions the reference leaves to Polars' runtime
  * dtypes — `+` over strings concatenates, a date ± duration stays a date,
  * a duration divides without the IEEE zero guard (reference:
  * src/dftly/nodes/arithmetic.py:261-305) — are made on the types Spark's
  * analyzer resolves for the arguments ([[TypeDirected]]), so they hold in
  * every entry point, SQL included, with or without a known input schema.
  */
object Compiler {

  def compile(node: Node): Column = Ctx.lower(node)

  private object Ctx {

    def lower(node: Node): Column = node match {
      case Lit(v) => litOf(v)
      case Col(n) => if (n.contains(".")) col(s"`$n`") else col(n)

      // --- arithmetic / logical -------------------------------------------
      case Hash(a)       => hashOrNull(lower(a))
      case SignedHash(a) => hashOrNull(lower(a))
      case Not(a)    => !lower(a)
      case Negate(a) => negate(lower(a))
      case And(args) => args.map(lower).reduce(_ && _)
      case Or(args)  => args.map(lower).reduce(_ || _)
      case Add(Seq(a)) => lower(a)
      case Add(args) =>
        typeDirected("add", args.map(lower)) { es =>
          if (es.forall(_.dataType.isInstanceOf[StringType])) CConcat(es)
          // Polars Date + Duration stays a Date (reference README.md:118-131
          // `days_later` is dtype date). Spark widens to a timestamp, so add
          // in TIMESTAMP_NTZ, which no session time zone shifts, and cast back.
          else if (es.exists(_.dataType == DateType) && es.exists(isDuration))
            CCast(es.map(e => if (e.dataType == DateType) CCast(e, TimestampNTZType) else e)
              .reduce(CAdd(_, _)), DateType)
          else es.reduce(CAdd(_, _))
        }
      case Subtract(l, r) =>
        typeDirected("subtract", Seq(lower(l), lower(r))) { case Seq(a, b) =>
          // Polars Date − Duration stays a Date (symmetric with the Add case).
          if (a.dataType == DateType && isDuration(b))
            CCast(CSubtract(CCast(a, TimestampNTZType), b), DateType)
          else CSubtract(a, b)
        }
      case Multiply(args) => args.map(lower).reduce(_ * _)
      case Divide(l, r) =>
        typeDirected("divide", Seq(lower(l), lower(r))) { case Seq(a, b) =>
          // Duration / number is native in both engines; the IEEE guard
          // below would not even analyze (`interval > 0` is ill-typed).
          if (isDuration(a)) CDivide(a, b)
          else {
            val (ld, rd) = (ColumnBridge.column(a), ColumnBridge.column(b))
            // Polars truediv follows IEEE-754: x/0 → ±Infinity, ±0/0 and
            // NaN/0 → NaN, sign follows BOTH operands incl. −0.0 divisors
            // (reference: arithmetic.py:353, pl.Expr.truediv). Spark 4's ANSI
            // mode raises DIVIDE_BY_ZERO instead, so guard the zero-divisor
            // case explicitly — CaseWhen branches evaluate lazily, the
            // division never sees a zero divisor. −0.0 detection goes through
            // the string form ("-0.0"): Spark's `===` follows SQL equality,
            // under which −0.0 equals 0.0.
            val negDivisor = rd.cast(StringType).startsWith("-")
            ColumnBridge.convertedExpression(when(rd === 0,
              when(ld.isNull, lit(null).cast(DoubleType)) // null numerator propagates
                .when(isnan(ld.cast(DoubleType)) || ld === 0, lit(Double.NaN))
                .when((ld > 0) =!= negDivisor, lit(Double.PositiveInfinity))
                .otherwise(lit(Double.NegativeInfinity)))
              .otherwise(ld / rd))
          }
        }
      case Power(b, e)    => pow(lower(b), lower(e))
      case Mean(args) =>
        // Horizontal null-skipping mean (pl.mean_horizontal): sum the non-null
        // values, divide by their count, null when all null.
        val cs = args.map(a => lower(a).cast(DoubleType))
        val cnt = cs.map(c => when(c.isNotNull, 1).otherwise(0)).reduce(_ + _)
        val sm = cs.map(c => coalesce(c, lit(0.0))).reduce(_ + _)
        when(cnt === 0, lit(null).cast(DoubleType)).otherwise(sm / cnt)
      case Min(args) =>
        val cs = args.map(lower)
        if (cs.size == 1) cs.head else least(cs: _*)
      case Max(args) =>
        val cs = args.map(lower)
        if (cs.size == 1) cs.head else greatest(cs: _*)
      case Coalesce(args) =>
        val cs = args.map(lower)
        if (cs.size == 1) cs.head else coalesce(cs: _*)

      // --- comparisons -----------------------------------------------------
      case Gt(l, r)  => lower(l) > lower(r)
      case Lt(l, r)  => lower(l) < lower(r)
      case Eq(l, r)  => lower(l) === lower(r)
      case Neq(l, r) => lower(l) =!= lower(r)
      case Gte(l, r) => lower(l) >= lower(r)
      case Lte(l, r) => lower(l) <= lower(r)

      // --- conditional -----------------------------------------------------
      case Conditional(w, t, o) =>
        val base = when(lower(w), lower(t))
        o.map(x => base.otherwise(lower(x))).getOrElse(base)

      // --- strings ---------------------------------------------------------
      case si @ StringInterpolate(_, fields) =>
        val pat = ConstEval.interpolatePattern(si)
        // Split on `{}` placeholders; segments may contain literal braces
        // (already unescaped by the f-string splitter). concat is
        // null-propagating, matching pl.format.
        val segs = pat.split("\\{\\}", -1)
        require(
          segs.length - 1 == fields.length,
          s"string_interpolate pattern has ${segs.length - 1} placeholders but ${fields.length} fields"
        )
        val parts = Seq.newBuilder[Column]
        for (i <- segs.indices) {
          if (segs(i).nonEmpty) parts += lit(segs(i))
          if (i < fields.length) parts += lower(fields(i)).cast(StringType)
        }
        val ps = parts.result()
        if (ps.isEmpty) lit("") else if (ps.size == 1) ps.head.cast(StringType) else concat(ps: _*)

      case re @ RegexExtract(_, source, groupIndex) =>
        val (pat, idx) = ConstEval.regexExtractArgs(re)
        // Port of the capture-group warning (reference: str.py:360-397).
        if (groupIndex.isEmpty &&
          java.util.regex.Pattern.compile(pat).matcher("").groupCount() > 0) {
          System.err.println(
            s"[dftly] Warning: regex pattern '$pat' has capture groups but no group_index; " +
              "extracting the whole match (group 0). Pass group_index to extract a group."
          )
        }
        val src = lower(source)
        // Native expression for the reference's null contract (SURVEY §2.5):
        // null on no-match AND on a non-participating group — Spark's
        // builtin returns "" for both, and the old regexp_like guard only
        // caught the first. Also one regex evaluation per row, not two.
        ColumnBridge.column(RegexExtractNull(ColumnBridge.expression(src), pat, idx))

      case RegexMatch(pattern, source) =>
        regexp_like(lower(source), lower(pattern))

      case sp: Strptime => lowerStrptime(sp)

      case LenChars(a) => length(lower(a))

      case Substring(source, NonNegInt(a), stop @ (None | Some(NonNegInt(_)))) =>
        // Non-negative literal bounds need no normalization: Spark's
        // 1-based substring already clips a start past the end to "" and a
        // length past the end to the rest, as a Python slice does.
        val len = stop.collect { case NonNegInt(b) => (b - a) max 0 }.getOrElse(Int.MaxValue)
        substring(lower(source), a + 1, len)

      case Substring(source, start, stop) =>
        // Python slice semantics, ported from reference str.py:947-971:
        // normalize negative bounds by +len, clip to [0, len], then
        // length = max(stop - start, 0). Spark substr is 1-based.
        val src = lower(source)
        val len = length(src).cast(LongType)
        def norm(bound: Column): Column =
          greatest(least(when(bound < 0, bound + len).otherwise(bound), len), lit(0L))
        val ns = norm(lower(start).cast(LongType))
        val nstop = stop.map(s => norm(lower(s).cast(LongType))).getOrElse(len)
        val sliceLen = greatest(nstop - ns, lit(0L))
        src.substr((ns + 1L).cast(IntegerType), sliceLen.cast(IntegerType))

      case Split(source, by) =>
        val src = lower(source)
        by match {
          case Lit(s: String) =>
            split(src, java.util.regex.Pattern.quote(s))
          case other =>
            // Expression separator: escape regex metacharacters at runtime so
            // the separator stays literal (reference: str.py:996-1000).
            val escaped = regexp_replace(lower(other), "([^a-zA-Z0-9])", "\\\\$1")
            call_function("split", src, escaped)
        }

      // --- cast ------------------------------------------------------------
      case c: Cast =>
        val (name, strict) = ConstEval.castArgs(c)
        val src = lower(c.source)
        if (Types.DURATION_UNIT_SECONDS.contains(name)) {
          // numeric → duration via exact decimal seconds-per-unit
          // (reference: types.py:53-64; months/years approximations verbatim).
          // valueOf uses the canonical decimal rendering — the BigDecimal
          // double constructor would capture the exact binary expansion of
          // 0.001 (~50 digits) and blow past decimal(38).
          val perUnit = java.math.BigDecimal.valueOf(Types.DURATION_UNIT_SECONDS(name))
            .stripTrailingZeros()
          make_dt_interval(lit(0), lit(0), lit(0), src.cast(DecimalType(28, 9)) * lit(perUnit))
        } else if (Types.DATE_UNITS.contains(name)) {
          make_date(src, lit(1), lit(1)) // ::year → date(x, 1, 1)
        } else {
          val dt = Types.DTYPES(name)
          if (strict) src.cast(dt)
          else if (dt == DoubleType || dt == FloatType)
            // a string source parses without a NumberFormatException per bad row
            typeDirected("try_cast", Seq(src)) { case Seq(e) =>
              if (e.dataType.isInstanceOf[StringType]) TryParseFloating(e, dt)
              else CCast(e, dt, evalMode = EvalMode.TRY)
            }
          else src.try_cast(dt)
        }

      // --- datetime --------------------------------------------------------
      case SetTime(d, t) =>
        val dc = lower(d)
        // date/datetime ⊕ time → datetime (reference: datetime.py:9-35).
        t match {
          case Lit(lt: LocalTime) =>
            // Literal time (the `@ 11:30` string form always lands here):
            // constant-fold the components. Also avoids requiring the
            // spark.sql.timeType.enabled flag for the common case.
            make_timestamp_ntz(
              year(dc), month(dc), dayofmonth(dc),
              lit(lt.getHour), lit(lt.getMinute),
              lit(BigDecimal(lt.getSecond) + BigDecimal(lt.getNano) / 1000000000L)
            )
          case _ =>
            val tc = lower(t)
            // date_part SECOND yields a decimal carrying fractional seconds,
            // so sub-second time components survive, matching dt.combine.
            make_timestamp_ntz(
              year(dc), month(dc), dayofmonth(dc),
              hour(tc), minute(tc), date_part(lit("SECOND"), tc)
            )
        }

      case DtYear(a)           => year(lower(a))
      case DtMonthOfYear(a)    => month(lower(a))
      case DtDayOfMonth(a)     => dayofmonth(lower(a))
      // Polars weekday: 1=Monday..7=Sunday; Spark weekday: 0=Monday..6=Sunday.
      case DtDayOfWeek(a)      => weekday(lower(a)) + lit(1)
      case DtDayOfYear(a)      => dayofyear(lower(a))
      case DtHourOfDay(a)      => hour(lower(a))
      case DtMinuteOfHour(a)   => minute(lower(a))
      case DtSecondOfMinute(a) => second(lower(a))
      case DtWeekOfYear(a)     => weekofyear(lower(a))
      case DtQuarterOfYear(a)  => quarter(lower(a))

      // Whole-unit totals: re-cast to an interval whose END field is the unit
      // — interval→long then counts end-field units, truncating toward zero
      // exactly like Polars' dt.total_* (single codegen'd cast; the
      // epoch-shift/decimal formulation benched ~2× slower).
      case DtTotalSeconds(a) => totalViaEndField(lower(a), DayTimeIntervalType.SECOND)
      case DtTotalMinutes(a) => totalViaEndField(lower(a), DayTimeIntervalType.MINUTE)
      case DtTotalHours(a)   => totalViaEndField(lower(a), DayTimeIntervalType.HOUR)
      case DtTotalDays(a)    => totalViaEndField(lower(a), DayTimeIntervalType.DAY)
      case DtTotalMilliseconds(a) => totalUnits(lower(a), 1000L)
      case DtTotalMicroseconds(a) => totalMicros(lower(a))
      // DayTimeIntervalType is µs-precision; sub-µs is always 0 (SURVEY §2.8.2).
      case DtTotalNanoseconds(a)  => totalMicros(lower(a)) * lit(1000L)

      case Extension(_, args, lowerFn) => lowerFn(args.map(lower))

      case BareWordNode(w) =>
        throw new IllegalArgumentException(
          s"Internal error: bare word '$w' escaped parsing; it should have become a literal."
        )
    }

    /** A lowering chosen by the analyzed types of `cs` ([[TypeDirected]]). */
    private def typeDirected(op: String, cs: Seq[Column])(choose: Seq[Expression] => Expression): Column =
      ColumnBridge.column(TypeDirected.of(op, cs.map(ColumnBridge.convertedExpression))(choose))

    private def hashOrNull(c: Column): Column =
      ColumnBridge.column(XxHash64OrNull(ColumnBridge.convertedExpression(c)))

    private def isDuration(e: Expression): Boolean = e.dataType.isInstanceOf[DayTimeIntervalType]

    private def totalViaEndField(iv: Column, endField: Byte): Column =
      iv.cast(DayTimeIntervalType(DayTimeIntervalType.DAY, endField)).cast(LongType)

    /** Exact total microseconds of a day-time interval: shift the epoch by the
      * interval and read unix_micros — pure codegen'd builtins, exact at µs.
      */
    private def totalMicros(iv: Column): Column =
      unix_micros(lit(Instant.EPOCH) + iv)

    /** Truncating (toward zero) total of an interval in units of `usPerUnit`
      * microseconds, matching Polars' dt.total_* (Rust integer division).
      */
    private def totalUnits(iv: Column, usPerUnit: Long): Column = {
      val us = totalMicros(iv)
      val dec = us.cast(DecimalType(38, 0))
      when(us >= 0, floor(dec / lit(usPerUnit)))
        .otherwise(-floor(-dec / lit(usPerUnit)))
        .cast(LongType)
    }

    private def lowerStrptime(sp: Strptime): Column = {
      val (fmt, kind, strict) = ConstEval.strptimeArgs(sp)
      val src = lower(sp.source)

      if (fmt.trim == "%s") {
        // Unix-epoch directive: seconds since 1970 (reference TIME/DATETIME
        // part tables put %s under datetime).
        val secs =
          if (strict) src.cast(LongType)
          else src.try_cast(LongType)
        return timestamp_seconds(secs).cast(TimestampNTZType)
      }
      if (fmt.contains("%s"))
        throw new IllegalArgumentException(
          s"%s (unix epoch) is only supported as the ENTIRE format; embedded in '$fmt' it has " +
            "no Spark datetime-pattern equivalent (SURVEY.md §2.8.4)")

      val jfmt = Strftime.toJavaPattern(fmt)
      val parsed = kind match {
        case "date" =>
          if (strict) to_date(src, jfmt) else try_to_date(src, jfmt)
        case "time" =>
          if (strict) to_time(src, lit(jfmt)) else try_to_time(src, lit(jfmt))
        case "datetime" =>
          if (strict) to_timestamp_ntz(src, lit(jfmt))
          else {
            // No try_to_timestamp_ntz builtin: to_timestamp_ntz's own
            // expression with failOnError off parses each string once and
            // yields null where the strict form raises.
            ColumnBridge.column(GetTimestamp(
              ColumnBridge.expression(src), Literal(jfmt), TimestampNTZType, failOnError = false))
          }
      }
      // chrono/POSIX two-digit-year pivot: 00-68 → 20xx, 69-99 → 19xx.
      // Java's `yy` puts everything in 2000-2099, so a %y-parsed year ≥ 2069
      // must shift back a century ("01/02/75" is 1975, not 2075 — the
      // birth-date case the reference targets).
      if (Strftime.usesTwoDigitYear(fmt) && kind != "time") {
        val shifted = kind match {
          case "date" => add_months(parsed, -1200)
          case _      => parsed - make_ym_interval(lit(100), lit(0))
        }
        when(year(parsed) >= 2069, shifted).otherwise(parsed)
      } else parsed
    }

    private def litOf(v: Any): Column = v match {
      case null               => lit(null)
      case s: String          => lit(s)
      case b: Boolean         => lit(b)
      case i: Int             => lit(i)
      case l: Long            => lit(l)
      case d: Double          => lit(d)
      case f: Float           => lit(f)
      case b: Byte            => lit(b)
      case s: Short           => lit(s)
      case bd: BigDecimal     => lit(bd)
      case bd: java.math.BigDecimal => lit(BigDecimal(bd))
      case bi: BigInt =>
        // the reference raises OverflowError when the Python int exceeds
        // Int64; silent Long wrap-around would corrupt the constant
        if (!bi.isValidLong)
          throw new IllegalArgumentException(
            s"Integer literal $bi overflows the 64-bit range")
        lit(bi.toLong)
      case d: LocalDate       => lit(d)
      case t: LocalTime       => lit(t)
      case dt: LocalDateTime  => lit(dt)
      case i: Instant         => lit(i)
      case d: java.time.Duration => lit(d)
      case d: java.sql.Date      => lit(d.toLocalDate)
      case t: java.sql.Timestamp => lit(t.toLocalDateTime)
      case d: java.util.Date =>
        // snakeyaml yields java.util.Date for YAML timestamps; dftly datetimes
        // are timezone-naive → interpret in UTC → TimestampNTZ.
        lit(LocalDateTime.ofInstant(d.toInstant, java.time.ZoneOffset.UTC))
      case xs: Seq[_]         => array(xs.map(litOf): _*)
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported literal value: $other (${other.getClass.getName})"
        )
    }
  }

  /** A slice bound that is a non-negative integer literal, small enough
    * that its 1-based position still fits an Int.
    */
  private object NonNegInt {
    def unapply(n: Node): Option[Int] = n match {
      case Lit(v: Int) if v >= 0 && v < Int.MaxValue => Some(v)
      case Lit(v: Long) if v >= 0 && v < Int.MaxValue => Some(v.toInt)
      case _ => None
    }
  }
}
