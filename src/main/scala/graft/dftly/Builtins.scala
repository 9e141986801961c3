package graft.dftly

import scala.reflect.{ClassTag, classTag}

/** The built-in node table: all 50 reference nodes in reference registration
  * order (nodes/__init__.py:60-113).
  *
  * Each of the 40 positional nodes is declared on one line — dict key, arity,
  * `::` name (the `dt_*` nodes) and case-class constructor — and everything
  * else reads it: the default registry order, [[DictParser]]'s positional arm,
  * the string form's `::` accessors and both [[Render]] serializers. The ten
  * keyword-argument nodes keep hand-written arms in [[DictParser]] and
  * [[Render]]; their lines here only fix their place in the order.
  */
private[dftly] object Builtins {

  sealed trait Arity
  case object One extends Arity
  case object Two extends Arity
  case object AtLeastOne extends Arity

  sealed trait Entry { def key: String }
  final case class Keyword(key: String) extends Entry
  final case class Positional(
      key: String,
      arity: Arity,
      castName: Option[String],
      make: Seq[Node] => Node,
      cls: Class[_]
  ) extends Entry

  private def one[T <: Node: ClassTag](key: String, mk: Node => T, castName: String = null) =
    Positional(key, One, Option(castName), cs => mk(cs.head), classTag[T].runtimeClass)
  private def two[T <: Node: ClassTag](key: String, mk: (Node, Node) => T) =
    Positional(key, Two, None, cs => mk(cs.head, cs(1)), classTag[T].runtimeClass)
  private def many[T <: Node: ClassTag](key: String, mk: Seq[Node] => T) =
    Positional(key, AtLeastOne, None, mk, classTag[T].runtimeClass)

  val table: Seq[Entry] = Seq(
    Keyword("literal"),
    Keyword("column"),
    one("hash", Hash),
    one("signed_hash", SignedHash),
    one("not", Not),
    one("negate", Negate),
    one("len_chars", LenChars),
    many("and", And),
    many("or", Or),
    many("add", Add),
    many("multiply", Multiply),
    many("mean", Mean),
    many("min", Min),
    many("max", Max),
    many("coalesce", Coalesce),
    two("subtract", Subtract),
    two("divide", Divide),
    two("power", Power),
    two("set_time", SetTime),
    two("greater_than", Gt),
    two("less_than", Lt),
    two("equal", Eq),
    two("not_equal", Neq),
    two("greater_than_or_equal", Gte),
    two("less_than_or_equal", Lte),
    Keyword("conditional"),
    Keyword("string_interpolate"),
    Keyword("regex_extract"),
    Keyword("regex_match"),
    Keyword("strptime"),
    Keyword("substring"),
    Keyword("split"),
    Keyword("cast"),
    one("dt_year", DtYear, "year_of_date"),
    one("dt_month_of_year", DtMonthOfYear, "month_of_year"),
    one("dt_day_of_month", DtDayOfMonth, "day_of_month"),
    one("dt_day_of_week", DtDayOfWeek, "day_of_week"),
    one("dt_day_of_year", DtDayOfYear, "day_of_year"),
    one("dt_hour_of_day", DtHourOfDay, "hour_of_day"),
    one("dt_minute_of_hour", DtMinuteOfHour, "minute_of_hour"),
    one("dt_second_of_minute", DtSecondOfMinute, "second_of_minute"),
    one("dt_week_of_year", DtWeekOfYear, "week_of_year"),
    one("dt_quarter_of_year", DtQuarterOfYear, "quarter_of_year"),
    one("dt_total_seconds", DtTotalSeconds, "total_seconds"),
    one("dt_total_milliseconds", DtTotalMilliseconds, "total_milliseconds"),
    one("dt_total_microseconds", DtTotalMicroseconds, "total_microseconds"),
    one("dt_total_nanoseconds", DtTotalNanoseconds, "total_nanoseconds"),
    one("dt_total_minutes", DtTotalMinutes, "total_minutes"),
    one("dt_total_hours", DtTotalHours, "total_hours"),
    one("dt_total_days", DtTotalDays, "total_days")
  )

  private val positional: Seq[Positional] = table.collect { case p: Positional => p }

  /** `::` name → accessor (the string form's cast-name dispatch). */
  val byCastName: Map[String, Positional] =
    positional.flatMap(p => p.castName.map(_ -> p)).toMap

  private val byClass: Map[Class[_], Positional] = positional.map(p => p.cls -> p).toMap

  /** The table line of a positional node. */
  def of(n: Node): Positional = byClass(n.getClass)
}
