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
  * [[Render]]; their lines here fix their place in the order and, but for
  * the leaves `literal` and `column`, how `Node.mapChildren` rebuilds them.
  */
private[dftly] object Builtins {

  sealed trait Arity
  case object One extends Arity
  case object Two extends Arity
  case object AtLeastOne extends Arity

  sealed trait Entry { def key: String }
  /** `literal` and `column`: leaves, with arms of their own everywhere. */
  final case class Leaf(key: String) extends Entry
  /** A keyword-argument node, rebuilt by `make` from its children: its
    * fields in order, an absent optional one left out.
    */
  final case class Keyword(key: String)(val make: Seq[Node] => Node, val cls: Class[_]) extends Entry
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
  private def kw[T <: Node: ClassTag](key: String, mk: Seq[Node] => T) =
    Keyword(key)(mk, classTag[T].runtimeClass)
  private def kw2[T <: Node: ClassTag](key: String, mk: (Node, Node) => T) =
    kw(key, cs => mk(cs.head, cs(1)))
  private def kw3[T <: Node: ClassTag](key: String, mk: (Node, Node, Option[Node]) => T) =
    kw(key, cs => mk(cs.head, cs(1), cs.lift(2)))

  val table: Seq[Entry] = Seq(
    Leaf("literal"),
    Leaf("column"),
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
    kw3("conditional", Conditional),
    kw("string_interpolate", cs => StringInterpolate(cs.head, cs.tail)),
    kw3("regex_extract", RegexExtract),
    kw2("regex_match", RegexMatch),
    kw3("strptime", Strptime),
    kw3("substring", Substring),
    kw2("split", Split),
    kw3("cast", Cast),
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

  private val makers: Map[Class[_], Seq[Node] => Node] = table.collect {
    case p: Positional => p.cls -> p.make
    case k: Keyword    => k.cls -> k.make
  }.toMap

  /** Built-in node `n` with `children` in place of its own. */
  def rebuild(n: Node, children: Seq[Node]): Node =
    makers.getOrElse(n.getClass, throw new IllegalStateException(
      s"${n.getClass.getSimpleName} has no line in Builtins.table to rebuild it from"))(children)
}
