package graft.dftly

/** The dftly expression AST.
  *
  * Every node in the reference registry (reference: src/dftly/nodes/__init__.py:60-113,
  * 50 registered classes) is represented here as a Scala case class. Each node is
  * constructible in three isomorphic forms (reference: README.md:554-586):
  *
  *   1. class form  — these case classes directly;
  *   2. dict/YAML "base" form — parsed by [[DictParser]];
  *   3. string form — parsed by [[graft.dftly.strform.StrParser]].
  *
  * Nodes compile to `org.apache.spark.sql.Column` via [[Compiler]]; Catalyst supplies
  * all optimization and physical execution.
  *
  * The dict key, arity and `::` name of each positional node are declared once, in
  * [[Builtins]]. Adding a built-in node takes a case class here, its line in
  * [[Builtins.table]] and its arm in `Compiler.lower`; a keyword-argument node also
  * needs its arms in [[DictParser]] and [[Render]]. The build fails on a node with no
  * arm in `Compiler.lower` or `Render.toExprString`.
  */
sealed trait Node extends Product with Serializable {

  /** Child expression nodes (excluding raw literal payloads). */
  def children: Seq[Node]

  /** All column names referenced by this subtree
    * (reference: src/dftly/nodes/base.py:421-445).
    */
  def referencedColumns: Set[String] = children.flatMap(_.referencedColumns).toSet

  /** This node with each child replaced by `f(child)`; leaves come back as
    * they are.
    */
  def mapChildren(f: Node => Node): Node = this match {
    case e: Extension          => e.copy(args = e.args.map(f))
    case _ if children.isEmpty => this
    case _                     => Builtins.rebuild(this, children.map(f))
  }

  /** Nodes in this subtree, itself included. */
  def size: Int = 1 + children.iterator.map(_.size).sum
}

// ---------------------------------------------------------------------------
// Terminals (reference: src/dftly/nodes/base.py:746-880)
// ---------------------------------------------------------------------------

/** A literal scalar. `value` is one of: null, Boolean, Int, Long, Double, Float,
  * BigDecimal, String, java.time.{LocalDate, LocalTime, LocalDateTime},
  * java.time.Duration, or a Seq of those (arrays appear only as literal payloads).
  */
final case class Lit(value: Any) extends Node {
  def children: Seq[Node] = Nil
}

/** A column reference (reference: base.py:853-880). */
final case class Col(name: String) extends Node {
  def children: Seq[Node] = Nil
  override def referencedColumns: Set[String] = Set(name)
}

// ---------------------------------------------------------------------------
// Arithmetic / logical (reference: src/dftly/nodes/arithmetic.py)
// ---------------------------------------------------------------------------

/** Deterministic 64-bit hash; null-in → null-out (reference: arithmetic.py:27-104).
  * Lowers to the [[XxHash64OrNull]] kernel, which evaluates the argument once
  * and gives `xxhash64`'s bits, so hash *bits* differ from Polars —
  * determinism, null-propagation and signedness contracts are preserved
  * (SURVEY.md §2.8.1).
  */
final case class Hash(arg: Node) extends Node { def children = Seq(arg) }

/** Signed variant of [[Hash]] (reference: arithmetic.py:107-195). In Spark both
  * return LongType since there is no unsigned 64-bit type.
  */
final case class SignedHash(arg: Node) extends Node { def children = Seq(arg) }

final case class Not(arg: Node) extends Node { def children = Seq(arg) }
final case class Negate(arg: Node) extends Node { def children = Seq(arg) }

/** Variadic logical AND, SQL three-valued (reference: arithmetic.py:233-244). */
final case class And(args: Seq[Node]) extends Node { def children = args }

/** Variadic logical OR (reference: arithmetic.py:247-258). */
final case class Or(args: Seq[Node]) extends Node { def children = args }

/** Variadic left-fold of `+`. On all-string operands this is concatenation,
  * matching Polars (reference: arithmetic.py:261-305; doctest at 268-269).
  */
final case class Add(args: Seq[Node]) extends Node { def children = args }

final case class Subtract(left: Node, right: Node) extends Node { def children = Seq(left, right) }

/** Variadic left-fold of `*` (reference: arithmetic.py:322-339). */
final case class Multiply(args: Seq[Node]) extends Node { def children = args }

/** True division — int/int yields double (reference: arithmetic.py:342-353). */
final case class Divide(left: Node, right: Node) extends Node { def children = Seq(left, right) }

/** `base ** exp`, right-associative in string form (reference: arithmetic.py:356-431). */
final case class Power(base: Node, exp: Node) extends Node { def children = Seq(base, exp) }

/** Horizontal (row-wise) mean, null-skipping (reference: arithmetic.py:434-444). */
final case class Mean(args: Seq[Node]) extends Node { def children = args }

/** Horizontal min, null-skipping (reference: arithmetic.py:447-457). */
final case class Min(args: Seq[Node]) extends Node { def children = args }

/** Horizontal max, null-skipping (reference: arithmetic.py:460-470). */
final case class Max(args: Seq[Node]) extends Node { def children = args }

/** First non-null of the args (reference: arithmetic.py:473-515). */
final case class Coalesce(args: Seq[Node]) extends Node { def children = args }

// ---------------------------------------------------------------------------
// Comparisons (reference: src/dftly/nodes/comparison.py) — all null-propagating
// ---------------------------------------------------------------------------

final case class Gt(left: Node, right: Node) extends Node { def children = Seq(left, right) }
final case class Lt(left: Node, right: Node) extends Node { def children = Seq(left, right) }
final case class Eq(left: Node, right: Node) extends Node { def children = Seq(left, right) }
final case class Neq(left: Node, right: Node) extends Node { def children = Seq(left, right) }
final case class Gte(left: Node, right: Node) extends Node { def children = Seq(left, right) }
final case class Lte(left: Node, right: Node) extends Node { def children = Seq(left, right) }

// ---------------------------------------------------------------------------
// Conditional (reference: src/dftly/nodes/conditional.py)
// ---------------------------------------------------------------------------

/** `then if when else otherwise`; missing otherwise → null
  * (reference: conditional.py:6-63).
  */
final case class Conditional(when: Node, thenBranch: Node, otherwise: Option[Node]) extends Node {
  def children: Seq[Node] = Seq(when, thenBranch) ++ otherwise
}

// ---------------------------------------------------------------------------
// String operators (reference: src/dftly/nodes/str.py)
// ---------------------------------------------------------------------------

/** `pl.format`-style interpolation: pattern contains `{}` placeholders filled by
  * `fields` (reference: str.py:13-176). `pattern` must const-evaluate to a string.
  * In string form, fields parsed out of `f"…{e}…"` arrive as raw text and are
  * re-parsed recursively (reference: interpolation.py) — by the time a Node exists
  * they are already resolved.
  */
final case class StringInterpolate(pattern: Node, fields: Seq[Node]) extends Node {
  def children: Seq[Node] = pattern +: fields
}

/** Regex extraction; no match → null (reference: str.py:179-433). `groupIndex`
  * must const-evaluate to a non-negative int (default 0 = whole match).
  */
final case class RegexExtract(pattern: Node, source: Node, groupIndex: Option[Node]) extends Node {
  def children: Seq[Node] = Seq(pattern, source) ++ groupIndex
}

/** Unanchored "found-in" regex test (reference: str.py:436-504). */
final case class RegexMatch(pattern: Node, source: Node) extends Node {
  def children = Seq(pattern, source)
}

/** Parse a string with a chrono/strftime `%`-format; output dtype (date, time or
  * datetime) is inferred from the format's directives (reference: str.py:507-717).
  * `strict=false` → unparsable values become null.
  */
final case class Strptime(format: Node, source: Node, strict: Option[Node]) extends Node {
  def children: Seq[Node] = Seq(format, source) ++ strict
}

/** Unicode character count (reference: str.py:720-784). */
final case class LenChars(arg: Node) extends Node { def children = Seq(arg) }

/** Python-slice substring `[start, stop)` with negative indices, mixed signs and
  * out-of-range clipping (reference: str.py:787-987).
  */
final case class Substring(source: Node, start: Node, stop: Option[Node]) extends Node {
  def children: Seq[Node] = Seq(source, start) ++ stop
}

/** Split on a literal (non-regex) separator → array<string>
  * (reference: str.py:990-1063).
  */
final case class Split(source: Node, by: Node) extends Node { def children = Seq(source, by) }

// ---------------------------------------------------------------------------
// Cast (reference: src/dftly/nodes/types.py)
// ---------------------------------------------------------------------------

/** Cast `source` to the type named by `typeName` (must const-evaluate to a string
  * in [[Types.TYPES]]); `strict=false` → try_cast semantics. A non-strict cast
  * of a string to `float32`/`float64` runs the [[TryParseFloating]] kernel:
  * `try_cast`'s results, without a `NumberFormatException` per unparseable
  * row. Implicit units (`seconds`…`years`, `year`) construct durations/dates
  * instead of converting dtypes and reject strict=false (reference:
  * types.py:79-323).
  */
final case class Cast(source: Node, typeName: Node, strict: Option[Node]) extends Node {
  def children: Seq[Node] = Seq(source, typeName) ++ strict
}

// ---------------------------------------------------------------------------
// Datetime (reference: src/dftly/nodes/datetime.py)
// ---------------------------------------------------------------------------

/** date/datetime ⊕ time → datetime (reference: datetime.py:9-35); `$d @ 11:30`. */
final case class SetTime(date: Node, time: Node) extends Node { def children = Seq(date, time) }

/** Common shape of the datetime component accessors (reference: datetime.py:38-100):
  * one argument, a function-call form `dt_<key>($x)` and a cast form `$x::<castName>`.
  */
sealed trait DtAccessor extends Node {
  def arg: Node
  def children: Seq[Node] = Seq(arg)
}

final case class DtYear(arg: Node) extends DtAccessor           // ::year_of_date
final case class DtMonthOfYear(arg: Node) extends DtAccessor    // ::month_of_year (1-12)
final case class DtDayOfMonth(arg: Node) extends DtAccessor     // ::day_of_month (1-31)
final case class DtDayOfWeek(arg: Node) extends DtAccessor      // ::day_of_week (1=Mon..7=Sun)
final case class DtDayOfYear(arg: Node) extends DtAccessor      // ::day_of_year (1-366)
final case class DtHourOfDay(arg: Node) extends DtAccessor      // ::hour_of_day (0-23)
final case class DtMinuteOfHour(arg: Node) extends DtAccessor   // ::minute_of_hour
final case class DtSecondOfMinute(arg: Node) extends DtAccessor // ::second_of_minute
final case class DtWeekOfYear(arg: Node) extends DtAccessor     // ::week_of_year (ISO)
final case class DtQuarterOfYear(arg: Node) extends DtAccessor  // ::quarter_of_year

/** Duration → Int64 total in `unit`, truncating (reference: datetime.py:309-432).
  * Duals of the `::<unit>` implicit constructors.
  */
sealed trait DtTotal extends Node {
  def arg: Node
  def children: Seq[Node] = Seq(arg)
}

final case class DtTotalSeconds(arg: Node) extends DtTotal

final case class DtTotalMilliseconds(arg: Node) extends DtTotal
final case class DtTotalMicroseconds(arg: Node) extends DtTotal
final case class DtTotalNanoseconds(arg: Node) extends DtTotal
final case class DtTotalMinutes(arg: Node) extends DtTotal
final case class DtTotalHours(arg: Node) extends DtTotal
final case class DtTotalDays(arg: Node) extends DtTotal

// ---------------------------------------------------------------------------
// User extensions
// ---------------------------------------------------------------------------

/** A user-registered node (built by a custom [[NodeSpec]] — the analogue of
  * the reference's `Parser(registered_nodes=...)` extension point,
  * parser.py:154-176). Carries its own Column lowering, so [[Compiler]] needs
  * no knowledge of user node types.
  */
final case class Extension(
    name: String,
    args: Seq[Node],
    lower: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column
) extends Node {
  def children: Seq[Node] = args
}

// ---------------------------------------------------------------------------
// Parse-time-only marker
// ---------------------------------------------------------------------------

/** A bare identifier from the string grammar (`code: MEDS_BIRTH`), distinct
  * from a string literal until the parser decides whether to warn about it
  * (reference: str_form/parser.py:388-389, parser.py:185-194). Never survives
  * parsing — [[Compiler]] rejects it.
  */
final case class BareWordNode(word: String) extends Node {
  def children: Seq[Node] = Nil
}
