package graft.dftly

import java.time.{Instant, LocalDate, LocalDateTime, LocalTime}

import scala.jdk.CollectionConverters._

import ConstEval.checked

/** Parses the dict/YAML "base form" into [[Node]] trees.
  *
  * Mirrors the reference's `Parser.__call__` (src/dftly/parser.py:178-222):
  * POD values are literals; a one-key map is either a short form
  * (`{key: args}`, base.py:361-387) or the resolved form
  * (`{expression: {type: key, arguments: ...}}`, base.py:322-359); strings are
  * handed to the string-form grammar; Node instances pass through; bare words
  * become string literals with a warning when nested (parser.py:185-194).
  */
object DictParser {

  def parse(value: Any): Node = DftlyParser.active.value.parse(value)

  /** Recursion entry: non-map forms resolve directly; map forms go through
    * the ACTIVE registry's try-all matching loop (reference:
    * parser.py:178-222), which aggregates per-node failure causes and
    * detects ambiguous matches.
    */
  private[dftly] def parse0(value: Any, nested: Boolean): Node = value match {
    case BareWordNode(word) => bareWord(word, nested)
    case n: Node            => n
    case s: String          => strform.StrParser.parseValue(s, nested)
    case v if isPod(v)           => Lit(normalizePod(v))
    case m: collection.Map[_, _] =>
      val map = m.asInstanceOf[collection.Map[String, Any]]
      if (map.size == 1 && map.contains("bare_word"))
        bareWord(map("bare_word").toString, nested)
      else {
        // A typeless resolved form matches no node by construction; add the
        // actionable cause instead of a bare no-match (beyond-reference UX).
        map.get("expression") match {
          case Some(inner: collection.Map[_, _])
              if map.size == 1 &&
                !inner.asInstanceOf[collection.Map[String, Any]].contains("type") =>
            throw fail(value, Seq("expression" ->
              new IllegalArgumentException("resolved form needs a 'type' key")))
          case _ => ()
        }
        DftlyParser.active.value.tryAll(map, nested)
      }
    case _ => throw fail(value, Nil)
  }

  private def bareWord(word: String, nested: Boolean): Node = {
    if (nested) {
      System.err.println(
        s"[dftly] Warning: Bare word '$word' interpreted as string literal in a subexpression. " +
          s"Did you mean the column '$$$word'? Use $$$word for a column reference or " +
          s""""$word" for an explicit string literal."""
      )
    }
    Lit(word)
  }

  /** POD types map straight to literals (reference: base.py:757-782 plus the
    * grammar's date/time literal support).
    */
  private def isPod(v: Any): Boolean = v match {
    case null => true
    case _: Int | _: Long | _: Double | _: Float | _: Boolean | _: Byte | _: Short => true
    case _: BigDecimal | _: java.math.BigDecimal | _: BigInt | _: java.math.BigInteger => true
    case _: LocalDate | _: LocalTime | _: LocalDateTime | _: Instant => true
    case _: java.util.Date => true
    case _ => false
  }

  private def normalizePod(v: Any): Any = v match {
    case bi: java.math.BigInteger => BigInt(bi)
    case d: java.util.Date =>
      // always a datetime: PyYAML gives the reference datetime objects and
      // `x: 2024-01-01 00:00:00` stays Datetime-typed there — a
      // midnight→date heuristic silently changed the output schema.
      // (SnakeYAML cannot distinguish YAML dates from midnight datetimes;
      // accepting bare dates as midnight datetimes is our one leniency —
      // the reference rejects bare date literals outright.)
      LocalDateTime.ofInstant(d.toInstant, java.time.ZoneOffset.UTC)
    case other => other
  }

  /** The reference's aggregated no-match error (parser.py:212-219): every
    * node that matched but failed to build contributes a cause line.
    */
  private[dftly] def fail(value: Any, causes: Seq[(String, Throwable)]): IllegalArgumentException = {
    val lines = Seq(s"No matching node found for value: $value.") ++
      (if (causes.nonEmpty)
         Seq("Errors from attempted matches:") ++
           causes.map { case (k, e) => s"- $k: ${e.getMessage}" }
       else Nil)
    new IllegalArgumentException(lines.mkString("\n"))
  }

  /** The default registry: one [[NodeSpec]] per [[Builtins]] table entry,
    * delegating to [[buildBuiltin]].
    */
  private[dftly] lazy val builtinSpecs: Seq[(String, NodeSpec)] =
    Builtins.table.map { entry =>
      entry.key -> new NodeSpec {
        val key: String = entry.key
        def build(value: Any, ctx: NodeSpec.Ctx): Node =
          buildBuiltin(entry, ctx.rawArgs(key, value), ctx.nested)
      }
    }

  /** A list payload as a Scala `Seq` (SnakeYAML yields `java.util.List`). */
  private def asList(raw: Any): Option[Seq[Any]] = raw match {
    case s: Seq[_]            => Some(s)
    case l: java.util.List[_] => Some(l.asScala.toSeq)
    case _                    => None
  }

  /** A raw payload as positional arguments: a list is the arguments, null is
    * none, anything else is the single argument.
    */
  private[dftly] def positional(raw: Any): Seq[Any] =
    if (raw == null) Nil else asList(raw).getOrElse(Seq(raw))

  /** Split raw short-form/resolved-form arguments into positional + keyword
    * (reference: base.py:230-291).
    */
  private def splitArgs(raw: Any): (Seq[Any], Map[String, Any]) = raw match {
    case m: collection.Map[_, _] =>
      (Nil, m.asInstanceOf[collection.Map[String, Any]].toSeq.toMap)
    case other => (positional(other), Map.empty)
  }

  // Ordered kwargs (preserve user order for error messages only).
  private def kwargsNode(
      key: String,
      kwargs: Map[String, Any],
      required: Set[String],
      optional: Set[String],
      nested: Boolean
  ): Map[String, Node] = {
    val missing = required -- kwargs.keySet
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Missing required keys for $key: $missing")
    val extra = kwargs.keySet -- required -- optional
    if (extra.nonEmpty)
      throw new IllegalArgumentException(s"Extra unallowed keys for $key: $extra")
    kwargs.map { case (k, v) => k -> parse0(v, nested = true) }
  }

  private def buildBuiltin(entry: Builtins.Entry, raw: Any, nested: Boolean): Node = {
    val key = entry.key
    val (args, kwargs) = splitArgs(raw)

    def children: Seq[Node] = {
      if (kwargs.nonEmpty)
        throw new IllegalArgumentException(s"$key does not accept keyword arguments")
      args.map(parse0(_, nested = true))
    }

    entry match {
      case p: Builtins.Positional =>
        val cs = children
        p.arity match {
          case Builtins.One if cs.size != 1 =>
            throw new IllegalArgumentException(
              s"$key requires exactly one positional argument; got ${cs.size}")
          case Builtins.Two if cs.size != 2 =>
            throw new IllegalArgumentException(
              s"$key requires exactly two positional arguments; got ${cs.size}")
          case Builtins.AtLeastOne if cs.isEmpty =>
            throw new IllegalArgumentException(s"$key requires at least one argument")
          case _ => p.make(cs)
        }

      case Builtins.Leaf("literal") =>
        // the WHOLE payload is the one argument (reference
        // Literal.args_from_value, base.py:836-845): {"literal": [1,2,3]}
        // is the LIST literal [1,2,3], {"literal": null} is Literal(None) —
        // generic positional splitting would splat the list into three args
        Lit(if (isPod(raw)) normalizePod(raw) else asList(raw).getOrElse(raw))
      case Builtins.Leaf("column") =>
        if (kwargs.nonEmpty || args.size != 1)
          throw new IllegalArgumentException(s"column takes exactly one name; got $raw")
        args.head match {
          case s: String => Col(s)
          case other =>
            throw new IllegalArgumentException(s"column name must be a string; got $other")
        }

      case Builtins.Keyword("conditional") =>
        if (args.nonEmpty)
          throw new IllegalArgumentException("conditional only accepts keyword arguments")
        val kw = kwargsNode(key, kwargs, Set("when", "then"), Set("otherwise"), nested)
        Conditional(kw("when"), kw("then"), kw.get("otherwise"))

      case Builtins.Keyword("string_interpolate") =>
        val cs = children
        if (cs.size <= 1)
          throw new IllegalArgumentException(
            "StringInterpolate requires more than one argument; it takes both the pattern " +
              "string (first) and the fields to interpolate into the pattern (subsequent)."
          )
        checked(StringInterpolate(cs.head, cs.tail))(ConstEval.interpolatePattern)

      case Builtins.Keyword("regex_extract") =>
        if (args.nonEmpty)
          throw new IllegalArgumentException("regex_extract only accepts keyword arguments")
        val kw = kwargsNode(key, kwargs, Set("pattern", "source"), Set("group_index"), nested)
        checked(RegexExtract(kw("pattern"), kw("source"), kw.get("group_index")))(
          ConstEval.regexExtractArgs)

      case Builtins.Keyword("regex_match") =>
        if (args.nonEmpty)
          throw new IllegalArgumentException("regex_match only accepts keyword arguments")
        val kw = kwargsNode(key, kwargs, Set("pattern", "source"), Set.empty, nested)
        RegexMatch(kw("pattern"), kw("source"))

      case Builtins.Keyword("strptime") =>
        if (args.nonEmpty)
          throw new IllegalArgumentException("strptime only accepts keyword arguments")
        val kw = kwargsNode(key, kwargs, Set("format", "source"), Set("strict"), nested)
        checked(Strptime(kw("format"), kw("source"), kw.get("strict")))(ConstEval.strptimeArgs)

      case Builtins.Keyword("substring") =>
        if (args.nonEmpty)
          throw new IllegalArgumentException("substring only accepts keyword arguments")
        val kw = kwargsNode(key, kwargs, Set("source", "start"), Set("stop"), nested)
        Substring(kw("source"), kw("start"), kw.get("stop"))

      case Builtins.Keyword("split") =>
        if (args.nonEmpty)
          throw new IllegalArgumentException("split only accepts keyword arguments")
        val kw = kwargsNode(key, kwargs, Set("source", "by"), Set.empty, nested)
        Split(kw("source"), kw("by"))

      case Builtins.Keyword("cast") =>
        // Positional sugar Cast(source, type) normalizes to the keyword form
        // (reference: types.py:248-264).
        val node =
          if (args.nonEmpty) {
            if (kwargs.nonEmpty)
              throw new IllegalArgumentException(
                s"cast cannot mix positional and keyword arguments; got positional args with ${kwargs.keySet}"
              )
            if (args.size != 2)
              throw new IllegalArgumentException(
                s"cast requires exactly two positional arguments (source, type); got ${args.size}"
              )
            Cast(parse0(args.head, nested = true), parse0(args(1), nested = true), None)
          } else {
            val kw = kwargsNode(key, kwargs, Set("source", "type"), Set("strict"), nested)
            Cast(kw("source"), kw("type"), kw.get("strict"))
          }
        checked(node)(ConstEval.castArgs)

      case other =>
        throw new IllegalStateException(s"no dict-form arm for built-in '${other.key}'")
    }
  }
}
