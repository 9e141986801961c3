package graft.dftly

/** Parse-time constant evaluation of config-like arguments.
  *
  * The reference evaluates such arguments by executing a one-row Polars query
  * (reference: src/dftly/nodes/base.py:541-556, types.py:283-289,
  * str.py:137-143, 412-418, 670-676), so *any* engine-evaluatable expression is
  * accepted in a const position (e.g. `Add(Lit("a"), Lit("b"))` as a regex
  * pattern). We replicate that with a small AST-level interpreter covering the
  * node types that are meaningful over literals — no SparkSession is needed at
  * parse time. Column references (or anything else data-dependent) are not
  * const-evaluatable and return None, which callers turn into the same errors
  * the reference raises.
  */
object ConstEval {

  /** Evaluate `node` to a plain constant if possible. Returns Some(null) for an
    * expression that evaluates to null, None for non-constant expressions.
    */
  def eval(node: Node): Option[Any] = node match {
    case Lit(v)  => Some(v)
    case Col(_)  => None
    case Not(a)  => evalBool(a).map(b => !b)
    case Negate(a) =>
      eval(a).flatMap {
        case i: Int     => Some(-i)
        case l: Long    => Some(-l)
        case d: Double  => Some(-d)
        case f: Float   => Some(-f)
        case _          => None
      }
    case Add(args) =>
      val vs = args.map(eval)
      if (vs.exists(_.isEmpty)) None
      else {
        val values = vs.map(_.get)
        if (values.forall(_.isInstanceOf[String])) Some(values.mkString)
        else numFold(values)(_ + _, _ + _)
      }
    case Multiply(args) =>
      eval2(args)(numFold(_)(_ * _, _ * _))
    case Subtract(l, r) => eval2(Seq(l, r))(numFold(_)(_ - _, _ - _))
    case Divide(l, r) =>
      // true division: always double, like the engine (int/int → float)
      eval2(Seq(l, r)) { vs =>
        if (vs.forall(isNumeric)) Some(toD(vs.head) / toD(vs(1))) else None
      }
    case Power(b, e) =>
      eval2(Seq(b, e)) { vs =>
        if (vs.forall(isNumeric)) Some(math.pow(toD(vs.head), toD(vs(1)))) else None
      }
    case Min(args)  => eval2(args)(numFold(_)(_ min _, _ min _))
    case Max(args)  => eval2(args)(numFold(_)(_ max _, _ max _))
    case Mean(args) =>
      eval2(args) { vs =>
        if (vs.nonEmpty && vs.forall(isNumeric)) Some(vs.map(toD).sum / vs.size)
        else None
      }
    case Coalesce(args) =>
      // Short-circuit like the engine, but a NON-constant argument reached
      // before a non-null constant makes the WHOLE expression non-constant —
      // skipping it (the old behavior) silently compiled the wrong constant
      // where the reference raises.
      def go(rest: Seq[Node]): Option[Any] = rest match {
        case Seq() => Some(null)
        case head +: tail =>
          eval(head) match {
            case None       => None
            case Some(null) => go(tail)
            case some       => some
          }
      }
      go(args)
    case Conditional(w, t, o) =>
      evalBool(w).flatMap { b =>
        if (b) eval(t) else o.map(eval).getOrElse(Some(null))
      }
    case _ => None
  }

  /** Evaluate to a string, as required for cast type names / regex patterns /
    * interpolation patterns / strptime formats.
    */
  def evalString(node: Node): Option[String] = eval(node).collect { case s: String => s }

  /** Evaluate to a strict boolean (reference literal_kwarg rejects non-bools,
    * base.py:541-556).
    */
  def evalBool(node: Node): Option[Boolean] = eval(node).collect { case b: Boolean => b }

  /** Evaluate to an int, rejecting booleans like the reference does
    * (base.py:548-556: "bool subclasses int" guard).
    */
  def evalInt(node: Node): Option[Int] = eval(node).collect {
    case i: Int                         => i
    case l: Long if l.isValidInt        => l.toInt
  }

  // Construction checks of config arguments (the reference's __post_init__),
  // one per node kind. The parsers call them so bad input fails at parse
  // time; Compiler calls them for the values, so class-form nodes fail at
  // compile time with the same messages.

  /** `node`, after `check` accepted it. */
  private[dftly] def checked[N <: Node](node: N)(check: N => Any): N = { check(node); node }

  /** Cast → (type name, strict) (reference: types.py:266-289). */
  private[dftly] def castArgs(c: Cast): (String, Boolean) = {
    val name = evalString(c.typeName).getOrElse(
      throw new IllegalArgumentException(
        "The type argument of a Cast operation must evaluate to a string literal."))
    if (!Types.TYPES.contains(name))
      throw new IllegalArgumentException(s"Unsupported type: $name")
    val strict = strictArg(c.strict)
    if (!strict && !Types.lowersToCast(name))
      throw new IllegalArgumentException(
        s"Non-strict casting is not supported for unit '$name'; `strict` applies only to dtype casts.")
    (name, strict)
  }

  /** RegexExtract → (pattern, group index; 0 when absent)
    * (reference: str.py:345-356).
    */
  private[dftly] def regexExtractArgs(r: RegexExtract): (String, Int) = {
    val pat = evalString(r.pattern).getOrElse(
      throw new IllegalArgumentException(
        "The pattern argument of regex_extract must evaluate to a string literal."))
    val idx = r.groupIndex.fold(0) { g =>
      evalInt(g).getOrElse(
        throw new IllegalArgumentException(
          "The group_index argument of regex_extract must evaluate to a non-negative integer."))
    }
    if (idx < 0)
      throw new IllegalArgumentException(
        s"The group_index argument of regex_extract must be non-negative; got $idx")
    (pat, idx)
  }

  /** Strptime → (format, output kind from [[Strftime.classify]])
    * (reference: str.py:651-662).
    */
  private[dftly] def strptimeFormat(s: Strptime): (String, String) = {
    val fmt = evalString(s.format).getOrElse(
      throw new IllegalArgumentException(
        "The format argument must be a NodeBase instance that evaluates to a string."))
    (fmt, Strftime.classify(fmt))
  }

  /** StringInterpolate → its pattern (reference: str.py:135-149). */
  private[dftly] def interpolatePattern(s: StringInterpolate): String =
    evalString(s.pattern).getOrElse(
      throw new IllegalArgumentException(
        "The pattern argument must be a string, Literal, or Literal-evaluatable instance."))

  /** The `strict` argument of a cast or strptime; absent means strict. */
  private[dftly] def strictArg(strict: Option[Node]): Boolean = strict.forall { s =>
    evalBool(s).getOrElse(
      throw new IllegalArgumentException(
        s"The strict argument must be a boolean, got ${eval(s).getOrElse(s)}"))
  }

  private def eval2(args: Seq[Node])(f: Seq[Any] => Option[Any]): Option[Any] = {
    val vs = args.map(eval)
    if (vs.exists(_.isEmpty)) None else f(vs.map(_.get))
  }

  /** Integer-preserving numeric fold: all-integral input stays Long (so
    * `{add: [1, 1]}` is a valid group index, like the engine's int+int),
    * anything fractional goes through Double.
    */
  private def numFold(values: Seq[Any])(fl: (Long, Long) => Long, fd: (Double, Double) => Double): Option[Any] = {
    if (values.isEmpty || !values.forall(isNumeric)) None
    else if (values.forall(v => v.isInstanceOf[Int] || v.isInstanceOf[Long]))
      Some(values.map(toL).reduce(fl))
    else Some(values.map(toD).reduce(fd))
  }

  private def toL(v: Any): Long = v match {
    case i: Int  => i.toLong
    case l: Long => l
    case _       => throw new IllegalArgumentException(s"not integral: $v")
  }

  private def isNumeric(v: Any): Boolean = v match {
    case _: Int | _: Long | _: Double | _: Float => true
    case _                                       => false
  }

  private def toD(v: Any): Double = v match {
    case i: Int    => i.toDouble
    case l: Long   => l.toDouble
    case d: Double => d
    case f: Float  => f.toDouble
    case _         => throw new IllegalArgumentException(s"not numeric: $v")
  }
}
