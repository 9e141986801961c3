package graft.dftly

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.SimpleAnalyzer
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
import org.apache.spark.sql.graft.ColumnBridge

/** Parse-time constant evaluation of config-like arguments: a cast's type
  * name and `strict` flag, a regex pattern and group index, a strptime
  * format and `strict` flag, an interpolation pattern.
  *
  * The reference evaluates such arguments by executing a one-row Polars query
  * (reference: src/dftly/nodes/base.py:541-556, types.py:283-289,
  * str.py:137-143, 412-418, 670-676), so any expression the engine can
  * evaluate over no input is accepted in a const position (e.g. a
  * `string_interpolate` as a regex pattern). We do the same with Catalyst: a
  * non-literal argument is compiled like any other node, analyzed over a
  * one-row relation and folded. The analyzer is Catalyst's session-free
  * `SimpleAnalyzer`, so parsing needs no SparkSession. An argument that reads
  * a column, or whose analysis or evaluation fails, is not constant; callers
  * turn that into the same errors the reference raises.
  */
object ConstEval {

  /** Evaluate `node` to a plain constant if possible. Returns Some(null) for an
    * expression that evaluates to null, None for non-constant expressions.
    * A literal is its value, with no Catalyst work.
    */
  def eval(node: Node): Option[Any] = node match {
    case Lit(v) => Some(v)
    case _ =>
      try {
        val e = ColumnBridge.convertedExpression(Compiler.compile(node))
        val analyzed = SimpleAnalyzer.execute(Project(Seq(Alias(e, "v")()), OneRowRelation()))
        ReplaceExpressions(analyzed) match {
          case p @ Project(Seq(Alias(v, _)), _) if p.resolved && v.foldable =>
            Some(CatalystTypeConverters.convertToScala(v.eval(), v.dataType))
          case _ => None
        }
      } catch { case NonFatal(_) => None }
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

  /** Strptime → (format, output kind from [[Strftime.classify]], strict)
    * (reference: str.py:651-662).
    */
  private[dftly] def strptimeArgs(s: Strptime): (String, String, Boolean) = {
    val fmt = evalString(s.format).getOrElse(
      throw new IllegalArgumentException(
        "The format argument must be a NodeBase instance that evaluates to a string."))
    (fmt, Strftime.classify(fmt), strictArg(s.strict))
  }

  /** StringInterpolate → its pattern (reference: str.py:135-149). */
  private[dftly] def interpolatePattern(s: StringInterpolate): String =
    evalString(s.pattern).getOrElse(
      throw new IllegalArgumentException(
        "The pattern argument must be a string, Literal, or Literal-evaluatable instance."))

  /** The `strict` argument of a cast or strptime; absent means strict. */
  private def strictArg(strict: Option[Node]): Boolean = strict.forall { s =>
    evalBool(s).getOrElse(
      throw new IllegalArgumentException(
        s"The strict argument must be a boolean, got ${eval(s).getOrElse(s)}"))
  }
}
