package graft.dftly

import scala.util.DynamicVariable
import scala.util.control.NonFatal

import org.apache.spark.sql.Column

/** A registrable node type — the extension point of the dict/YAML parser
  * (reference: src/dftly/parser.py:154-176, `Parser(registered_nodes=...)`,
  * and the AGENTS.md "Adding a New Node Type" checklist).
  *
  * `matches` decides whether a parsed YAML value is one of this node's
  * accepted forms; the default recognizes the standard short form
  * (`{key: args}`) and resolved form
  * (`{expression: {type: key, arguments: ...}}`) exactly like the
  * reference's `NodeBase.matches` (nodes/base.py:298-440). `build`
  * constructs the AST node, recursing into child values through the context
  * (which re-enters the full parser: all three forms, active registry).
  */
trait NodeSpec {

  /** Dict-form key; must be unique across a registry. */
  def key: String

  def matches(value: Any): Boolean = NodeSpec.standardMatch(key, value)

  def build(value: Any, ctx: NodeSpec.Ctx): Node
}

object NodeSpec {

  /** Build context: child recursion and standard argument extraction. */
  final class Ctx private[dftly] (private[dftly] val nested: Boolean) {

    /** Parse a child value (any of the three forms) with the active parser;
      * children are always `nested` for bare-word warning purposes.
      */
    def parseChild(v: Any): Node = DictParser.parse0(v, nested = true)

    /** The argument payload of a standard short/resolved-form value. */
    def rawArgs(key: String, value: Any): Any = NodeSpec.rawArgs(key, value)

    /** Normalize a raw payload to a positional-argument list. */
    def positional(raw: Any): Seq[Any] = DictParser.positional(raw)
  }

  def standardMatch(key: String, value: Any): Boolean =
    isShortForm(key, value) || isResolvedForm(key, value)

  private[dftly] def asStringMap(value: Any): Option[collection.Map[String, Any]] =
    value match {
      case m: collection.Map[_, _] => Some(m.asInstanceOf[collection.Map[String, Any]])
      case _                       => None
    }

  /** `{key: args}` (reference: base.py:389-414). */
  def isShortForm(key: String, value: Any): Boolean =
    asStringMap(value).exists(m => m.size == 1 && m.contains(key))

  /** `{expression: {type: key, ...}}` (reference: base.py:341-387). */
  def isResolvedForm(key: String, value: Any): Boolean =
    asStringMap(value).exists { m =>
      m.size == 1 && m.get("expression").exists {
        case im: collection.Map[_, _] =>
          im.asInstanceOf[collection.Map[String, Any]].get("type").contains(key)
        case _ => false
      }
    }

  /** Argument payload from either standard form (reference: base.py:231-291). */
  def rawArgs(key: String, value: Any): Any = {
    val m = asStringMap(value).getOrElse(
      throw new IllegalArgumentException(s"standard forms are maps; got $value"))
    if (m.size == 1 && m.contains(key)) m(key)
    else
      m("expression").asInstanceOf[collection.Map[String, Any]].get("arguments").orNull
  }

  /** The simplest extension point: a positional-args node that lowers its
    * compiled children to a Column. Registers under `key` for the dict/YAML
    * form AND the string form (`key(arg, ...)` function calls).
    */
  def expression(key: String, minArgs: Int, maxArgs: Int)(
      lowerFn: Seq[Column] => Column): NodeSpec = {
    val k = key
    require(minArgs >= 0 && maxArgs >= minArgs, "need 0 <= minArgs <= maxArgs")
    new NodeSpec {
      val key: String = k
      def build(value: Any, ctx: Ctx): Node = {
        val args = ctx.positional(ctx.rawArgs(k, value))
        if (args.size < minArgs || args.size > maxArgs) {
          val range = if (minArgs == maxArgs) s"$minArgs" else s"$minArgs..$maxArgs"
          throw new IllegalArgumentException(
            s"$k takes $range arguments; got ${args.size}")
        }
        Extension(k, args.map(ctx.parseChild), lowerFn)
      }
    }
  }
}

/** A parser over a set of registered nodes (reference: parser.py:154-222).
  *
  * Construction validates key uniqueness; parsing a map value attempts EVERY
  * registered node whose `matches` accepts it, aggregates per-node failure
  * causes into the no-match error, and raises on ambiguity (≥2 successful
  * matches) — the reference's doctested behavior:
  *
  *   - `No matching node found for value: ... .` plus, when matching nodes
  *     failed to build, `Errors from attempted matches:` / `- name: cause`;
  *   - `multiple matching nodes for ...: ['a', 'b']`;
  *   - `multiple nodes registered with key 'k': ['a', 'b']` at construction.
  *
  * Specs are ordered (a `Seq`) so error aggregation is deterministic.
  */
final class DftlyParser(val registeredNodes: Seq[(String, NodeSpec)]) {

  locally {
    val dups = registeredNodes.groupBy(_._2.key).filter(_._2.size > 1)
    dups.headOption.foreach { case (k, entries) =>
      throw new IllegalArgumentException(
        s"multiple nodes registered with key '$k': " +
          entries.map(_._1).mkString("['", "', '", "']"))
    }
  }

  private val specsByKey: Map[String, NodeSpec] =
    registeredNodes.map { case (_, s) => s.key -> s }.toMap

  private[dftly] def specForKey(k: String): Option[NodeSpec] = specsByKey.get(k)

  /** Parse any supported form into the AST with THIS registry active (it
    * scopes dynamically, so nested string-form function calls resolve custom
    * nodes too).
    */
  def parse(value: Any): Node =
    withActive(DictParser.parse0(value, nested = false))

  /** Run `body` with THIS registry as the active parser — every
    * `Dftly.parse`/`DictParser.parse` in scope (e.g. a whole
    * `Pipeline.run`) resolves custom nodes.
    */
  def withActive[A](body: => A): A = DftlyParser.active.withValue(this)(body)

  /** Reference `Parser.__call__` matching loop (parser.py:178-222). */
  private[dftly] def tryAll(value: Any, nested: Boolean): Node = {
    val outputs = collection.mutable.LinkedHashMap.empty[String, Node]
    val errors = collection.mutable.LinkedHashMap.empty[String, Throwable]
    for ((name, spec) <- registeredNodes if spec.matches(value)) {
      try outputs += name -> spec.build(value, new NodeSpec.Ctx(nested))
      catch { case NonFatal(e) => errors += name -> e }
    }
    if (outputs.isEmpty) throw DictParser.fail(value, errors.toSeq)
    if (outputs.size > 1)
      throw new IllegalArgumentException(
        s"multiple matching nodes for $value: " +
          outputs.keys.mkString("['", "', '", "']"))
    outputs.head._2
  }
}

object DftlyParser {

  /** The built-in registry: all 50 reference nodes, in reference
    * registration order (nodes/__init__.py:60-113).
    */
  def defaultSpecs: Seq[(String, NodeSpec)] = DictParser.builtinSpecs

  lazy val default: DftlyParser = new DftlyParser(defaultSpecs)

  /** Defaults plus user nodes — the typical extension call. */
  def withDefaults(extra: (String, NodeSpec)*): DftlyParser =
    new DftlyParser(defaultSpecs ++ extra)

  private[dftly] val active = new DynamicVariable[DftlyParser](null) {
    override def value: DftlyParser = {
      val v = super.value
      if (v == null) default else v
    }
  }
}
