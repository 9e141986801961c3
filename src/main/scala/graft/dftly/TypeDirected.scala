package graft.dftly

import org.apache.spark.sql.catalyst.analysis.UnresolvedException
import org.apache.spark.sql.catalyst.expressions.{Expression, Unevaluable}
import org.apache.spark.sql.types.DataType

/** A lowering that depends on its arguments' types, made on the types
  * Spark's analyzer resolves: `choose` maps the resolved arguments to
  * built-in expressions (`+` over strings is a `Concat`, a date ± duration a
  * cast back to a date).
  *
  * Until every argument is resolved this is an unresolved placeholder over
  * them. The analyzer rebuilds it whenever it rewrites an argument, and the
  * rebuild that finds every argument resolved returns `choose(args)` in its
  * place, so the rule that resolved the last argument sees the chosen
  * expression, and the later rules of the same pass coerce and resolve it
  * as any built-in. Analyzed, optimized and physical plans hold built-ins
  * only. `op` names the lowering; with the arguments it is the node's
  * identity.
  */
case class TypeDirected(op: String, args: Seq[Expression])(choose: Seq[Expression] => Expression)
    extends Expression with Unevaluable {

  override def children: Seq[Expression] = args
  override lazy val resolved: Boolean = false
  override def dataType: DataType = throw new UnresolvedException("dataType")
  override def nullable: Boolean = throw new UnresolvedException("nullable")
  override def prettyName: String = s"dftly_$op"
  override protected def otherCopyArgs: Seq[AnyRef] = choose :: Nil

  override protected def withNewChildrenInternal(newArgs: IndexedSeq[Expression]): Expression =
    TypeDirected.of(op, newArgs)(choose)
}

object TypeDirected {

  /** `choose(args)` if every argument is resolved, else the placeholder. */
  def of(op: String, args: Seq[Expression])(choose: Seq[Expression] => Expression): Expression =
    if (args.forall(_.resolved)) choose(args) else TypeDirected(op, args)(choose)
}
