package graft.dftly

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, HashExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** dftly's `hash`: `xxhash64(child)` with seed 42, null for a null child
  * (reference: arithmetic.py:27-104, null-in → null-out).
  *
  * The former `CASE WHEN isnull(x) THEN NULL ELSE xxhash64(x) END` built `x`
  * twice per row — subexpression elimination does not share a CASE's
  * condition with its ELSE branch — and carried two copies of its code.
  * This evaluates the child once and hashes it with Spark's own per-type
  * `computeHash` code, so its bits equal `xxhash64(x)` for every hashable
  * type.
  */
case class XxHash64OrNull(child: Expression) extends HashExpression[Long] {

  override val seed: Long = 42L
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "xxhash64_or_null"
  override def isCollationAware: Boolean = false
  override protected def hasherClassName: String = classOf[XXH64].getName

  override protected def computeHash(value: Any, dataType: DataType, seed: Long): Long =
    XxHash64Function.hash(value, dataType, seed, isCollationAware, legacyCollationAwareHashing)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else computeHash(v, child.dataType, seed)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |long ${ev.value} = ${seed}L;
      |if (!${ev.isNull}) {
      |  ${computeHash(c.value, child.dataType, ev.value, ctx)}
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): XxHash64OrNull =
    copy(child = newChildren.head)
}
