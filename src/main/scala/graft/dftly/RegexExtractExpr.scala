package graft.dftly

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `regexp_extract` with the reference's null semantics (str.py:179-433,
  * Polars `str.extract`): null when the pattern does not match OR when the
  * selected capture group did not participate in the match. Spark's builtin
  * returns "" for both, and a `regexp_like` guard only covers the first —
  * `(a)|(b)` group 2 on "a" must be null, not "".
  *
  * One `Matcher.find` per row (the guard+extract formulation evaluated the
  * regex twice); the pattern compiles once per expression instance.
  */
case class RegexExtractNull(child: Expression, pattern: String, groupIdx: Int)
    extends UnaryExpression {

  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

  locally {
    require(groupIdx >= 0, s"group index must be non-negative; got $groupIdx")
    val n = java.util.regex.Pattern.compile(pattern).matcher("").groupCount()
    require(groupIdx <= n,
      s"group index $groupIdx exceeds the $n capture group(s) of pattern '$pattern'")
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"regex_extract needs a string column, got $other")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "regex_extract_null"

  override protected def nullSafeEval(input: Any): Any = {
    val m = compiled.matcher(input.asInstanceOf[UTF8String].toString)
    if (!m.find()) null
    else {
      val g = m.group(groupIdx)
      if (g == null) null else UTF8String.fromString(g)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("pattern", compiled, "java.util.regex.Pattern")
    // its own block: over a non-nullable input nullSafeCodeGen emits the body
    // unwrapped, and a second extract in the same method would redeclare `m`
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |{
         |  java.util.regex.Matcher m = $patRef.matcher($c.toString());
         |  if (m.find()) {
         |    String g = m.group($groupIdx);
         |    if (g == null) { ${ev.isNull} = true; }
         |    else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(g); }
         |  } else { ${ev.isNull} = true; }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): RegexExtractNull =
    copy(child = newChild)
}
