package graft.dftly

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

/** `try_cast(string AS DOUBLE | FLOAT)` that throws nothing for a string
  * `valueOf` must reject.
  *
  * Spark's cast calls `Double.valueOf` (`Float.valueOf`) and catches the
  * `NumberFormatException` of every non-numeric string ("positive",
  * "120/80") before it tries the special literals. A byte-level check
  * ([[TryParseFloating.mayParse]]) runs first here; a string it rejects
  * skips `valueOf` and goes straight to
  * `Cast.processFloatingPointSpecialLiterals`. A string it passes runs
  * Spark's own code unchanged, so the result equals `try_cast` on every
  * input.
  */
case class TryParseFloating(child: Expression, dataType: DataType) extends UnaryExpression {

  require(dataType == DoubleType || dataType == FloatType, s"parses to double or float, not $dataType")
  private def isFloat: Boolean = dataType == FloatType

  override def nullable: Boolean = true
  override def prettyName: String = if (isFloat) "try_parse_float" else "try_parse_double"

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    val parsed =
      if (!TryParseFloating.mayParse(u)) null
      else
        try { if (isFloat) java.lang.Float.valueOf(s) else java.lang.Double.valueOf(s) }
        catch { case _: NumberFormatException => null }
    if (parsed != null) parsed else Cast.processFloatingPointSpecialLiterals(s, isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (boxed, prim) = if (isFloat) ("Float", "floatValue") else ("Double", "doubleValue")
    val (str, parsed, special) = (ctx.freshName("str"), ctx.freshName("parsed"), ctx.freshName("special"))
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |final String $str = $c.toString();
         |boolean $parsed = false;
         |if (${classOf[TryParseFloating].getName}.mayParse($c)) {
         |  try {
         |    ${ev.value} = $boxed.valueOf($str);
         |    $parsed = true;
         |  } catch (java.lang.NumberFormatException e) { }
         |}
         |if (!$parsed) {
         |  final $boxed $special =
         |    ($boxed) ${classOf[Cast].getName}.processFloatingPointSpecialLiterals($str, $isFloat);
         |  if ($special == null) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $special.$prim(); }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): TryParseFloating =
    copy(child = newChild)
}

object TryParseFloating {

  /** False only for strings `Double.valueOf` and `Float.valueOf` reject:
    * after trimming bytes ≤ 0x20 at both ends (`String.trim`) and an
    * optional sign, a string starting `N`, `I`, `0x` or `0X` passes as is
    * (NaN, Infinity and hex literals are `valueOf`'s to judge); any other
    * must read `digits[.digits][(e|E)[sign]digits][fFdD]` with at least one
    * mantissa digit. A byte ≥ 0x80 decodes to a non-ASCII char, which no
    * decimal literal holds, so checking bytes is enough.
    */
  def mayParse(s: UTF8String): Boolean = {
    def at(i: Int): Int = s.getByte(i) & 0xff
    def isDigit(i: Int): Boolean = { val b = at(i); b >= '0' && b <= '9' }
    var end = s.numBytes
    while (end > 0 && at(end - 1) <= 0x20) end -= 1
    var i = 0
    while (i < end && at(i) <= 0x20) i += 1
    if (i < end && (at(i) == '+' || at(i) == '-')) i += 1
    if (i >= end) return false
    val first = at(i)
    if (first == 'N' || first == 'I') return true
    if (first == '0' && i + 1 < end && (at(i + 1) == 'x' || at(i + 1) == 'X')) return true
    val digitsAt = i
    while (i < end && isDigit(i)) i += 1
    var mantissaDigits = i - digitsAt
    if (i < end && at(i) == '.') {
      i += 1
      val fracAt = i
      while (i < end && isDigit(i)) i += 1
      mantissaDigits += i - fracAt
    }
    if (mantissaDigits == 0) return false
    if (i < end && (at(i) == 'e' || at(i) == 'E')) {
      i += 1
      if (i < end && (at(i) == '+' || at(i) == '-')) i += 1
      val expAt = i
      while (i < end && isDigit(i)) i += 1
      if (i == expAt) return false
    }
    if (i < end && "fFdD".indexOf(at(i)) >= 0) i += 1
    i == end
  }
}
