package graft.dftly

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Length}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every `graft.dftly` expression with its own `doGenCode` compiles twice
  * into one generated method, over nullable and non-nullable input, and
  * agrees with its interpreted `eval` (Spark's `checkEvaluation` pattern).
  * A redeclared local in generated code ("Redefinition of local variable")
  * once sent a whole projection to the interpreter without failing anything.
  */
class CodegenCensusSpec extends SparkTestBase {

  private case class Entry(kernel: Class[_ <: Expression], inputType: DataType, inputs: Seq[Any])(
      val twoInstances: Expression => Seq[Expression])

  private val strings: Seq[UTF8String] =
    (Seq("", " ", "ab 12/34", "(a)", "1.5", " -2e3d ", "NaN", "inf", "+INF", "0x1p3", "positive", "120/80", "１２", "é")
      .map(UTF8String.fromString)) ++
      Seq(Array(0x80.toByte), Array('1'.toByte, 0xc3.toByte)).map(UTF8String.fromBytes)

  private val census: Seq[Entry] = Seq(
    Entry(classOf[RegexExtractNull], StringType, strings)(s =>
      Seq(RegexExtractNull(s, "(\\d+)/(\\d+)", 2), RegexExtractNull(s, "^([a-z]+)", 1))),
    Entry(classOf[XxHash64OrNull], StringType, strings)(s => Seq(XxHash64OrNull(s), XxHash64OrNull(Length(s)))),
    // a wide decimal hashes its unscaled bytes through a local of its own
    Entry(classOf[XxHash64OrNull], DecimalType(38, 0),
      Seq("0", "-1", "12345678901234567890123456789").map(v => org.apache.spark.sql.types.Decimal(BigDecimal(v))))(s =>
      Seq(XxHash64OrNull(s), XxHash64OrNull(s))),
    Entry(classOf[TryParseFloating], StringType, strings)(s =>
      Seq(TryParseFloating(s, DoubleType), TryParseFloating(s, FloatType))))

  for (e <- census; nullable <- Seq(false, true)) {
    test(s"${e.kernel.getSimpleName} over ${e.inputType.simpleString}: two in one method, nullable=$nullable") {
      val exprs = e.twoInstances(BoundReference(0, e.inputType, nullable))
      assert(exprs.forall(_.exists(x => e.kernel.isInstance(x))))
      // no interpreted fallback: a compile error in the generated code throws
      val generated = GenerateUnsafeProjection.generate(exprs)
      val interpreted = InterpretedUnsafeProjection.createProjection(exprs)
      val rows = e.inputs.map(InternalRow(_)) ++ (if (nullable) Seq(InternalRow(null)) else Nil)
      rows.foreach { r =>
        assert(generated(r).copy() == interpreted(r).copy(), s"on ${r.get(0, e.inputType)}")
      }
    }
  }

  test("every graft.dftly class that declares doGenCode is in the census") {
    val declares =
      """(?m)^[ \t]*(?:(?:final|case|abstract|sealed|private(?:\[\w+\])?)\s+)*(?:class|object)\s+(\w+)|def\s+doGenCode""".r
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) scalaFiles(f) else Seq(f))
        .filter(_.getName.endsWith(".scala"))
    val dir = new File("src/main/scala/graft/dftly")
    assert(dir.isDirectory, s"${dir.getAbsolutePath} not found")
    val generating = scalaFiles(dir).flatMap { f =>
      val src = new String(Files.readAllBytes(f.toPath), UTF_8)
      // each doGenCode belongs to the nearest class or object declared above it
      declares.findAllMatchIn(src).foldLeft((Option.empty[String], Set.empty[String])) {
        case ((_, found), m) if m.group(1) != null => (Some(m.group(1)), found)
        case ((owner, found), _) => (owner, found ++ owner)
      }._2
    }.toSet
    assert(generating.nonEmpty)
    assert(generating == census.map(_.kernel.getSimpleName).toSet)
  }
}
