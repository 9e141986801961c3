package graft.dftly

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast => CCast, EvalMode, Expression,
  InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The non-strict float cast (`::?float32`, `::?float64`) parses strings
  * with [[TryParseFloating]]: its byte-level pre-check may reject only
  * strings `valueOf` rejects, and its results equal Spark's own
  * `try_cast` on every input, interpreted and generated.
  */
class TryParseFloatingSpec extends SparkTestBase {

  import spark.implicits._

  private val edgeCases: Seq[Array[Byte]] = Seq(
    "", " ", "\t\n\r", "\u0000", "+", "-", ".", "+.", "-.", "1.", ".5", "-.5", "00.50",
    "1e", "1e+", "1E-", "e5", ".e5", "1e5", "1E+05", "-1e-3", "+.5e-3d", "1.5F", "1.5f",
    "2d", "2D", "1.5Fx", "1.5ff", "1..5", "1.5.", "--1", "+-1", "1 2", "1_000", "1,5",
    " 42 ", "\t-3.25\n", "\u00001.5\u001f", " 1e3 \u0000", "0x1p3", "-0X.8P1", "0x", "0x1",
    "0x1.8", "NaN", "-NaN", "+NaN", "Nan", "nan", "NAN", "Infinity", "-Infinity", "+Infinity",
    "inf", "-inf", "+INF", "INF", "infinity", "-INFINITY", " inf ", "Infinityx", "Inf", "I",
    "N", "1e400", "-1e400", "1e-400", "3.4028236e38", "1.4e-46", "4.9e-324",
    "123456789012345678901234567890", "0", "-0", "-0.0", "+0e0", "positive", "120/80",
    "<5", "5 mg", "１２", "٣", "1 ", " 1", "é", "1é", "12 ", "1e5 d"
  ).map(_.getBytes(UTF_8)) ++ Seq(
    // invalid UTF-8: lone continuation, truncated lead, 0xff, a lead byte before a digit
    Array(0x80.toByte), Array('1'.toByte, 0x80.toByte), Array(0xc3.toByte), Array(0xff.toByte, '1'.toByte),
    Array(0xc3.toByte, '1'.toByte), Array('1'.toByte, 0xc3.toByte, 0xa9.toByte)
  )

  /** 10k strings over a numeric-heavy alphabet, with control, non-ASCII and
    * invalid bytes mixed in; the seed is fixed.
    */
  private val randomCases: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(20261020L)
    val pieces: IndexedSeq[Array[Byte]] =
      ("0123456789012345678901234567890123456789".map(_.toString) ++
        Seq("+", "-", ".", ".", "e", "E", "d", "D", "f", "F", "x", "X", "p", "N", "a", "I", "n", "f",
          "inity", "Infinity", "NaN", " ", "\t", "\u0000", "１", "é")).map(_.getBytes(UTF_8)) ++
        Seq(Array(0x80.toByte), Array(0xc3.toByte), Array(0xff.toByte))
    Seq.fill(10000) {
      val n = rnd.nextInt(9)
      Array.concat(Seq.fill(n)(pieces(rnd.nextInt(pieces.size))): _*)
    }
  }

  private val inputs: Seq[UTF8String] = (edgeCases ++ randomCases).map(UTF8String.fromBytes)

  /** Boxed equality: NaN equals NaN and -0.0 differs from 0.0, unlike `==`. */
  private def same(a: Any, b: Any): Boolean = java.util.Objects.equals(a, b)

  private def tryCast(e: Expression, dt: DataType): Expression =
    CCast(e, dt, Some("UTC"), EvalMode.TRY)

  test("the pre-check rejects only strings Double.valueOf and Float.valueOf reject") {
    var rejected = 0
    for (u <- inputs if !TryParseFloating.mayParse(u)) {
      rejected += 1
      val s = u.toString
      intercept[NumberFormatException](java.lang.Double.valueOf(s))
      intercept[NumberFormatException](java.lang.Float.valueOf(s))
    }
    // both sides of the check are exercised
    assert(rejected > 1000 && rejected < inputs.size - 1000, s"rejected $rejected of ${inputs.size}")
  }

  test("parse kernels equal try_cast, interpreted and generated, nullable or not") {
    for (nullable <- Seq(false, true)) {
      val s = BoundReference(0, StringType, nullable)
      // two kernels in one generated method, next to Spark's casts
      val exprs = Seq(TryParseFloating(s, DoubleType), TryParseFloating(s, FloatType),
        tryCast(s, DoubleType), tryCast(s, FloatType))
      // no interpreted fallback: a compile error in the generated code throws
      val generated = GenerateUnsafeProjection.generate(exprs)
      val interpreted = InterpretedUnsafeProjection.createProjection(exprs)
      val rows = inputs.map(InternalRow(_)) ++ (if (nullable) Seq(InternalRow(null)) else Nil)
      for (r <- rows; (name, out) <- Seq("generated" -> generated(r), "interpreted" -> interpreted(r))) {
        val what = s"$name nullable=$nullable on ${Option(r.getUTF8String(0)).map(_.getBytes.mkString(","))}"
        assert(same(out.get(0, DoubleType), out.get(2, DoubleType)), what)
        assert(same(out.get(1, FloatType), out.get(3, FloatType)), what)
      }
    }
  }

  test("::?float64 and ::?float32 lower to the parse kernel and equal SQL try_cast") {
    // an RDD source, not a local relation the optimizer would evaluate itself
    val df = spark.sparkContext.parallelize(edgeCases, 2).toDF("b").select(col("b").cast(StringType).as("s"))
    val q = df.select(
      Dftly.expr("$s::?float64").as("d"), Dftly.expr("$s::?float32").as("f"),
      expr("try_cast(s AS DOUBLE)").as("sd"), expr("try_cast(s AS FLOAT)").as("sf"))
    val plan = q.queryExecution.optimizedPlan
    val kernels = plan.expressions.flatMap(_.collect { case k: TryParseFloating => k })
    assert(kernels.map(_.dataType) == Seq(DoubleType, FloatType), plan)
    val rows = q.collect()
    assert(rows.length == edgeCases.size)
    rows.foreach(r => assert(same(r.get(0), r.get(2)) && same(r.get(1), r.get(3)), r))
  }

  test("a non-string source keeps Spark's try_cast") {
    val q = spark.range(1, 2).select(col("id").cast(IntegerType).as("i"), (col("id") + 1).as("l"))
      .select(Dftly.expr("$i::?float64"), Dftly.expr("$l::?float32"))
    val plan = q.queryExecution.optimizedPlan
    assert(plan.expressions.forall(_.find(_.isInstanceOf[TryParseFloating]).isEmpty), plan)
    val tryCasts = plan.expressions.flatMap(_.collect { case c: CCast if c.evalMode == EvalMode.TRY => c.dataType })
    assert(tryCasts == Seq(DoubleType, FloatType), plan)
    assert(q.head.toSeq == Seq(1.0, 2.0f))
  }
}
