package graft.dftly

import java.sql.Date
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Concat
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** dftly's `hash` and `signed_hash` lower to [[XxHash64OrNull]], whose
  * results equal the former `CASE WHEN isnull(x) THEN NULL ELSE xxhash64(x)
  * END` on every type a dftly expression can hash.
  */
class XxHash64OrNullSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("dt", DateType), StructField("ts", TimestampNTZType),
    StructField("dec", DecimalType(10, 2)), StructField("big", DecimalType(38, 0)),
    StructField("b", BooleanType)))

  private val rows = Seq(
    Row("abc", 1, 1L, 0.0, Date.valueOf("2024-02-29"), LocalDateTime.of(2024, 2, 29, 11, 30),
      BigDecimal("12.34").bigDecimal, BigDecimal("12345678901234567890123456789").bigDecimal, true),
    Row("", -7, Long.MinValue, -0.0, Date.valueOf("1969-12-31"), LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000),
      BigDecimal("-0.01").bigDecimal, BigDecimal("-1").bigDecimal, false),
    Row("é 120/80", Int.MaxValue, Long.MaxValue, Double.NaN, Date.valueOf("0001-01-01"), LocalDateTime.of(1, 1, 1, 0, 0),
      BigDecimal("99999999.99").bigDecimal, BigDecimal("0").bigDecimal, true),
    Row(null, null, null, null, null, null, null, null, null))

  private def frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("hash and signed_hash equal CASE WHEN isnull(x) THEN NULL ELSE xxhash64(x) END on every type") {
    val names = schema.fieldNames.toSeq
    // a fresh query per setting: a planned Dataset keeps its physical plan
    def q = frame.select(names.flatMap(c => Seq(
      Dftly.expr(s"hash($$$c)"), Dftly.expr(s"signed_hash($$$c)"),
      expr(s"CASE WHEN $c IS NULL THEN NULL ELSE xxhash64($c) END"))): _*)
    for ((wholeStage, factoryMode) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      val got = withConf("spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.codegen.factoryMode" -> factoryMode)(q.collect())
      assert(got.length == rows.size)
      for (r <- got; (c, k) <- names.zipWithIndex) {
        val (h, sh, former) = (r.get(3 * k), r.get(3 * k + 1), r.get(3 * k + 2))
        assert(h == former && sh == former, s"$factoryMode $c: $h $sh $former")
        assert((former == null) == r.isNullAt(3 * k), s"$factoryMode $c")
      }
      assert(got.last.toSeq.forall(_ == null))
    }
  }

  test("the hashed argument is built once: hash($a + \"s\") holds one Concat") {
    val df = frame.select(col("s").as("a"))
    val plan = df.select(Dftly.expr("hash($a + \"s\")")).queryExecution.optimizedPlan
    val concats = plan.expressions.flatMap(_.collect { case c: Concat => c })
    assert(concats.size == 1, plan)
    assert(plan.expressions.exists(_.find(_.isInstanceOf[XxHash64OrNull]).isDefined), plan)
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
