package graft.dftly

import java.time.LocalDateTime

import org.apache.spark.sql.Row

/** Golden tests ported from the reference README's executed tables
  * (reference: README.md:39-225) — the flagship YAML, datetime parsing,
  * exponentiation, dt accessors, duration totals, and sub-second offsets.
  */
class GoldenReadmeSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val df = Seq(
    (1L, 3L, "5", "2020-01-01", "120/80"),
    (2L, 4L, "6", "2021-06-15", "NULL")
  ).toDF("col1", "col2", "foo", "col3", "bp")

  test("flagship README table") {
    val ops =
      """sum: $col1 + $col2
        |diff: $foo::int - $col1
        |compare: $col1 > ($col2 - 3) * 3
        |str_interp: 'f"value: {$foo} {$col1}"'
        |max: max($col1, $col2)
        |conditional: '"big" if $col1 > 1 else "small"'
        |sys_bp: extract group 1 of /(\d+)\/(\d+)/ from $bp if /(\d+)\/(\d+)/ in $bp
        |dia_bp: (extract group 2 of /(\d+)\/(\d+)/ from $bp if /(\d+)\/(\d+)/ in $bp) as float
        |""".stripMargin
    val out = Dftly.select(df, ops).collect()
    assert(out(0) == Row(4L, 4L, true, "value: 5 1", 3L, "small", "120", 80.0f))
    assert(out(1) == Row(6L, 4L, false, "value: 6 2", 4L, "big", null, null))
  }

  test("date parsing, duration arithmetic, set_time") {
    val ops =
      """as_date: '$col3::"%Y-%m-%d"'
        |days_later: ($col3 as "%Y-%m-%d") + $col1::days
        |at_time: '$col3::"%Y-%m-%d" @ 11:30 a.m.'
        |""".stripMargin
    val out = Dftly.select(df, ops).collect()
    assert(out(0).get(0) == java.sql.Date.valueOf("2020-01-01"))
    assert(out(0).get(1) == java.sql.Date.valueOf("2020-01-02"))
    assert(out(0).get(2) == LocalDateTime.of(2020, 1, 1, 11, 30, 0))
    assert(out(1).get(0) == java.sql.Date.valueOf("2021-06-15"))
    assert(out(1).get(1) == java.sql.Date.valueOf("2021-06-17"))
    assert(out(1).get(2) == LocalDateTime.of(2021, 6, 15, 11, 30, 0))
  }

  test("exponentiation precedence and hypotenuse") {
    val ops =
      """squared: $col1 ** 2
        |cubed: $col2 ** 3
        |hypotenuse: ($col1**2 + $col2**2) ** 0.5
        |""".stripMargin
    val out = Dftly.select(df, ops).collect()
    assert(out(0).getDouble(0) == 1.0 && out(0).getDouble(1) == 27.0)
    assert(math.abs(out(0).getDouble(2) - 3.1622776601683795) < 1e-9)
    assert(out(1).getDouble(0) == 4.0 && out(1).getDouble(1) == 64.0)
    assert(math.abs(out(1).getDouble(2) - 4.47213595499958) < 1e-9)
  }

  test("dt component accessors via as-form") {
    val ops =
      """year: '$col3::"%Y-%m-%d" as year_of_date'
        |month: '$col3::"%Y-%m-%d" as month_of_year'
        |day_of_week: '$col3::"%Y-%m-%d" as day_of_week'
        |quarter: '$col3::"%Y-%m-%d" as quarter_of_year'
        |""".stripMargin
    val out = Dftly.select(df, ops).collect()
    // 2020-01-01 is a Wednesday (3), 2021-06-15 a Tuesday (2)
    assert(out(0) == Row(2020, 1, 3, 1))
    assert(out(1) == Row(2021, 6, 2, 2))
  }

  test("duration totals and the MEDS age formula") {
    val ops =
      """days_since_start: (($col3 as "%Y-%m-%d") - 2020-01-01) as total_days
        |hours_since_start: (($col3 as "%Y-%m-%d") - 2020-01-01) as total_hours
        |age_years: (2030-01-01 - ($col3 as "%Y-%m-%d"))::total_microseconds / 31557600000000
        |""".stripMargin
    val out = Dftly.select(df, ops).collect()
    assert(out(0).getLong(0) == 0L && out(0).getLong(1) == 0L)
    assert(math.abs(out(0).getDouble(2) - 10.001369) < 1e-6)
    assert(out(1).getLong(0) == 531L && out(1).getLong(1) == 12744L)
    assert(math.abs(out(1).getDouble(2) - 8.54757) < 1e-5)
  }

  test("sub-second duration offsets") {
    val offsets = Seq(
      (LocalDateTime.of(2020, 1, 1, 0, 0), 1500L),
      (LocalDateTime.of(2021, 6, 15, 0, 0), 90000L)
    ).toDF("origin", "measuredat")
    val out = Dftly.select(offsets,
      "measured_time: $origin + $measuredat::milliseconds\n").collect()
    assert(out(0).get(0) == LocalDateTime.of(2020, 1, 1, 0, 0, 1, 500000000))
    assert(out(1).get(0) == LocalDateTime.of(2021, 6, 15, 0, 1, 30))
  }

  test("strptime with time-only format yields a TIME value") {
    val times = Seq("11:35:02").toDF("t")
    val c = Compiler.compile(Dftly.parse("""$t::"%H:%M:%S""""))
    val out = times.select(c).head.get(0)
    assert(out == java.time.LocalTime.of(11, 35, 2))
  }
}
