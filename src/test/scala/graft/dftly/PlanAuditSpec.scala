package graft.dftly

import org.apache.spark.sql.functions._

/** Plan-quality audits: the whole point of compiling dftly to Columns is
  * that Catalyst's optimizations apply — these tests pin that down so a
  * regression (a UDF, a non-pushable expression, a broken codegen span)
  * fails loudly rather than silently costing a full scan at 100 TB.
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dftly-compiled comparison predicates push down to the parquet scan") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = li.filter(Dftly.compile(Dftly.parse("$l_quantity > 45"), Some(li.schema)))
      .select("l_orderkey")
    val plan = planOf(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"),
      s"expected pushdown:\n$plan")
  }

  test("column pruning: a two-column dftly projection reads two columns") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = Dftly.select(li,
      """k: $l_orderkey
        |rev: $l_extendedprice * 2
        |""".stripMargin)
    val plan = planOf(q)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"),
      s"expected pruned read schema:\n$plan")
  }

  test("the full expression core compiles into one whole-stage-codegen span") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = Dftly.select(li,
      """k: $l_orderkey
        |rev: $l_extendedprice * (1 - $l_discount)
        |flag: "BIG if $l_quantity >= 30 else SMALL"
        |day: $l_shipdate::day_of_week
        |age_h: ($l_shipdate - 1990-01-01 00:00:00)::total_hours
        |flags: $l_returnflag + $l_linestatus
        |early: $l_shipdate::date - 36::hours
        |half_age: ($l_shipdate - 1990-01-01 00:00:00) / 2
        |""".stripMargin)
    val plan = planOf(q)
    assert(plan.contains("*(1)"), s"expected a codegen span:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython"), "no python UDFs")
    // the type-directed +, - and / leave built-ins only
    val optimized = q.queryExecution.optimizedPlan
    assert(!optimized.exists(_.expressions.exists(_.exists(_.isInstanceOf[TypeDirected]))),
      optimized.toString)
  }

  test("dftly equality predicates participate in join planning (broadcast)") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val joined = orders.join(broadcast(cust),
      Dftly.compile(Dftly.parse("$o_custkey == $c_custkey"), None))
    val plan = planOf(joined)
    assert(plan.contains("BroadcastHashJoin"), s"expected BHJ:\n$plan")
  }

  test("constant subexpressions fold at parse or optimize time") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = Dftly.select(li, "x: $l_quantity * (2 ** 3)\n")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("8.0") && !optimized.contains("POWER"),
      s"expected folded constant:\n$optimized")
  }
}
