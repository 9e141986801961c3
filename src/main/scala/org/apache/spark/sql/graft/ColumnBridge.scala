package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ⇄ catalyst-Expression
  * converters, for registering custom native expressions
  * (graft.ops.expr). Lives in the org.apache.spark.sql namespace solely to
  * satisfy the access qualifier — the standard extension-library pattern.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly-converted catalyst tree (no lazy ColumnNodeExpression wrapper —
    * the wrapper is Unevaluable and survives analysis when injected through
    * the function registry rather than a DataFrame API).
    */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Lineage truncation without a row codec round-trip: re-root `df` as a
    * fresh frame over its executed plan's `InternalRow` RDD
    * (`internalCreateDataFrame`, the same mechanism `Dataset.checkpoint`
    * uses internally). Unlike the public `createDataFrame(df.rdd, schema)`
    * route this skips the InternalRow→Row→InternalRow encoder pass, which
    * dominates per-round cost in iterative algorithms on wide frames.
    *
    * The caller owns the cache contract: persist `df` BEFORE calling this,
    * or every downstream use of the result recomputes the full upstream
    * plan (the returned frame shares `df`'s physical RDD, cached or not).
    */
  def truncateLineage(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** The ONE physical `InternalRow` RDD behind `df`'s plan. Running several
    * jobs against this same RDD object is the `RDD.zipWithIndex` consistency
    * idiom: any shuffle inside is planned (and its range bounds sampled)
    * exactly once, its map outputs are reused across the jobs, and per-
    * partition recomputation replays the same lineage — unlike executing
    * two separately-planned DataFrame actions over the same logical plan,
    * where each execution samples its own range bounds (`RangePartitioner`
    * seeds on `rdd.id`).
    */
  def internalRowRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd

  /** Wrap an `InternalRow` RDD (e.g. a transformation of
    * [[internalRowRdd]]'s result) back into a DataFrame.
    */
  def dataFrameFromInternalRows(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** `df` minus a TOP-LEVEL round-robin `repartition(n)`, if one is there.
    *
    * For an operator branch whose very next step is a hash exchange (a
    * join-back / groupBy on a key), an inherited `repartition(n)` — e.g.
    * [[graft.ops.Dedup.ensureParallelism]]'s narrow-scan guard on the
    * CALLER's frame — is a pure waste: the round-robin exchange moves the
    * full rows (text included) once, only for the hash exchange above it
    * to move them again. Stripping a round-robin changes distribution
    * only, never content, and the consumer re-distributes immediately, so
    * this is sound wherever the values themselves are partition-independent.
    * Only the exact top node is stripped, and only the keyless
    * `Repartition(shuffle = true)` form — a keyed
    * `repartitionByExpression` may carry caller intent and is left alone.
    *
    * Partition-SENSITIVE projections block the strip: an expression such as
    * `monotonically_increasing_id()`, `spark_partition_id()`,
    * `input_file_name()` or `rand()` evaluated above the round-robin mints
    * different values once the exchange is removed — and a caller that
    * joins this branch back against an unstripped sibling on such an id
    * would silently mismatch. Any non-deterministic expression in a
    * traversed Project therefore disables the removal.
    */
  def stripTopRoundRobin(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      InputFileName, MonotonicallyIncreasingID, SparkPartitionID}
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, Project, Repartition, SubqueryAlias}
    def partitionSensitive(pr: Project): Boolean =
      pr.projectList.exists(_.exists {
        case e if !e.deterministic        => true
        case _: MonotonicallyIncreasingID => true
        case _: SparkPartitionID          => true
        case _: InputFileName             => true
        case _                            => false
      })
    // Descends through row-local wrappers only (Project/SubqueryAlias —
    // running those at scan width costs nothing; the hash exchange above
    // re-widens anyway) and returns the plan without the round-robin, or
    // None where there is none to remove. `Repartition` preserves its
    // child's output attributes, so removal never breaks resolution.
    def strip(p: LogicalPlan): Option[LogicalPlan] = p match {
      case pr: Project if partitionSensitive(pr) => None
      case pr: Project                 => strip(pr.child).map(c => pr.copy(child = c))
      case sa: SubqueryAlias           => strip(sa.child).map(c => sa.copy(child = c))
      case Repartition(_, true, child) => Some(child)
      case _                           => None
    }
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    // ANALYZED plan: DataFrame-API expressions reach the raw logical plan
    // as UnresolvedFunction nodes, whose default `deterministic` is true —
    // the partition-sensitivity bail above can only see the real
    // expression classes after resolution.
    strip(ds.queryExecution.analyzed)
      .fold(df)(org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, _))
  }

  /** All `CollectMetrics` observations in `df`'s EXECUTED plan, including
    * those buried under AQE — `AdaptiveSparkPlanExec` is a leaf to plan
    * traversals, so the stock `QueryExecution.observedMetrics` returns {}
    * for any observed query that also contains an exchange once adaptive
    * execution is on (which is this library's default posture). Descends
    * into the adaptive plan explicitly. When the same observation name
    * appears at several plan positions (a self-join reusing one observed
    * exchange — only the executed copy's accumulator fills), keeps the row
    * with data.
    */
  def observedMetricsAll(df: org.apache.spark.sql.DataFrame)
      : Map[String, org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // three leaf-like wrappers hide the real tree from stock traversals:
    // the AQE root (executedPlan), each materialized stage (plan), and
    // reused exchanges/subqueries (child) — all descended here
    def gather(p: SparkPlan): Seq[(String, org.apache.spark.sql.Row)] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => gather(a.executedPlan)
        case q: QueryStageExec        => gather(q.plan)
        case c: CollectMetricsExec    => Seq(c.name -> c.collectedMetrics)
        case _                        => Nil
      }
      here ++ p.children.flatMap(gather)
    }
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    gather(ds.queryExecution.executedPlan)
      .groupBy(_._1)
      .map { case (name, rows) =>
        // the executed copy has real accumulator contents; a never-ran
        // instance reports nulls/zeros — prefer the numerically largest
        // row (sound for monotone metrics: counts, maxes, sums)
        name -> rows.map(_._2).maxBy { r =>
          (0 until r.length).map { i =>
            r.get(i) match {
              case n: java.lang.Number => n.longValue()
              case _                   => 0L
            }
          }.sum
        }
      }
  }
}
