package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{CollectMetricsExec, InputAdapter, ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, as the listener saw it. */
final case class TaskRec(
    stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, peakMem: Long, outputWrite: Long)

/** Cumulative counters at one instant; per-layer numbers are deltas of two. */
final case class Snap(
    jobs: Int, stages: Int, tasks: Int, ruleRuns: Long, ruleEffective: Long,
    ruleNs: Long, compiles: Long, compileNs: Long, bytecode: Long)

/** Catalyst and codegen work between two snapshots. */
final case class Delta(
    ruleRuns: Double, ruleEffective: Double, ruleMs: Double, compiles: Double,
    compileMs: Double, bytecodeKb: Double)

/** The query the last action executed, kept by a QueryExecutionListener.
  * After a sink this is its write command: the action optimizes and plans
  * the built DataFrame's query inside itself, and the command's
  * QueryPlanningTracker times those phases.
  */
final class LastQuery(spark: SparkSession) {
  @volatile private var last: QueryExecution = _
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = qe
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  def apply(): QueryExecution = { ListenerBridge.drain(spark.sparkContext); last }

  /** Optimization plus physical planning of the last query, in ms. */
  def planMs(): Double = {
    val phases = apply().tracker.phases
    Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs.toDouble).sum
  }
}

/** Reads every per-layer counter from outside the program: a SparkListener
  * drained through `ListenerBridge.drain` (never a sleep), Catalyst's global
  * rule metering and Spark's codegen metrics. Nothing here is installed
  * unless the run is traced.
  */
final class Collector(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val tasks = ArrayBuffer.empty[TaskRec]
  private var jobs = 0
  private var stages = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.outputMetrics.bytesWritten)
      }
    }
  }
  sc.addSparkListener(listener)

  def close(): Unit = sc.removeSparkListener(listener)

  // The class-size histogram keeps every sample only until its reservoir
  // (1028 entries) fills; past that its sum is a random subset.
  private val reservoir = 1028

  def snap(): Snap = {
    ListenerBridge.drain(sc)
    val r = RuleExecutor.getCurrentMetrics()
    val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    require(h.getCount <= reservoir,
      s"codegen class-size histogram overflowed its reservoir (${h.getCount} samples)")
    synchronized {
      Snap(jobs, stages, tasks.size, r.numRuns, r.numEffectiveRuns, r.time,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
        h.getSnapshot.getValues.sum)
    }
  }

  def delta(a: Snap, b: Snap): Delta = Delta(
    (b.ruleRuns - a.ruleRuns).toDouble, (b.ruleEffective - a.ruleEffective).toDouble,
    (b.ruleNs - a.ruleNs) / 1e6, (b.compiles - a.compiles).toDouble,
    (b.compileNs - a.compileNs) / 1e6, (b.bytecode - a.bytecode) / 1024.0)

  /** Execution counters of the tasks and stages finished between two snapshots. */
  def exec(a: Snap, b: Snap, inputRows: Long): Map[String, Double] = {
    val ts = synchronized(tasks.slice(a.tasks, b.tasks).toVector)
    val mb = 1024.0 * 1024.0
    // skew: slowest task over the median task, worst stage with ≥ 2 tasks
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val run = st.map(_.runMs).sorted
      run.last.toDouble / math.max(run(run.size / 2), 1L)
    }.maxOption.getOrElse(1.0)
    Map(
      "exec.jobs" -> (b.jobs - a.jobs).toDouble,
      "exec.stages" -> (b.stages - a.stages).toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_cpu.ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.task_run.ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.gc.ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.cpu_ns_per_row" -> ts.map(_.cpuNs).sum.toDouble / inputRows,
      "exec.task_skew" -> skew,
      "exec.shuffle_write.mb" -> ts.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read.mb" -> ts.map(_.shuffleRead).sum / mb,
      "exec.spill.mb" -> ts.map(_.spill).sum / mb,
      "exec.peak_exec_mem.mb" -> ts.map(_.peakMem).maxOption.getOrElse(0L) / mb,
      "exec.output_write.mb" -> ts.map(_.outputWrite).sum / mb)
  }
}

/** Tree walks over the plans a query went through. */
object Plans {
  def qe(df: DataFrame): QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  def projects(p: LogicalPlan): Int = p.collect { case _: Project => 1 }.size
  def nodes(p: LogicalPlan): Int = p.collect { case _ => 1 }.size

  /** Every physical node, looking through the adaptive root and its stages. */
  def physical(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
    case q: QueryStageExec        => physical(q.plan)
    case o                        => o +: o.children.flatMap(physical)
  }

  def wscgStages(p: SparkPlan): Int = physical(p).count(_.isInstanceOf[WholeStageCodegenExec])

  /** Operators whose generated code does not compile, so Spark ran them
    * interpreted: whole-stage codegen stages, and projections too wide for
    * whole-stage codegen (more than `spark.sql.codegen.maxFields` outputs)
    * that compile their own row projection in every task. Compiled again
    * here, outside the timed region; a failed compile is not cached.
    */
  def codegenFallbacks(p: SparkPlan): Int = {
    def fails(compile: => Any) = scala.util.Try(compile).isFailure
    // the operators a whole-stage codegen stage reads from, past its own
    def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case i: InputAdapter => Seq(i.child)
      case o               => o.children.flatMap(inputs)
    }
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case w: WholeStageCodegenExec =>
        (if (fails(CodeGenerator.compile(w.doCodeGen()._2))) 1 else 0) + inputs(w.child).map(walk).sum
      case proj: ProjectExec =>
        (if (fails(GenerateUnsafeProjection.generate(proj.projectList, proj.child.output))) 1 else 0) +
          walk(proj.child)
      case o => o.children.map(walk).sum
    }
    walk(p)
  }

  /** `graft_` observations, keyed by name without the per-instance suffix;
    * values of the same field are summed over instances.
    */
  def graftObservations(p: SparkPlan): Map[String, Double] =
    physical(p).collect {
      case c: CollectMetricsExec if c.name.startsWith("graft_") =>
        val kind = c.name.stripPrefix("graft_").takeWhile(_ != '_')
        val row = c.collectedMetrics
        row.schema.fieldNames.toSeq.zipWithIndex.map { case (f, i) =>
          s"ops.graft_obs.$kind.$f" -> (if (row.isNullAt(i)) 0.0 else row.getAs[Number](i).doubleValue)
        }
    }.flatten.groupMapReduce(_._1)(_._2)(_ + _)
}
