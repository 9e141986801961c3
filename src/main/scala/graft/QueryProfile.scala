package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler._

/** The program's one task-metrics listener: what the jobs, stages and tasks
  * that finished between a [[reset]] and a [[snapshot]] did, summed from
  * `onTaskEnd`. Bench's in-process runs and ScaleBench attach one per
  * session.
  *
  * Peak execution memory is the max over TASKS. A stage's
  * `stageInfo.taskMetrics` merges its tasks' accumulators by sum, so the
  * stage-level `peakExecutionMemory` is the sum of the task peaks, not a
  * peak.
  *
  * Listener events arrive asynchronously: [[reset]] and [[snapshot]] both
  * drain the bus first, so neither races a late event of the query before.
  */
final class QueryProfile private (sc: SparkContext) extends SparkListener {
  import QueryProfile._

  private var cur = Snapshot()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { cur = cur.copy(jobs = cur.jobs + 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    if (!cur.stageRows.contains(s.stageId))
      cur = cur.copy(stageRows = cur.stageRows.updated(s.stageId, StageRow(s.name.take(90))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur = cur.copy(stages = cur.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    cur = if (m == null) cur.copy(tasks = cur.tasks + 1) else cur.copy(
      tasks = cur.tasks + 1,
      runMs = cur.runMs + m.executorRunTime,
      cpuNs = cur.cpuNs + m.executorCpuTime,
      gcMs = cur.gcMs + m.jvmGCTime,
      deserMs = cur.deserMs + m.executorDeserializeTime,
      resultSerMs = cur.resultSerMs + m.resultSerializationTime,
      shuffleReadBytes = cur.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = cur.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      memSpillBytes = cur.memSpillBytes + m.memoryBytesSpilled,
      diskSpillBytes = cur.diskSpillBytes + m.diskBytesSpilled,
      peakExecBytes = math.max(cur.peakExecBytes, m.peakExecutionMemory),
      stageRows = cur.stageRows.updatedWith(e.stageId)(_.map(r => r.copy(
        tasks = r.tasks + 1,
        runMs = r.runMs + m.executorRunTime,
        gcMs = r.gcMs + m.jvmGCTime,
        deserMs = r.deserMs + m.executorDeserializeTime))))
  }

  /** Forget everything seen so far. */
  def reset(): Unit = {
    ListenerBridge.drain(sc)
    synchronized { cur = Snapshot() }
  }

  /** Everything seen since the last [[reset]]. */
  def snapshot(): Snapshot = {
    ListenerBridge.drain(sc)
    synchronized(cur)
  }
}

object QueryProfile {

  /** Times in the units Spark reports them: run, GC, deserialize and
    * result-serialize in ms, CPU in ns.
    */
  final case class Snapshot(
      jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      deserMs: Long = 0, resultSerMs: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      memSpillBytes: Long = 0, diskSpillBytes: Long = 0,
      peakExecBytes: Long = 0,
      stageRows: Map[Int, StageRow] = Map.empty)

  /** One stage's task count and summed task times (ms); `name` is the
    * stage's call site, cut to 90 chars.
    */
  final case class StageRow(
      name: String, tasks: Int = 0, runMs: Long = 0, gcMs: Long = 0, deserMs: Long = 0)

  /** A profile listening on `sc` from now until the context stops. */
  def attach(sc: SparkContext): QueryProfile = {
    val p = new QueryProfile(sc)
    sc.addSparkListener(p)
    p
  }
}
