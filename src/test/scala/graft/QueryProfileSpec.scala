package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase

/** [[QueryProfile]] against an independent listener that keeps every task
  * and every stage-level metric, over a two-stage aggregation: 8 map tasks,
  * then 4 reduce tasks that each hold a hash-aggregation buffer.
  */
class QueryProfileSpec extends SparkTestBase {

  private final class Tally extends SparkListener {
    var jobs = 0
    var stages = 0
    val stagePeaks = ArrayBuffer.empty[Long] // stage-level, Spark-merged
    val tasks = ArrayBuffer.empty[(Int, Long, Long)] // stage, shuffle write, peak
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      stagePeaks += e.stageInfo.taskMetrics.peakExecutionMemory
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      tasks += ((e.stageId, m.shuffleWriteMetrics.bytesWritten, m.peakExecutionMemory))
    }
  }

  // repartition by number: AQE keeps all 4 reduce partitions
  private def query(): Unit =
    spark.range(0, 80000, 1, 8).withColumn("k", col("id") % 1000)
      .repartition(4, col("k")).groupBy(col("k")).agg(sum(col("id")).as("s"))
      .write.format("noop").mode("overwrite").save()

  /** One run measured by `profile` and by a fresh [[Tally]]. */
  private def measured(profile: QueryProfile): (QueryProfile.Snapshot, Tally) = {
    val sc = spark.sparkContext
    val t = new Tally
    profile.reset()
    sc.addSparkListener(t)
    try query()
    finally { ListenerBridge.drain(sc); sc.removeSparkListener(t) }
    (profile.snapshot(), t)
  }

  private def withProfile(body: QueryProfile => Unit): Unit = {
    val profile = QueryProfile.attach(spark.sparkContext)
    try { query(); body(profile) }
    finally spark.sparkContext.removeSparkListener(profile)
  }

  test("counts and shuffle write equal the tasks' own; peak is the max task peak") {
    withProfile { profile =>
      val (p, t) = measured(profile)
      val perStage = t.tasks.groupBy(_._1).map { case (s, ts) => s -> ts.size }
      assert(perStage.values.toSeq.sorted == Seq(4, 8), perStage)
      assert(p.jobs == t.jobs && p.jobs > 0)
      assert(p.stages == t.stages && p.stages >= 2)
      assert(p.tasks == t.tasks.size)
      assert(p.stageRows.map { case (s, r) => s -> r.tasks } == perStage)
      assert(p.shuffleWriteBytes == t.tasks.map(_._2).sum && p.shuffleWriteBytes > 0)
      val maxTaskPeak = t.tasks.map(_._3).max
      assert(p.peakExecBytes == maxTaskPeak && maxTaskPeak > 0)
      // the stage-level figure sums the 4 reduce tasks' peaks
      assert(p.peakExecBytes < t.stagePeaks.max)
    }
  }

  test("after reset, a second measured run reads the same counts") {
    withProfile { profile =>
      val (a, _) = measured(profile)
      val (b, tb) = measured(profile)
      assert(b.tasks == tb.tasks.size)
      assert((b.jobs, b.stages, b.tasks, b.stageRows.values.map(_.tasks).toSeq.sorted) ==
        (a.jobs, a.stages, a.tasks, a.stageRows.values.map(_.tasks).toSeq.sorted))
      assert(b.shuffleWriteBytes == tb.tasks.map(_._2).sum)
    }
  }
}
