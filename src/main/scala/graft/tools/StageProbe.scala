package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._

/** Where does the wall time of a query go at a given core count?
  *
  * Runs each named SparkEntry query once cold (warm-up: JIT, codegen,
  * footer caches) and once measured under a listener that tallies jobs,
  * stages, tasks, summed task run time, summed GC time and summed
  * scheduler-visible overhead (deserialize + result serialize). Wall −
  * (task time / cores) ≈ the serial fraction: per-stage barriers, driver
  * planning, task launch. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StageProbe q20b_simhash_props"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <query>[,<query>...]")
    val names = graft.SparkEntry.select(Some(args.mkString(",")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong   // executorRunTime summed
    val cpuNs = new AtomicLong    // executorCpuTime summed
    val gcMs = new AtomicLong
    val deserMs = new AtomicLong
    val resultMs = new AtomicLong
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (String, AtomicInteger, AtomicLong, AtomicLong, AtomicLong)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stageAgg.putIfAbsent(s.stageInfo.stageId,
          (s.stageInfo.name.take(90), new AtomicInteger, new AtomicLong, new AtomicLong, new AtomicLong))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          resultMs.addAndGet(m.resultSerializationTime)
          val e = stageAgg.get(t.stageId)
          if (e != null) {
            e._2.incrementAndGet(); e._3.addAndGet(m.executorRunTime)
            e._4.addAndGet(m.jvmGCTime); e._5.addAndGet(m.executorDeserializeTime)
          }
        }
      }
    }

    names.foreach { n =>
      graft.SparkEntry.prepare.get(n).foreach(_(spark, sfDir))
      val q = graft.SparkEntry.queries(n)
      q(spark, sfDir).write.format("noop").mode("overwrite").save() // cold
      System.gc()
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0); cpuNs.set(0); gcMs.set(0); deserMs.set(0); resultMs.set(0)
      stageAgg.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"PROBE $n%-28s wall=$wall%7.3f s jobs=${jobs.get}%3d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%5d " +
        f"taskTime=${taskMs.get / 1e3}%8.2f s cpu=${cpuNs.get / 1e9}%8.2f s gc=${gcMs.get / 1e3}%6.2f s " +
        f"deser=${deserMs.get / 1e3}%6.2f s resSer=${resultMs.get / 1e3}%5.2f s " +
        f"parallel=${taskMs.get / 1e3 / wall}%5.2f")
      import scala.jdk.CollectionConverters._
      stageAgg.asScala.toSeq.sortBy(-_._2._3.get).take(10).foreach {
        case (id, (nm, tc, tt, gc, de)) =>
          println(f"  stage $id%4d tasks=${tc.get}%4d taskTime=${tt.get / 1e3}%7.2f s " +
            f"gc=${gc.get / 1e3}%5.2f deser=${de.get / 1e3}%5.2f  $nm")
      }
      graft.SparkEntry.releaseFixture(n, sfDir)
    }
    spark.stop()
  }
}
