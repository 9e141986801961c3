package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch duration breakdown for the streaming gates (q56/q80):
  * runs the named query once (its own writeStream lifecycle included) with
  * a session-level StreamingQueryListener and prints each batch's
  * durationMs map — where the per-batch floor actually goes (walCommit vs
  * addBatch vs state commit vs source discovery).
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StreamProbe q56_stream_e2e"
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamProbe <query>[,<query>...]")
    val names = graft.SparkEntry.select(Some(args.mkString(",")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        println(s"BATCH ${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
          s"walCommit=${d.get("walCommit")} getBatch=${d.get("getBatch")} " +
          s"latestOffset=${d.get("latestOffset")} " +
          s"queryPlanning=${d.get("queryPlanning")} " +
          s"commitOffsets=${d.get("commitOffsets")} " +
          s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString("/")} " +
          s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).mkString("/")}")
      }
    }
    spark.streams.addListener(listener)
    names.foreach { n =>
      graft.SparkEntry.prepare.get(n).foreach(_(spark, sfDir))
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"STREAMPROBE $n wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
      graft.SparkEntry.releaseFixture(n, sfDir)
    }
    spark.stop()
  }
}
