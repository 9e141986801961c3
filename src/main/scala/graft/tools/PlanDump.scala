package graft.tools

/** Dumps `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization rounds' plan-evidence artifact
  * (`plans/rNN/<query>_<label>.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <label> <q1,q2,...|all>
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default: all cores).
  *
  * Runs each query's `prepare` hook first so fixture-backed queries plan
  * against real inputs, and releases fixtures after, through Bench's loop.
  * Scratch paths are written with fixed tokens for the process id and
  * the streaming fixtures' run tag, so two dumps of one plan differ only
  * in plan and expression ids.
  */
object PlanDump {

  /** `plan` with this process's id (the `_<pid>` suffix of driver scratch
    * dirs) and the `sink_`/`ckpt_` run tags replaced by fixed tokens.
    */
  private def stable(plan: String): String =
    plan.replaceAll(s"_${ProcessHandle.current().pid()}(?![0-9])", "_<pid>")
      .replaceAll("\\b(sink|ckpt)_[0-9a-f]+", "$1_<run>")

  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println(
        "usage: runMain graft.tools.PlanDump <outDir> <label> <q1,q2,...|all>\n" +
          "env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), " +
          "SPARK_GRAFT_CPUS (default: all cores)")
      sys.exit(2)
    }
    val Array(outDir, label, qlist) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = graft.SparkEntry.select(Some(qlist).filter(_ != "all"))
    val spark = graft.GraftSession.local(graft.GraftSession.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.Bench.eachQuery(spark, sfDir, names, "plandump") { n =>
      try {
        val txt = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$label.txt"),
          stable(txt).getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${n}_$label.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: $e")
      }
    }
    spark.stop()
  }
}
