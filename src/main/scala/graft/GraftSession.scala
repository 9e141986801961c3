package graft

import org.apache.spark.sql.SparkSession

/** The local session every entry point runs on (Bench, Verify, ScaleBench
  * and the tools): `local[cpus]`, UTC session time zone, UI off,
  * [[SessionTuning]], WARN logs.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(cpus: Int): SparkSession = local(cpus, cpus)

  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
