package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev convenience: SPARK_GRAFT_ONLY=q52_substring_mask,q14_textstats
    // restricts the dump to the named queries (driver sets nothing → all)
    val names = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.local(GraftSession.cpus(default = 4))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // a rerun into the same outDir must not leave a stale failure
        // sidecar next to a now-green parquet
        Files.deleteIfExists(Paths.get(s"$outDir/_errors/$name.txt"))
        ()
      } catch { case e: Throwable =>
        // A failed query must stay VISIBLE in the correctness report: write
        // an error sidecar where the parquet would be, so the driver (and a
        // human diffing outDir) sees a red row instead of a shorter file.
        // (Round 7 lesson: three analysis failures silently vanished.)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          val d = Paths.get(s"$outDir/_errors")
          Files.createDirectories(d)
          Files.writeString(d.resolve(s"$name.txt"),
            s"${e.getClass.getName}: ${e.getMessage}\n")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
