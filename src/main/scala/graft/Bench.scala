package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query wall times.
  *
  * Results are forced through the `noop` sink — `count()` would let Catalyst
  * prune every projected expression and benchmark an empty scan.
  *
  * == Why the sweep forks child JVMs ==
  *
  * A 99-query sweep in ONE JVM measures JVM history as much as the query:
  * rows that follow heap-heavy rows (streaming state stores, quantized-IVF
  * buffers, BPE tables) inherit their GC pressure and read 2–3× high —
  * round 9 committed a suite-wide ≈2× drift vs round 8 that isolated
  * probes (one JVM, one query) adjudicated as exactly this artifact, on
  * unchanged code (the r8 row-group incident's sibling, this time in the
  * harness itself). `System.gc()` between runs does not cure it: the LIVE
  * set (codegen cache for ~100 plans, state-store providers, broadcast
  * blocks) grows monotonically over the sweep.
  *
  * So the parent process shards the suite: known heap-heavy queries get a
  * JVM each, the rest run in chunks of ≤ 12 — accumulation is bounded at a
  * bucket, and a regression call on any row compares like with like
  * round-over-round. The committed artifact is the merge of the children
  * (`"mode":"forked"`). Children inherit this JVM's flags (add-opens,
  * -Xmx) and classpath verbatim.
  *
  * Knobs: SPARK_GRAFT_ONLY=q35_salted_join,… runs a subset in-process
  * (the isolated-probe tool); SPARK_GRAFT_OUT overrides the output file.
  *
  * == What an in-process run prints on stderr ==
  *
  * Every run is measured under one [[QueryProfile]], so the cold and the
  * timed runs all pay the same listener cost. After each query, the last
  * timed run's profile prints as one `PROBE` line and its ten slowest
  * stages. Wall − (task time / cores) ≈ the serial fraction: per-stage
  * barriers, driver planning, task launch. A streaming query also prints
  * one `BATCH` line per micro-batch with its `durationMs` breakdown (where
  * the per-batch floor goes: walCommit vs addBatch vs state commit vs
  * source discovery).
  */
object Bench {

  /** Rows that get a solo JVM: every query whose own heap residue is known
    * to distort in-sweep neighbors (streaming state stores, candidate-pair
    * explosions, quantized-IVF/PQ codebooks, whole-table profile buffers).
    */
  private[graft] val SoloQueries = Set(
    "q56_stream_e2e", "q48_cluster_shuffle", "q38_cluster",
    "q29_jaccard_pairs", "q31c_ivf_quant_props", "q60_pq_topk",
    "q52_substring_mask", "q41_profile", "q80_stream_media_e2e",
    "q82_mih_collapse_gate")

  private val BucketSize = 12

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    // a typo'd isolated probe must not emit an empty-but-legit-looking
    // artifact
    val names = SparkEntry.select(only)
    if (only.isEmpty) runForked(sfDir, names)
    else runInProcess(sfDir, names)
  }

  // ---------------------------------------------------------------- parent

  private def runForked(sfDir: String, names: Seq[String]): Unit = {
    // select, not filter: a typo'd solo row must fail, not silently run in
    // a bucket
    val solo = SparkEntry.select(Some(SoloQueries.mkString(","))).map(Seq(_))
    val rest = names.filterNot(SoloQueries.contains)
    val buckets = solo ++ rest.grouped(BucketSize).toSeq
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val cp = System.getProperty("java.class.path")
    val outputs = buckets.zipWithIndex.map { case (bucket, i) =>
      val outFile = java.io.File.createTempFile(s"bench_child_${i}_", ".json")
      outFile.deleteOnExit()
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      jvmArgs.forEach(a => cmd.add(a))
      cmd.add("-cp"); cmd.add(cp)
      cmd.add("graft.Bench")
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_ONLY", bucket.mkString(","))
      pb.environment().put("SPARK_GRAFT_OUT", outFile.getAbsolutePath)
      pb.redirectErrorStream(true)
      val logFile = java.io.File.createTempFile(s"bench_child_${i}_", ".log")
      logFile.deleteOnExit()
      pb.redirectOutput(logFile)
      val rc = pb.start().waitFor()
      val txt =
        try new String(java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
        catch { case _: Throwable => "" }
      if (rc != 0 || !txt.contains("\"metric\"")) {
        // The FIRST child failing with no artifact is almost always an
        // environment problem shared by every child (the classic: launched
        // via an in-JVM runner, so java.class.path is the launcher jar and
        // no child can resolve graft.Bench) — fail fast with the child's
        // output instead of silently committing an all-failed artifact.
        if (i == 0) {
          val log = try new String(
            java.nio.file.Files.readAllBytes(logFile.toPath), "UTF-8")
          catch { case _: Throwable => "" }
          val tail = log.linesIterator.toSeq.takeRight(20).mkString("\n")
          throw new RuntimeException(
            s"[bench] first child (rc=$rc) produced no artifact — aborting the " +
              s"forked sweep (launcher-only classpath? cp=$cp). Child output " +
              s"tail:\n$tail\nLaunch with `sbt \"runMain graft.Bench\"` or " +
              "`java -cp <full classpath> graft.Bench`.")
        }
        System.err.println(s"[bench] child $i (${bucket.mkString(",")}) rc=$rc — marking failed")
        (bucket.map(_ -> -1.0).toMap, bucket.map(_ -> 0.0).toMap, 0.0, bucket)
      } else {
        (parseMap(txt, "queries"), parseMap(txt, "spread"),
          parseNum(txt, "cold_total"), parseFailed(txt))
      }
    }
    val queries = outputs.flatMap(_._1).toMap
    val spreads = outputs.flatMap(_._2).toMap
    val coldTotal = outputs.map(_._3).sum
    val failed = outputs.flatMap(_._4).distinct.sorted
    emit(names, queries, spreads, coldTotal, failed, sfDir, forked = true)
  }

  /** Minimal extraction from a child's known-shape JSON line: the flat
    * string→number object under `key`. No nested objects inside.
    */
  private[graft] def parseMap(json: String, key: String): Map[String, Double] = {
    val m = java.util.regex.Pattern.compile("\"" + key + "\":\\{([^}]*)\\}").matcher(json)
    if (!m.find()) Map.empty
    else m.group(1).split(",").filter(_.contains(":")).map { kv =>
      val Array(k, v) = kv.split(":", 2)
      k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble
    }.toMap
  }

  private[graft] def parseNum(json: String, key: String): Double = {
    // '+' included: JSON permits '1.2E+5' even though Java's Double.toString
    // never emits it — the parser must be total over legal renderings
    val m = java.util.regex.Pattern.compile("\"" + key + "\":([-+0-9.eE]+)").matcher(json)
    if (m.find()) m.group(1).toDouble else 0.0
  }

  private[graft] def parseFailed(json: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile("\"failed\":\\[([^\\]]*)\\]").matcher(json)
    if (!m.find() || m.group(1).trim.isEmpty) Seq.empty
    else m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

  // ----------------------------------------------------------------- child

  private def runInProcess(sfDir: String, names: Seq[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus())
    val profile = QueryProfile.attach(spark.sparkContext)
    spark.streams.addListener(BatchLog)
    def once(name: String): Double = {
      profile.reset()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // Per-query schedule (round 14): the gate-construction rows' fixtures
    // (media renders, WARC archive writes, signature corpora) materialize
    // via SparkEntry.prepare OUTSIDE the timed region, then the query runs
    // cold + 3 timed back-to-back, then its fixtures release — so the
    // committed number measures the OPERATOR, a bucket never carries every
    // earlier query's fixture in executor memory, and the old
    // fork-bucket-adjudication ritual for the fixture-bimodal rows is
    // unnecessary. The cold run still doubles as warm-up (JIT + codegen +
    // parquet footer caches); best-of-3 with the reported SPREAD (max−min)
    // stays the estimator — a delta smaller than its spread is noise. A
    // System.gc() between runs keeps one run's garbage off the next run's
    // clock.
    val perQuery = eachQuery(spark, sfDir, names, "bench") { n =>
      val c = once(n)
      val ts = Seq.fill(3) { System.gc(); once(n) }
      if (ts.last >= 0) printProfile(n, ts.last, profile.snapshot())
      (n, c, ts)
    }
    val cold = perQuery.map { case (n, c, _) => n -> c }
    val runs = perQuery.map { case (n, _, ts) => n -> ts }
    // min/spread over SUCCESSFUL runs only: a −1 sentinel mixed into min()
    // would both be reported as the query's time and vanish from the total.
    val results = runs.map { case (n, ts) =>
      val ok = ts.filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap
    val spreads = runs.map { case (n, ts) =>
      val ok = ts.filter(_ >= 0)
      n -> (if (ok.size < 2) 0.0 else ok.max - ok.min)
    }.toMap
    // Failed queries (−1 sentinel) must not pollute the headline totals —
    // summing −1s both understates the total and hides the failure. A query
    // failing in ANY run (cold or warm) is flagged: an intermittent failure
    // that silently contributes a lucky-run time is the same invisibility
    // class as an always-failing one.
    val failed = (cold.filter(_._2 < 0).map(_._1) ++
      runs.filter(_._2.exists(_ < 0)).map(_._1)).distinct.sorted
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    emit(names, results, spreads, coldTotal, failed, sfDir, forked = false)
    spark.stop()
  }

  /** Runs `body` on each query between its fixture's prepare and release.
    * A failed prepare or release is logged under `tag` and does not stop
    * the loop; a failed prepare leaves `body` to fail on the missing input.
    */
  private[graft] def eachQuery[A](spark: SparkSession, sfDir: String,
      names: Seq[String], tag: String)(body: String => A): Seq[A] =
    names.map { n =>
      SparkEntry.prepare.get(n).foreach { f =>
        try f(spark, sfDir)
        catch { case e: Throwable => System.err.println(s"[$tag] prepare $n: $e") }
      }
      try body(n)
      finally
        try SparkEntry.releaseFixture(n, sfDir)
        catch { case e: Throwable => System.err.println(s"[$tag] release $n: $e") }
    }

  private def printProfile(name: String, wall: Double, p: QueryProfile.Snapshot): Unit = {
    System.err.println(f"PROBE $name%-28s wall=$wall%7.3f s jobs=${p.jobs}%3d " +
      f"stages=${p.stages}%4d tasks=${p.tasks}%5d " +
      f"taskTime=${p.runMs / 1e3}%8.2f s cpu=${p.cpuNs / 1e9}%8.2f s gc=${p.gcMs / 1e3}%6.2f s " +
      f"deser=${p.deserMs / 1e3}%6.2f s resSer=${p.resultSerMs / 1e3}%5.2f s " +
      f"parallel=${p.runMs / 1e3 / wall}%5.2f")
    p.stageRows.toSeq.sortBy(-_._2.runMs).take(10).foreach { case (id, r) =>
      System.err.println(f"  stage $id%4d tasks=${r.tasks}%4d taskTime=${r.runMs / 1e3}%7.2f s " +
        f"gc=${r.gcMs / 1e3}%5.2f deser=${r.deserMs / 1e3}%5.2f  ${r.name}")
    }
  }

  private object BatchLog extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      System.err.println(s"BATCH ${p.batchId} rows=${p.numInputRows} " +
        s"trigger=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
        s"walCommit=${d.get("walCommit")} getBatch=${d.get("getBatch")} " +
        s"latestOffset=${d.get("latestOffset")} " +
        s"queryPlanning=${d.get("queryPlanning")} " +
        s"commitOffsets=${d.get("commitOffsets")} " +
        s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString("/")} " +
        s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).mkString("/")}")
    }
  }

  // ------------------------------------------------------------------ emit

  private def emit(
      names: Seq[String],
      results: Map[String, Double],
      spreads: Map[String, Double],
      coldTotal: Double,
      failed: Seq[String],
      sfDir: String,
      forked: Boolean): Unit = {
    val qs = names.map(n => "\"" + n + "\":" + results.getOrElse(n, -1.0))
      .mkString("{", ",", "}")
    // Locale.ROOT: a comma-decimal default locale would make f"%.3f" emit
    // "0,123", corrupting both the JSON and the parent's merge parse
    val sp = names.map(n => "\"" + n + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(spreads.getOrElse(n, 0.0))))
      .mkString("{", ",", "}")
    val total = names.flatMap(results.get).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val mode = if (forked) "forked" else "single-jvm"
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$sp,"sf":"$sfDir","cold_total":$coldTotal,"failed":$failedJson,"mode":"$mode"}"""
    // stdout (own line; run/outputStrategy passes it through unprefixed) AND
    // a file, so the harness can parse per-query numbers either way.
    println(json)
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_OUT", "bench_out.json"))
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write: $e") }
  }
}
