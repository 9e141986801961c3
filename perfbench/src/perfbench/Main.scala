package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.dftly.{Dftly, Node, Yaml}

/** A span of the traced run; `parent` is the enclosing span's name. */
final case class Span(name: String, iter: Int, startNs: Long, endNs: Long, parent: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One timed iteration: config text → output fully written. `planMs` is the
  * sink's own optimization and planning; `execS` is the rest of the sink.
  */
final case class Iter(
    i: Int, traced: Boolean, failed: Boolean, iterS: Double, buildMs: Double,
    planMs: Double, execS: Double, layers: Map[String, Double])

/** The benchmark's JVM side: one closed-loop client running one workload's
  * iterations back to back on a local session, then checking outputs. The
  * Python launcher (run.py) builds the classpath, picks the core count and
  * turns the result file into the reported metric line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores> <workDir> <resultFile>
  */
object Main {
  /** Traced iterations whose per-layer numbers are reported; counts over a
    * fixed set of iterations repeat exactly for a given seed.
    */
  val tracedReported = 2

  /** Rounds of input generation in set-up. */
  val inputRounds = 3

  /** `ops` counters of workloads that run no curation operator: 0. */
  val opsUnused = Seq("ops.dedup_exact.drop_frac", "ops.near_dup.drop_frac", "ops.near_dup.recall",
    "ops.graft_obs.buckets.max_bucket", "ops.graft_obs.buckets.buckets_truncated",
    "ops.graft_obs.buckets.rows_in_truncated")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cores, dir, resultFile) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .pipe(graft.SessionTuning.apply)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w = Workloads(workload, spark, s"$dir/data", seed)
    // the inputs are generated several times (each round writes the same
    // files) and the median round counts, so one slow round does not move
    // setup_s
    val inputsS = Stats.median((1 to inputRounds).map { _ =>
      val t = System.nanoTime()
      w.setup()
      (System.nanoTime() - t) / 1e9
    })
    val tWarm = System.nanoTime()
    val lastQuery = new LastQuery(spark)
    for (k <- 1 to w.warmups) runIteration(w, w.config(-k), -k, lastQuery, None)
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + inputsS + warmupS
    val setupCodegen = Map(
      "codegen.setup.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.setup.compile_ms" -> CodeGenerator.compileTime / 1e6)

    // traced runs alternate untraced and traced iterations, so the tracing
    // overhead is measured within one run
    val collector = if (trace) Some(new Collector(spark)) else None
    // at least four iterations, of which a traced run traces two
    val minIters = 2 * tracedReported
    val iters = ArrayBuffer.empty[Iter]
    val spans = ArrayBuffer.empty[Span]
    var last = Option.empty[(Config, DataFrame)]
    val loopStart = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val cfg = w.config(i)
      val c = collector.filter(_ => i % 2 == 1)
      val (it, df) = runIteration(w, cfg, i, lastQuery, c.map(_ -> spans))
      iters += it
      if (df != null) last = Some(cfg -> df)
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    // output check of the last iteration, outside every timed region
    val checks = last.toSeq.map { case (cfg, df) => w.check(cfg, df) }
    val opsCounters = last.filter(_ => trace).map(l => w.opsCounters(l._1)).getOrElse(Map.empty)
    collector.foreach(_.close())

    val ok = iters.exists(!_.failed) && checks.forall(_.ok)
    val failed = iters.count(_.failed)
    val done = iters.filterNot(_.failed)
    val iterTimes = iters.map(it => if (it.failed) Double.PositiveInfinity else it.iterS).toSeq
    val p50 = Stats.median(iterTimes)
    val e2e = ArrayBuffer[(String, Double, String)](
      ("setup_s", setupS, "s"),
      ("iter_s.p50", p50, "s"),
      ("build_ms.p50", Stats.median(done.map(_.buildMs).toSeq), "ms"),
      ("plan_ms.p50", Stats.median(done.map(_.planMs).toSeq), "ms"),
      ("exec_s.p50", Stats.median(done.map(_.execS).toSeq), "s"),
      ("rows_per_s", w.inputRows / p50, "rows/s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"),
      ("fail_frac", failed.toDouble / iters.size, "ratio"),
      ("output_ok", if (checks.nonEmpty && checks.forall(_.ok)) 1.0 else 0.0, "0/1"))
    val tail = Stats.tail(iterTimes)
    tail.foreach { case (pct, v) => e2e.insert(2, ("iter_s.tail", v, "s")) }

    val layers = ArrayBuffer.empty[(String, Double, String)]
    if (trace) {
      val traced = iters.filter(_.traced)
      val reported = traced.take(tracedReported)
      val names = reported.flatMap(_.layers.keys).distinct.sorted
      for (n <- names) layers += ((n, Stats.median(reported.map(_.layers.getOrElse(n, 0.0)).toSeq), Units.of(n)))
      val extra = opsUnused.map(_ -> 0.0).toMap ++ opsCounters ++ setupCodegen
      for ((n, v) <- extra.toSeq.sortBy(_._1) if !names.contains(n)) layers += ((n, v, Units.of(n)))
      val untracedP50 = Stats.median(iters.filter(it => !it.traced && !it.failed).map(_.iterS).toSeq)
      val tracedP50 = Stats.median(traced.filterNot(_.failed).map(_.iterS).toSeq)
      layers += (("trace.overhead_ms", (tracedP50 - untracedP50) * 1e3, "ms"))
      Files.write(Paths.get(s"$dir/trace.json"), Stats.spansJson(spans.toSeq, loopStart)
        .getBytes(StandardCharsets.UTF_8))
    }

    // report: every metric by name with its unit, then the checks
    println(f"workload $workload seed $seed cores $cores: ${iters.size} iterations in $loopS%.1f s " +
      f"(session $sessionS%.2f s, inputs $inputsS%.2f s, warm-up $warmupS%.2f s)")
    for ((n, v, u) <- e2e) println(f"  $n%-14s ${Stats.fmt(v)}%14s $u")
    tail match {
      case Some((pct, _)) => println(f"  (iter_s.tail is p$pct%.1f of n=${iters.size})")
      case None => println(s"  (iter_s.tail omitted: n=${iters.size} < 20)")
    }
    println("  iterations (s = build + plan + exec): " + iters.map(it =>
      f"${it.iterS}%.2f = ${it.buildMs / 1e3}%.2f + ${it.planMs / 1e3}%.2f + ${it.execS}%.2f").mkString(", "))
    for (c <- checks) println(s"  check ${if (c.ok) "ok" else "FAILED"}: ${c.detail}")
    iters.filter(_.failed).foreach(it => println(s"  iteration ${it.i} FAILED"))
    for ((n, v, u) <- layers) println(f"  $n%-40s ${Stats.fmt(v)}%14s $u")

    val json = Stats.resultJson(ok, iters.size, failed, (e2e ++ layers).toSeq)
    Files.write(Paths.get(resultFile), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Runs one iteration: build, then sink. The sink optimizes and plans its
    * write command inside the action, so plan time is read afterwards from
    * that command's own planning tracker and exec time is the rest of the
    * sink. With a collector, records spans and per-layer numbers; the
    * front-end replay runs after the iteration's spans close.
    */
  def runIteration(
      w: Workload, cfg: Config, i: Int, lastQuery: LastQuery,
      traced: Option[(Collector, ArrayBuffer[Span])]): (Iter, DataFrame) = {
    val c = traced.map(_._1)
    val t0 = System.nanoTime()
    var (t1, t2) = (t0, t0)
    var snaps = Vector.empty[Snap]
    var df: DataFrame = null
    val failed =
      try {
        c.foreach(snaps :+= _.snap())
        df = w.build(cfg)
        c.foreach(snaps :+= _.snap())
        t1 = System.nanoTime()
        w.sink(cfg, df)
        c.foreach(snaps :+= _.snap())
        t2 = System.nanoTime()
        false
      } catch {
        case e: Exception =>
          System.err.println(s"iteration $i failed: $e")
          t2 = System.nanoTime()
          df = null
          true
      }
    val planMs = if (failed) 0.0 else lastQuery.planMs()
    val tp = t1 + (planMs * 1e6).toLong
    val layers = traced match {
      case Some((col, spans)) if !failed =>
        spans ++= Seq(Span("iter", i, t0, t2, ""), Span("build", i, t0, t1, "iter"),
          Span("plan", i, t1, tp, "iter"), Span("exec", i, tp, t2, "iter"))
        val Seq(s0, s1, s2) = snaps
        val analyzed = Plans.qe(df).analyzed
        val sunkQe = lastQuery()
        val phases = sunkQe.tracker.phases
        val sunk = sunkQe.executedPlan
        val (b, e) = (col.delta(s0, s1), col.delta(s1, s2))
        val front = replay(cfg, df, i, spans)
        val frontMs = front("dftly.yaml.ms") + front("dftly.parse.ms") + front("dftly.compile.ms")
        val (buildMs, execMs) = ((t1 - t0) / 1e6, (t2 - tp) / 1e6)
        col.exec(s1, s2, w.inputRows) ++ Plans.graftObservations(sunk) ++ front ++ Map(
          "pipeline.steps" -> cfg.steps.toDouble,
          "span.build.ms" -> buildMs,
          "span.plan.ms" -> planMs,
          "span.exec.ms" -> execMs,
          // self time of each layer; together they are the iteration
          "self.dftly.ms" -> frontMs,
          "self.pipeline.ms" -> (buildMs - frontMs - b.ruleMs),
          "self.catalyst.ms" -> (b.ruleMs + planMs),
          "self.codegen.ms" -> e.compileMs,
          "self.exec.ms" -> (execMs - e.compileMs),
          "catalyst.build.rule_runs" -> b.ruleRuns,
          "catalyst.build.rule_effective" -> b.ruleEffective,
          "catalyst.build.rule_ms" -> b.ruleMs,
          "catalyst.plan.rule_runs" -> e.ruleRuns,
          "catalyst.optimization.ms" -> phases.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0),
          "catalyst.planning.ms" -> phases.get("planning").map(_.durationMs.toDouble).getOrElse(0.0),
          "catalyst.analyzed.projects" -> Plans.projects(analyzed).toDouble,
          "catalyst.analyzed.nodes" -> Plans.nodes(analyzed).toDouble,
          "catalyst.physical.nodes" -> Plans.physical(sunk).size.toDouble,
          "catalyst.wscg.stages" -> Plans.wscgStages(sunk).toDouble,
          "codegen.compiles" -> e.compiles,
          "codegen.compile.ms" -> e.compileMs,
          "codegen.bytecode.kb" -> e.bytecodeKb,
          "codegen.fallbacks" -> Plans.codegenFallbacks(sunk).toDouble)
      case _ => Map.empty[String, Double]
    }
    (Iter(i, traced.nonEmpty, failed, (t2 - t0) / 1e9, (t1 - t0) / 1e6, planMs,
      (t2 - tp) / 1e9, layers), df)
  }

  /** The iteration's op-map replayed through the public front end, one span
    * per stage, recorded as siblings after the iteration.
    */
  private def replay(cfg: Config, df: DataFrame, i: Int, spans: ArrayBuffer[Span]): Map[String, Double] = {
    def timed[T](name: String)(f: => T): T = {
      val s = System.nanoTime()
      val r = f
      spans += Span(name, i, s, System.nanoTime(), "")
      r
    }
    val schema = Some(df.schema)
    val entries = timed("dftly.yaml")(Yaml.loadExprMap(cfg.opMap))
    val nodes = timed("dftly.parse")(entries.map { case (_, v) => Dftly.parse(v) })
    val cols = timed("dftly.compile")(nodes.map(n => Dftly.compile(n, schema)))
    val last = spans.takeRight(3)
    Map(
      "dftly.yaml.ms" -> last(0).ms,
      "dftly.parse.ms" -> last(1).ms,
      "dftly.parse.nodes" -> nodes.map(nodeCount).sum.toDouble,
      "dftly.compile.ms" -> last(2).ms,
      "dftly.compile.columns" -> cols.size.toDouble)
  }

  private def nodeCount(n: Node): Int = 1 + n.children.map(nodeCount).sum
}

object Units {
  def of(name: String): String =
    if (name.endsWith(".ms") || name.endsWith("_ms")) "ms"
    else if (name.endsWith(".mb")) "MB"
    else if (name.endsWith(".kb")) "KB"
    else if (name.endsWith("ns_per_row")) "ns/row"
    else if (name.endsWith("_frac") || name.endsWith("recall") || name.endsWith("skew")) "ratio"
    else "count"
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank), omitted below 20 samples: (percentile, value).
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val rank = s.size - 10
      Some((100.0 * rank / s.size, s(rank - 1)))
    }

  /** High-water resident set of this JVM, from /proc (Linux). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def fmt(v: Double): String = if (v == v.floor && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.6g"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultJson(ok: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}\n")

  /** Spans with their self time: duration minus that of their children. */
  def spansJson(spans: Seq[Span], originNs: Long): String =
    spans.map { s =>
      val self = s.ms - spans.filter(c => c.iter == s.iter && c.parent == s.name).map(_.ms).sum
      f"""{"name": "${s.name}", "iter": ${s.iter}, "start_ms": ${(s.startNs - originNs) / 1e6}%.3f, """ +
        f""""end_ms": ${(s.endNs - originNs) / 1e6}%.3f, "self_ms": $self%.3f, "parent": "${s.parent}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
