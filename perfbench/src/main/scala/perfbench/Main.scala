package perfbench

import graft.LogPipeline
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (see perfbench/README.md).
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --root DIR
  * perfbench.Main --selftest --root DIR
  * }}}
  *
  * Untraced (`--trace 0`), a run sets up, measures for S seconds and prints
  * the end-to-end metrics; traced (`--trace 1`), it measures the same loop
  * without and then with spans and the engine listener, runs the staged
  * prefixes, and prints the per-layer metrics. The last stdout line is the
  * result object.
  */
object Main {
  val Cores = 4
  /** The end-to-end metrics every workload has; BENCHMARK.json bounds them. */
  val EndToEnd = Set("setup_s", "rows_per_s", "iter_s_p50")

  def workload(name: String, seed: Long): Workload = name match {
    case "route_fanout" => new RouteFanout(seed)
    case "microbatch_commit" => new Microbatch(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The library's production session defaults at local[Cores]. */
  def session(cores: Int): SparkSession = {
    val s = LogPipeline.session(s"perfbench-$cores", s"local[$cores]", shufflePartitions = 2 * Cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Paths.get(opts.getOrElse("root", sys.error("--root is required")))
    if (args.contains("--selftest")) sys.exit(SelfTest.run(root))
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", sys.error("--seed is required")).toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val code =
      try run(root, name, seed, seconds, trace)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(root: Path, name: String, seed: Long, seconds: Int, trace: Boolean): Int = {
    val w = workload(name, seed)
    val work = root.resolve("work").resolve(s"$name-${ProcessHandle.current().pid()}")
    val spark = session(Cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, seed, work.resolve("inputs"), work)
    try {
      val (_, genS) = Io.time(w.prepare(ctx))
      val rounds = (1 to w.setupRounds).map(_ => Io.time(w.setupRound(ctx))._2)
      val setupS = sessionS + Stats.median(rounds)
      say(f"setup: session $sessionS%.3f s, input generation $genS%.3f s (not counted), " +
        s"rounds ${rounds.map(r => f"$r%.3f").mkString(", ")} s")
      val (out, metrics) =
        if (!trace) {
          val out = new Outcome
          w.measure(ctx, out, seconds)
          (out, endToEnd(w, out, setupS, rounds.size))
        } else traced(ctx, w, seconds)
      say(s"iteration samples (s): ${out.iterS.map(v => f"$v%.3f").mkString(" ")}" +
        (if (trace) s"; traced: ${out.tracedIterS.map(v => f"$v%.3f").mkString(" ")}" else ""))
      val ratio = if (out.attempted == 0) 1.0 else out.failed.toDouble / out.attempted
      say(f"ops: attempted ${out.attempted}, failed ${out.failed}, failed_ops_ratio $ratio%.4f")
      metrics.foreach { case (k, m) => say(s"metric $k = ${Json.num(m.value)} ${m.unit} (n=${m.n})") }
      val keep = if (trace) Layers.All.map(_._1).toSet else EndToEnd
      val shown = metrics.filter(m => keep(m._1)).map { case (k, m) =>
        s"${Json.q(k)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.q(m.unit)}}" }
      println(s"""{"correct":${out.failed == 0 && out.attempted > 0},"attempted":${out.attempted},""" +
        s""""failed":${out.failed},"metrics":{${shown.mkString(",")}}}""")
      0
    } finally {
      Io.deleteTree(work)
      ctx.spark.stop()
    }
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line, stamped with the seconds since the JVM started. */
  private def say(s: String): Unit =
    println(f"# [${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s] $s")

  /** The end-to-end metrics of an untraced run. */
  def endToEnd(w: Workload, out: Outcome, setupS: Double, rounds: Int): Seq[(String, Metric)] = {
    val n = out.iterS.size
    Seq(
      "setup_s" -> Metric(setupS, "s", rounds),
      "rows_per_s" -> Metric(out.rows / out.timedS, "rows/s", n),
      "iter_s_p50" -> Metric(Stats.median(out.iterS.toSeq), "s", n)) ++
      Stats.p90(out.iterS.toSeq).map(v => "iter_s_p90" -> Metric(v, "s", n)) ++
      (if (out.sinkBytes > 0) Seq("sink_bytes_per_row" -> Metric(out.sinkBytes.toDouble / out.rows, "B/row", n))
       else Nil) ++
      Seq("peak_heap_mb" -> Metric(peakHeapMb(), "MB", 1)) ++
      w.extraMetrics(out)
  }

  private def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** The traced run: one loop of alternating untraced and traced
    * iterations (spans and the engine listener), then the workload's staged
    * prefixes.
    */
  def traced(ctx: Ctx, w: Workload, seconds: Int): (Outcome, Seq[(String, Metric)]) = {
    val engine = new EngineListener
    ctx.spark.sparkContext.addSparkListener(engine)
    engine.reset()
    ctx.phaseWall.clear()
    ctx.alternate = true
    val out = new Outcome
    try w.measure(ctx, out, seconds) finally ctx.alternate = false
    val eng = engine.snapshot(ctx.spark.sparkContext, ctx.phaseWall.toMap, Cores)
    ctx.spark.sparkContext.removeSparkListener(engine)
    val untracedP50 = Stats.median(out.iterS.toSeq)
    val tracedP50 = Stats.median(out.tracedIterS.toSeq)
    val n = out.tracedIterS.size.toDouble
    val layer = w.layers(ctx, out, eng) ++ Map(
      "engine.jobs" -> eng.jobs / n,
      "engine.tasks" -> eng.tasks / n,
      "engine.busy_ratio" -> eng.busyRatio,
      "engine.cpu_s" -> eng.cpuS / n,
      "engine.gc_s" -> eng.gcS / n,
      "engine.driver_gap_s" -> eng.driverGapS / n,
      "engine.shuffle_write_bytes" -> eng.shuffleWrite / n,
      "engine.shuffle_read_bytes" -> eng.shuffleRead / n,
      "engine.spill_bytes" -> eng.spill / n,
      "engine.skew_ratio" -> eng.skewRatio,
      "engine.peak_heap_mb" -> peakHeapMb(),
      "trace.untraced_iter_s_p50" -> untracedP50,
      "trace.traced_iter_s_p50" -> tracedP50,
      "trace.overhead_s" -> (tracedP50 - untracedP50))
    val staged = Seq("sources.scan_s", "parse.self_s", "enrich.self_s", "cond.flag_self_s",
      "route.write_self_s", "snapshot.write_self_s").flatMap(layer.get)
    val withSum = layer ++ Map("trace.staged_sum_ratio" -> staged.sum / untracedP50) ++
      (if (w.name == "route_fanout") Map("engine.parallel_eff" -> parallelEff(ctx, w, out)) else Map.empty)
    val spanFile = ctx.work.getParent.getParent.resolve("traces")
      .resolve(s"${w.name}-seed${ctx.seed}-${ProcessHandle.current().pid()}.jsonl")
    ctx.tracer.write(spanFile)
    say(s"spans: ${ctx.tracer.spans.size} written to $spanFile")
    (out, Layers.All.map { case (k, unit) => k -> Metric(withSum.getOrElse(k, 0.0), unit, out.tracedIterS.size) })
  }

  /** Iteration time at local[1] over Cores x that at local[Cores] (medians;
    * equal to the rows/s ratio since every iteration has the same rows).
    * The session is rebuilt at local[1] for a short loop and then put back.
    */
  private def parallelEff(ctx: Ctx, w: Workload, wide: Outcome): Double = {
    ctx.spark.stop()
    ctx.spark = session(1)
    val one = new Outcome
    try w.measure(ctx, one, 2)
    finally { ctx.spark.stop(); ctx.spark = session(Cores) }
    wide.attempted += one.attempted
    wide.failed += one.failed
    Stats.median(one.iterS.toSeq) / (Cores * Stats.median(wide.iterS.toSeq))
  }
}

/** Every per-layer metric a traced run prints, with its unit. A metric that
  * does not apply to the traced workload is printed as 0.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "sources.plan_ms" -> "ms", "sources.scan_s" -> "s", "sources.bytes_read" -> "B/iter",
    "lscl.parse_ms" -> "ms", "lscl.lower_ms" -> "ms",
    "parse.self_s" -> "s", "parse.fail_ratio" -> "ratio",
    "enrich.self_s" -> "s", "enrich.hit_ratio" -> "ratio",
    "cond.flag_self_s" -> "s", "route.fanout_ratio" -> "ratio",
    "route.run_s" -> "s", "route.write_self_s" -> "s", "route.jobs" -> "jobs/iter",
    "route.files_written" -> "files/iter", "route.bytes_written" -> "B/iter", "route.cache_mb" -> "MB",
    "snapshot.commit_s" -> "s", "snapshot.write_self_s" -> "s", "snapshot.jobs_per_commit" -> "jobs",
    "snapshot.driver_gap_ms_per_commit" -> "ms", "snapshot.files_per_commit" -> "files",
    "snapshot.manifest_bytes" -> "B", "snapshot.read_s" -> "s", "snapshot.replay_skip_ms" -> "ms",
    "stateful.agg_self_s" -> "s",
    "engine.jobs" -> "jobs/iter", "engine.tasks" -> "tasks/iter", "engine.busy_ratio" -> "ratio",
    "engine.cpu_s" -> "s/iter", "engine.gc_s" -> "s/iter", "engine.driver_gap_s" -> "s/iter",
    "engine.shuffle_write_bytes" -> "B/iter", "engine.shuffle_read_bytes" -> "B/iter",
    "engine.spill_bytes" -> "B/iter", "engine.skew_ratio" -> "ratio", "engine.peak_heap_mb" -> "MB",
    "engine.parallel_eff" -> "ratio", "microbatch.generator_late_s" -> "s",
    "trace.untraced_iter_s_p50" -> "s", "trace.traced_iter_s_p50" -> "s",
    "trace.overhead_s" -> "s", "trace.staged_sum_ratio" -> "ratio")
}
