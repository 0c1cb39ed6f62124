package perfbench

import graft.lscl.{Lscl, LsclRun}
import graft.operators.{Route, SnapshotTable, Stateful}
import graft.registry.OpsQueries
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Open-loop micro-batches of combined-log lines: a batch of `BatchLines`
  * lines is due every `PeriodMs`, whatever happened to the previous one.
  * Each batch is read by the LSCL `file` input, runs the benchmark-cli
  * `apache` filter section verbatim (grok, date, geoip, useragent) and is
  * committed by `SnapshotTable.appendSinks` to one snapshot table per gated
  * output. After each commit a reader summarises the `server_errors` table
  * with `Stateful.aggregateByKey` per client ip (an exchange). Half-way
  * through, an already committed batch id is replayed, which must add
  * nothing; the schedule pauses for the replay, whose cost is reported on
  * its own. Latency runs from the batch's due time.
  */
final class Microbatch(seed: Long, val BatchLines: Long = 2000L) extends Workload {
  val name = "microbatch_commit"
  /** About 60% of the closed-loop capacity: a warm commit plus its read
    * took about 1.5 s on a 4-vCPU host.
    */
  val PeriodMs = 2500L
  val Pool = 8
  val ReadSink = "server_errors"
  val gen = ApacheGen(seed)
  private val sinkNames = Seq("server_errors", "geo_us", "ua_curl")
  private lazy val expected: IndexedSeq[Map[String, Long]] =
    (0 until Pool).map(b => gen.oracle(b * BatchLines, (b + 1) * BatchLines))
  private lazy val errorRows = (0 until Pool).map(b => gen.errorRows(b * BatchLines, (b + 1) * BatchLines))
  private val replayMs = mutable.ArrayBuffer.empty[Double]
  private val lateS = mutable.ArrayBuffer.empty[Double]
  private val filesPerCommit = mutable.ArrayBuffer.empty[Double]
  private var manifestBytes = 0L

  override def setupRounds: Int = 6

  def dir(ctx: Ctx): java.nio.file.Path = ctx.inputs.resolve("microbatch-input")

  def prepare(ctx: Ctx): Unit = {
    (0 until Pool).foreach { b =>
      Files.createDirectories(dir(ctx).resolve(s"batch-$b"))
      val w = Files.newBufferedWriter(dir(ctx).resolve(s"batch-$b/part-00.log"))
      try (b * BatchLines until (b + 1) * BatchLines).foreach { i => w.write(gen.line(i)); w.write('\n') }
      finally w.close()
    }
    graft.operators.Mmdb.writeFixture(dir(ctx).resolve("geo.mmdb").toString, gen.fixture)
  }

  /** The pipeline config: the `apache` filter section verbatim and three
    * gated outputs (their `path` is unused: each output is a snapshot table
    * under the run's table root).
    */
  val pipelineConfig: String =
    s"""${OpsQueries.ApacheCfgFilter}
       |output {
       |  if [response] >= 500 { file { id => "server_errors" path => "errors.log" } }
       |  if [geo_country_iso] == "us" { file { id => "geo_us" path => "us.log" } }
       |  if [useragent_name] == "curl" { file { id => "ua_curl" path => "curl.log" } }
       |}
       |""".stripMargin

  private def input(ctx: Ctx, b: Int): DataFrame = ctx.tracer.span("sources.file") {
    val path = dir(ctx).resolve(s"batch-${b % Pool}")
    LsclRun.source(ctx.spark, Lscl.parse(s"""input { file { path => "$path" codec => line } }""", Map.empty).inputs)
  }

  private def commit(ctx: Ctx, root: String, b: Int, batchId: String): Map[String, SnapshotTable.Commit] = {
    System.setProperty("graft.geoip.default_db", dir(ctx).resolve("geo.mmdb").toString)
    val cfg = ctx.tracer.span("lscl.parse")(Lscl.parse(pipelineConfig, Map.empty))
    val (trunk, sinks) = ctx.tracer.span("lscl.lower")(
      (LsclRun.applyFilters(input(ctx, b), cfg.filters), LsclRun.sinkSpecs(cfg.outputs)))
    ctx.tracer.span("snapshot.appendSinks")(SnapshotTable.appendSinks(ctx.spark, trunk, sinks, root, batchId))
  }

  private def table(ctx: Ctx, root: String): DataFrame =
    ctx.tracer.span("snapshot.read")(SnapshotTable.read(ctx.spark, s"$root/$ReadSink"))

  /** Per client ip summary of the read sink: (groups, events, byte total). */
  private def summary(ctx: Ctx, root: String): (Long, Long, Long) = {
    val r = ctx.tracer.span("stateful.aggregate")(
      Stateful.aggregateByKey(table(ctx, root), "clientip", "@timestamp", "bytes")
        .agg(count(lit(1)), coalesce(sum("n_events"), lit(0L)),
          coalesce(sum(col("total_value").cast("decimal(38,2)")), lit(0).cast("decimal(38,2)")))
        .head())
    (r.getLong(0), r.getLong(1), r.getDecimal(2).longValueExact())
  }

  def setupRound(ctx: Ctx): Unit = {
    val root = ctx.freshDir("setup")
    commit(ctx, root, 0, "b0"); summary(ctx, root); ()
  }

  def measure(ctx: Ctx, out: Outcome, seconds: Double): Unit = {
    Seq(replayMs, lateS, filesPerCommit).foreach(_.clear())
    val root = ctx.freshDir("tables")
    val batches = math.max(2, (seconds * 1000 / PeriodMs).toInt)
    val replayAt = batches / 2
    val want = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val ips = mutable.Set.empty[String]
    var wantBytes = 0L
    val t0 = System.nanoTime()
    var pausedNs = 0L
    try for (b <- 0 until batches) ctx.tracer.inTrace(s"$name/$b") {
      ctx.traceIteration(b)
      val due = t0 + pausedNs + b * PeriodMs * 1000000L
      val wait = (due - System.nanoTime()) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      lateS += math.max(0L, System.nanoTime() - due) / 1e9
      try {
        val filesBefore = Io.dataFiles(root)._1
        val (commits, _) = ctx.timed("commit")(ctx.tracer.span("batch")(commit(ctx, root, b, s"b$b")))
        val latency = (System.nanoTime() - due) / 1e9
        out.sample(ctx.tracer.enabled, latency); out.rows += BatchLines
        filesPerCommit += (Io.dataFiles(root)._1 - filesBefore).toDouble
        sinkNames.foreach(s => want(s) += expected(b % Pool)(s))
        ips ++= errorRows(b % Pool)._1
        wantBytes += errorRows(b % Pool)._2
        out.op(Seq((sinkNames.forall(s => commits.get(s).exists(!_.skippedExisting)),
          s"batch b$b: a sink commit is missing or was skipped as a replay")))
        val ((groups, events, bytes), readS) = ctx.timed("read")(summary(ctx, root))
        out.readS += readS
        out.op(Seq((groups == ips.size && events == want(ReadSink) && bytes == wantBytes,
          s"reader after b$b: ($groups groups, $events events, $bytes bytes), " +
            s"want (${ips.size}, ${want(ReadSink)}, $wantBytes)")))
        if (b == replayAt) {
          val traced = ctx.tracer.enabled
          ctx.tracer.enabled = false
          val pause0 = System.nanoTime()
          val (replayed, dt) = Io.time(commit(ctx, root, 0, "b0"))
          ctx.tracer.enabled = traced
          replayMs += dt * 1e3
          val totals = sinkNames.map(s => SnapshotTable.read(ctx.spark, s"$root/$s").count())
          pausedNs += System.nanoTime() - pause0
          out.op(Seq(
            (replayed.values.forall(_.skippedExisting), "replayed batch b0 was not skipped"),
            (totals == sinkNames.map(want), s"replay changed sink totals to $totals")))
        }
      } catch { case e: Exception => out.crashed(e) }
    }
    finally {
      ctx.tracer.enabled = false
      out.timedS += (System.nanoTime() - t0 - pausedNs) / 1e9
      out.sinkBytes += Io.dataFiles(root)._2
      manifestBytes = sinkNames.map(s => Io.dataFiles(s"$root/$s/_manifests")._2).sum
      try {
        val totals = sinkNames.map(s => SnapshotTable.read(ctx.spark, s"$root/$s").count())
        out.op(Seq((totals == sinkNames.map(want), s"sink totals $totals != ${sinkNames.map(want)}")))
      } catch { case e: Exception => out.crashed(e) }
      Io.deleteTree(java.nio.file.Paths.get(root))
    }
  }

  override def extraMetrics(out: Outcome): Seq[(String, Metric)] =
    Seq("read_s_p50" -> Metric(Stats.median(out.readS.toSeq), "s", out.readS.size)) ++
      Stats.p90(out.readS.toSeq).map(v => "read_s_p90" -> Metric(v, "s", out.readS.size))

  def layers(ctx: Ctx, traced: Outcome, eng: EngineStats): Map[String, Double] = {
    val spark = ctx.spark
    def spanS(n: String) = ctx.tracer.spans.filter(_.name == n).map(_.durNs / 1e9)
    val commits = spanS("snapshot.appendSinks")
    val n = commits.size.toDouble
    // staged prefixes over one batch: input, +grok, +date, +geoip, +useragent, +flags
    val cfg = Lscl.parse(pipelineConfig, Map.empty)
    val src = input(ctx, 1)
    val prefix = (k: Int) => () => LsclRun.applyFilters(src, cfg.filters.take(k))
    val staged = Staged.median(Seq(
      "scan" -> (() => src), "grok" -> prefix(1), "date" -> prefix(2),
      "geoip" -> prefix(3), "useragent" -> prefix(4),
      "flags" -> (() => Route.withSinkFlags(prefix(4)(), LsclRun.sinkSpecs(cfg.outputs)))), reps = 9)
    val ratios = prefix(4)().agg(
      avg(array_contains(col("tags"), "_grokparsefailure").cast("double")),
      avg(col("geo_country_iso").isNotNull.cast("double"))).head()
    // the reader: a scan of the sink table alone vs the full aggregate
    val root = ctx.freshDir("layers")
    (0 until 4).foreach(b => commit(ctx, root, b, s"b$b"))
    val scanS = Stats.median((1 to 3).map(_ =>
      Io.time(SnapshotTable.read(spark, s"$root/$ReadSink").write.format("noop").mode("overwrite").save())._2))
    val aggS = Stats.median((1 to 3).map(_ => Io.time(summary(ctx, root))._2))
    Io.deleteTree(java.nio.file.Paths.get(root))
    Map(
      "sources.plan_ms" -> Stats.median(spanS("sources.file")) * 1e3,
      "sources.scan_s" -> staged("scan"),
      "sources.bytes_read" -> eng.bytesRead / traced.tracedIterS.size,
      "lscl.parse_ms" -> Stats.median(spanS("lscl.parse")) * 1e3,
      "lscl.lower_ms" -> Stats.median(spanS("lscl.lower")) * 1e3,
      "parse.self_s" -> (staged("date") - staged("scan") + staged("useragent") - staged("geoip")),
      "parse.fail_ratio" -> ratios.getDouble(0),
      "enrich.self_s" -> (staged("geoip") - staged("date")),
      "enrich.hit_ratio" -> ratios.getDouble(1),
      "cond.flag_self_s" -> (staged("flags") - staged("useragent")),
      "snapshot.commit_s" -> Stats.median(commits),
      "snapshot.write_self_s" -> (Stats.median(commits) - staged("flags")),
      "snapshot.jobs_per_commit" -> eng.phaseJobs.getOrElse("commit", 0) / n,
      "snapshot.driver_gap_ms_per_commit" -> eng.phaseGapS.getOrElse("commit", 0.0) * 1e3 / n,
      "snapshot.files_per_commit" -> Stats.median(filesPerCommit.toSeq),
      "snapshot.manifest_bytes" -> manifestBytes.toDouble,
      "snapshot.read_s" -> Stats.median(spanS("snapshot.read")),
      "snapshot.replay_skip_ms" -> (if (replayMs.isEmpty) 0.0 else Stats.median(replayMs.toSeq)),
      "stateful.agg_self_s" -> (aggS - scanS),
      "microbatch.generator_late_s" -> lateS.max)
  }
}
