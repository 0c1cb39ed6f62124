package perfbench

import graft.{LogPipeline, StandardPipeline}
import graft.operators.{Route, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** parse -> enrich -> route over a pre-tokenized snapshot table, written by
  * `Route.run` into a fresh directory each iteration: the north-star path.
  */
final class RouteFanout(seed: Long, val Rows: Long = 100000L) extends ClosedLoop {
  val name = "route_fanout"
  val gen = RouteGen(seed, salt = 100)
  private lazy val expected = gen.oracle(0, Rows)
  private val schema = StructType(Seq(
    StructField("doc_id", StringType), StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType), StructField("source", StringType)))

  def inputDir(ctx: Ctx): String = ctx.inputs.resolve("route-input").toString

  def prepare(ctx: Ctx): Unit = {
    val g = gen
    val rdd = ctx.spark.sparkContext.parallelize(0L until Rows, 16).mapPartitions(_.map(i => g.row(i)))
    SnapshotTable.append(ctx.spark, ctx.spark.createDataFrame(rdd, schema), inputDir(ctx), Some("generated"))
    ()
  }

  def pipeline(ctx: Ctx): LogPipeline =
    LogPipeline.read(ctx.tracer.span("sources.read")(SnapshotTable.read(ctx.spark, inputDir(ctx))))
      .parse()
      .enrich(StandardPipeline.dictDf(ctx.spark), "source")
      .route(StandardPipeline.sinks: _*)

  def setupRound(ctx: Ctx): Unit = { pipeline(ctx).run(ctx.spark, ctx.freshDir("setup")); () }

  /** Doc ids (and their tokens) of a few rows routed to sink_teamA. */
  private lazy val samples: Seq[(String, Seq[Int])] = {
    val teamA = StandardPipeline.dict.zipWithIndex
      .filter { case ((_, team, _), _) => team == "team-0" || team == "team-1" }.map(_._2).toSet
    Iterator.iterate(Gen.u(seed, 7, 0, 1000).toLong)(_ + 997).map(_ % Rows)
      .filter(i => teamA(gen.source(i))).take(16)
      .map(i => gen.docId(i) -> gen.tokens(i).toSeq).toSeq
  }

  def iteration(ctx: Ctx, out: Outcome, k: Int): Unit = {
    val dir = ctx.freshDir("run")
    try {
      val (res, dt) = ctx.timed("iteration")(ctx.tracer.span("iteration") {
        val p = ctx.tracer.span("pipeline.plan")(pipeline(ctx))
        ctx.tracer.span("route.run")(p.run(ctx.spark, dir))
      })
      out.sample(ctx.tracer.enabled, dt); out.timedS += dt
      out.rows += res.counts.getOrElse("_total", 0L)
      val (files, bytes) = Io.dataFiles(dir)
      out.sinkFiles += files; out.sinkBytes += bytes
      out.op(checks(ctx, res, readBack = k % 3 == 0))
    } catch { case e: Exception => out.crashed(e) }
    finally Io.deleteTree(java.nio.file.Paths.get(dir))
  }

  /** Counts against the oracle on every run; the sinks are read back (row
    * counts and sampled token arrays) on every third, which keeps the loop
    * mostly timed.
    */
  private def checks(ctx: Ctx, res: Route.RunResult, readBack: Boolean): Seq[(Boolean, String)] = {
    val always = Seq(
      (res.resumedSinks.isEmpty, s"resumed sinks ${res.resumedSinks}"),
      (expected.forall { case (k, v) => res.counts.get(k).contains(v) },
        s"counts ${res.counts} != oracle $expected"))
    if (!readBack) always
    else {
      val names = StandardPipeline.sinks.map(_.name) :+ "_default"
      val counts = names.map(n => n -> ctx.spark.read.parquet(res.sinkPaths(n)).count()).toMap
      val teamA = ctx.spark.read.parquet(res.sinkPaths("sink_teamA"))
        .filter(col("doc_id").isin(samples.map(_._1): _*))
        .select("doc_id", "tokens").collect()
        .map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
      always ++ Seq(
        (counts.forall { case (k, v) => res.counts.get(k).contains(v) },
          s"read-back counts $counts != ${res.counts}"),
        (samples.forall { case (d, t) => teamA.get(d).contains(t) },
          "sampled sink_teamA rows differ from the generated tokens"))
    }
  }

  def layers(ctx: Ctx, traced: Outcome, eng: EngineStats): Map[String, Double] = {
    val (_, planS) = Io.time(SnapshotTable.read(ctx.spark, inputDir(ctx)))
    val p = pipeline(ctx)
    val staged = Staged.median(Seq(
      "scan" -> (() => p.input),
      "parse" -> (() => p.stages.head(p.input)),
      "enrich" -> (() => p.trunk),
      "flags" -> (() => p.flagged)), reps = 3)
    val runS = Stats.median(ctx.tracer.spans.filter(_.name == "route.run").map(_.durNs / 1e9))
    val all = traced.iterations.toDouble
    val ratios = p.trunk.agg(
      avg(array_contains(col("tags"), "_dissectfailure").cast("double")),
      avg(col("team").isNotNull.cast("double"))).head()
    Map(
      "sources.plan_ms" -> planS * 1e3,
      "sources.scan_s" -> staged("scan"),
      "sources.bytes_read" -> eng.bytesRead.toDouble / traced.tracedIterS.size,
      "parse.self_s" -> (staged("parse") - staged("scan")),
      "parse.fail_ratio" -> ratios.getDouble(0),
      "enrich.self_s" -> (staged("enrich") - staged("parse")),
      "enrich.hit_ratio" -> ratios.getDouble(1),
      "cond.flag_self_s" -> (staged("flags") - staged("enrich")),
      "route.fanout_ratio" ->
        StandardPipeline.sinks.map(s => expected(s.name)).sum.toDouble / expected("_total"),
      "route.run_s" -> runS,
      "route.write_self_s" -> (runS - staged("flags")),
      "route.jobs" -> eng.jobs.toDouble / traced.tracedIterS.size,
      "route.files_written" -> traced.sinkFiles / all,
      "route.bytes_written" -> traced.sinkBytes / all,
      "route.cache_mb" -> eng.cachedBytes / all / 1048576.0)
  }
}

/** Staged prefixes: each frame is written to the `noop` sink (the whole plan
  * runs, nothing is stored), round-robin over the stages `reps` times after
  * one unmeasured pass; the medians, differenced, give each stage's self time.
  */
object Staged {
  def median(stages: Seq[(String, () => DataFrame)], reps: Int): Map[String, Double] = {
    def once(df: () => DataFrame) = Io.time(df().write.format("noop").mode("overwrite").save())._2
    stages.foreach(s => once(s._2))
    val times = (1 to reps).flatMap(_ => stages.map { case (n, df) => n -> once(df) })
    times.groupBy(_._1).map { case (n, ts) => n -> Stats.median(ts.map(_._2)) }
  }
}
