package perfbench

import graft.operators.SnapshotTable
import graft.{LogPipeline, StandardPipeline}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The benchmark's own checks: seeded inputs are reproducible, the oracles
  * agree with hand-computed and independently parsed inputs, and span self
  * times handle overlapping children.
  */
object SelfTest {
  private var failures = 0

  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(root: Path): Int = {
    spans()
    quantiles()
    val spark = Main.session(2)
    try {
      val ctx = (tag: String) => new Ctx(spark, 0, root.resolve("selftest").resolve(tag),
        root.resolve("selftest").resolve(s"$tag-work"))
      metricNames(root.getParent.resolve("BENCHMARK.json"))
      Io.deleteTree(root.resolve("selftest"))
      inputsReproducible(ctx)
      routeOracleByHand(ctx("hand"))
      apacheOracleByRegex()
    } finally {
      spark.stop()
      Io.deleteTree(root.resolve("selftest"))
    }
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }

  def spans(): Unit = {
    // parent [0,100]; children [10,40] and [30,60] overlap, [90,120] sticks out;
    // grandchild [35,38] sits inside the second child
    val s = Seq(Span(0, -1, "t", "p", 0, 100), Span(1, 0, "t", "a", 10, 40),
      Span(2, 0, "t", "b", 30, 60), Span(3, 0, "t", "c", 90, 120), Span(4, 2, "t", "g", 35, 38))
    val self = Span.selfTimes(s)
    check(self == Map(0 -> 40L, 1 -> 30L, 2 -> 27L, 3 -> 30L, 4 -> 3L),
      s"span self times with overlapping children: $self")
    check(Span.covered(Seq((5L, 5L), (1L, 3L), (2L, 4L), (10L, 11L))) == 4L, "interval union length")
  }

  /** The metrics a run prints are the ones BENCHMARK.json declares. */
  def metricNames(benchmarkJson: Path): Unit = {
    val text = Files.readString(benchmarkJson)
    def names(section: String) = {
      val body = text.substring(text.indexOf(s"\"$section\""))
      val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(list).map(_.group(1)).toSet
    }
    check(names("end_to_end") == Main.EndToEnd, s"end_to_end metrics in BENCHMARK.json: ${names("end_to_end")}")
    check(names("per_layer") == Layers.All.map(_._1).toSet,
      s"per_layer metrics in BENCHMARK.json differ: ${names("per_layer").diff(Layers.All.map(_._1).toSet)} / " +
        s"${Layers.All.map(_._1).toSet.diff(names("per_layer"))}")
  }

  def quantiles(): Unit = {
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even sample")
    check(Stats.p90((1 to 99).map(_.toDouble)).isEmpty && Stats.p90((1 to 100).map(_.toDouble)).nonEmpty,
      "p90 needs ten samples beyond it")
  }

  private def digest(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def treeDigest(dir: Path): String = {
    val s = Files.walk(dir)
    try digest(s.filter(Files.isRegularFile(_)).sorted().toArray.map(_.asInstanceOf[Path])
      .flatMap(f => dir.relativize(f).toString.getBytes ++ Files.readAllBytes(f)))
    finally s.close()
  }

  private def tableDigest(ctx: Ctx, dir: String): String =
    digest(SnapshotTable.read(ctx.spark, dir).orderBy("doc_id").collect().mkString("\n").getBytes)

  def inputsReproducible(ctx: String => Ctx): Unit = {
    val (a1, a2, b) = (ctx("a1"), ctx("a2"), ctx("b"))
    val route = Seq(a1, a2, b).zip(Seq(1L, 1L, 2L)).map { case (c, seed) =>
      val w = new RouteFanout(seed, 3000); w.prepare(c); tableDigest(c, w.inputDir(c))
    }
    check(route(0) == route(1) && route(0) != route(2),
      "route input: same seed gives identical rows, another seed differs")
    val apache = Seq(a1, a2, b).zip(Seq(1L, 1L, 2L)).map { case (c, seed) =>
      val w = new Microbatch(seed, 300); w.prepare(c); treeDigest(w.dir(c))
    }
    check(apache(0) == apache(1) && apache(0) != apache(2),
      "micro-batch input: same seed gives byte-identical files, another seed differs")
  }

  /** Six rows whose sinks are worked out by hand from the StandardPipeline
    * constants: severity = first token mod 3 (0 INFO, 1 WARN, 2 ERROR);
    * src0..src14 hit the dictionary with team-(k mod 5) and tier prod for
    * even k; sinks: errors = ERROR and prod, warn_big = WARN and n_tok > 64,
    * teamA = team-0 or team-1.
    */
  def routeOracleByHand(ctx: Ctx): Unit = {
    val rows = Seq(
      (2, 20, "src0"),  // ERROR, team-0 prod        -> errors, teamA
      (1, 70, "src3"),  // WARN, 70 > 64, team-3     -> warn_big
      (1, 64, "src1"),  // WARN, 64 not > 64, team-1 -> teamA
      (3, 10, "src16"), // INFO, dictionary miss     -> default
      (2, 12, "src2"),  // ERROR, team-2 prod        -> errors
      (5, 90, "src15")) // ERROR, miss (tier null)   -> default
    val want = Map("sink_errors" -> 2L, "sink_warn_big" -> 1L, "sink_teamA" -> 2L,
      "_default" -> 2L, "_total" -> 6L)
    val got = rows.flatMap { case (t, n, s) => RouteGen.sinksOf(t, n, s) :+ "_total" }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    check(got == want, s"route oracle on six hand-computed rows: $got")
    // the same rows through the pipeline under test agree with the hand counts
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("tokens", ArrayType(IntegerType)),
      StructField("n_tok", IntegerType), StructField("source", StringType)))
    val df = ctx.spark.createDataFrame(java.util.Arrays.asList(rows.zipWithIndex.map { case ((t, n, s), i) =>
      Row(s"h$i", Seq(t) ++ Seq.fill(n - 1)(4), n, s) }: _*), schema)
    val res = LogPipeline.read(df).parse().enrich(StandardPipeline.dictDf(ctx.spark), "source")
      .route(StandardPipeline.sinks: _*).run(ctx.spark, ctx.freshDir("hand"))
    check(want.forall { case (k, v) => res.counts.get(k).contains(v) }, s"pipeline on the hand rows: ${res.counts}")
  }

  /** The apache closed form against the generated lines parsed with a plain
    * regex (no grok) and the fixture's /11 blocks.
    */
  def apacheOracleByRegex(): Unit = {
    val g = ApacheGen(3)
    val re = """^10\.(\d+)\.\d+\.\d+ \S+ \S+ \[[^\]]+\] "[^"]*" (\d{3}) \S+ "[^"]*" "([^"]*)"$""".r
    val n = 500L
    var errors, us, curl = 0L
    var parsed = 0L
    (0L until n).foreach { i => g.line(i) match {
      case re(b, code, agent) =>
        parsed += 1
        if (code.toInt >= 500) errors += 1
        val blk = b.toInt / 32
        if (blk != g.missingBlock && g.fixture.exists(_._1 == s"10.${blk * 32}.0.0/11") &&
          g.Isos(blk) == "us") us += 1
        if (agent.startsWith("curl/")) curl += 1
      case other => println(s"unparsed line: $other")
    } }
    val o = g.oracle(0, n)
    check(parsed == n && o("server_errors") == errors && o("geo_us") == us && o("ua_curl") == curl,
      s"apache closed form vs regex parse: ${(errors, us, curl)} vs $o")
  }
}
