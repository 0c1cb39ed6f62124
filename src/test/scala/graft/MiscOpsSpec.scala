package graft

import org.apache.spark.sql.functions._
import graft.operators.{Mutate, Route}

/** Specs for the small operators: uuid, truncate/anonymize/de_dot, ordered
  * sink mode, flow-rate Aggregator.
  */
class MiscOpsSpec extends SparkSpec {

  test("uuid filter: one UUID per row, overwrite semantics") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("id")
    val out = Mutate.uuidField(df, "uid").collect().map(_.getAs[String]("uid"))
    assert(out.distinct.length == 3)
    assert(out.forall(_.matches("[0-9a-f-]{36}")))
  }

  test("de_dot renames dotted columns") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("a.b", "c")
    assert(Mutate.deDot(df).columns.toSeq == Seq("a_b", "c"))
  }

  test("ordered run: sink files sorted by doc_id within partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft_ordered").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val r = Route.run(spark, pipe.trunk, StandardPipeline.sinks.toIndexedSeq, out, ordered = true)
    assert(r.counts("_total") == 500)
    // per input-file order check: read each part file alone, ids must be sorted
    val dir = new java.io.File(s"$out/sink_teamA")
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val ids = spark.read.parquet(p.getAbsolutePath).select("doc_id")
        .collect().map(_.getString(0)).toSeq
      assert(ids == ids.sorted, s"unsorted ${p.getName}")
    }
  }

  test("combined plain-sink write == per-sink frames: overlap, empty sink, default, resume") {
    import graft.conditions.{Eq, InList}
    val out = java.nio.file.Files.createTempDirectory("graft_combined").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    // never-matching plain sink (a schema-only dir) + a sink overlapping
    // teamA (a row must land in BOTH dirs via the explode)
    val extra = Seq(
      Route.SinkSpec("never_sink", Eq("severity", "NOPE")),
      Route.SinkSpec("teamA_too", InList("team", Seq("team-0", "team-1"))))
    val sinks = StandardPipeline.sinks ++ extra
    // every sink dir of a run into `dir` holds exactly its per-sink frame
    // (a bucketed run's read-back carries the _bucket partition column;
    // an empty sink's dir reads back with the payload schema either way)
    def assertPerSink(dir: String, sinks: Seq[Route.SinkSpec], r: Route.RunResult): Unit = {
      val flagged = Route.withSinkFlags(pipe.trunk, sinks)
      for (sp <- sinks) {
        val want = Route.sinkFrame(flagged, sp)
        val got = spark.read.parquet(s"$dir/${sp.name}").drop("_bucket")
        assert(got.columns.toSeq == want.columns.toSeq, s"${sp.name} columns")
        assert(got.count() == r.counts(sp.name), s"${sp.name} count")
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"${sp.name} rows differ from the per-sink frame")
      }
    }
    val r = Route.run(spark, pipe.trunk, sinks, out)
    assert(r.resumedSinks.isEmpty)
    assertPerSink(out, sinks, r)
    // empty sink: directory still readable with the payload schema
    val empty = spark.read.parquet(s"$out/never_sink")
    assert(empty.count() == 0 && empty.columns.contains("doc_id"))
    // overlap: teamA_too holds exactly the teamA rows
    assert(spark.read.parquet(s"$out/teamA_too").count() == r.counts("sink_teamA"))
    // default branch written and disjoint from every sink
    val deflt = spark.read.parquet(s"$out/_default")
    assert(deflt.count() == r.counts("_default"))
    // resume: every sink dir (combined-written ones included) has _SUCCESS
    val r2 = Route.run(spark, pipe.trunk, sinks, out)
    assert(sinks.map(_.name).toSet.subsetOf(r2.resumedSinks.toSet))
    assert(r2.counts == r.counts)
    // the per-sink writer keeps the same contract (ordered and bucketed
    // runs with several plain sinks), and so do names that a partition
    // path would have to escape
    def fresh() = java.nio.file.Files.createTempDirectory("graft_combined").toString
    val ordOut = fresh()
    assertPerSink(ordOut, sinks, Route.run(spark, pipe.trunk, sinks, ordOut, ordered = true))
    val bktOut = fresh()
    assertPerSink(bktOut, sinks, Route.run(spark, pipe.trunk, sinks, bktOut, buckets = 3))
    val escaped = sinks ++ Seq(Route.SinkSpec("a=b", InList("team", Seq("team-0"))),
      Route.SinkSpec("x y", InList("team", Seq("team-1"))),
      Route.SinkSpec("p/q", InList("team", Seq("team-2"))))
    val escOut = fresh()
    assertPerSink(escOut, escaped, Route.run(spark, pipe.trunk, escaped, escOut))
  }

  test("Route.run rejects sink names in the reserved '_' namespace") {
    import graft.conditions.Eq
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    for (name <- Seq("_default", "_lineage")) {
      val out = java.nio.file.Files.createTempDirectory("graft_reserved").toString
      val sinks = StandardPipeline.sinks :+ Route.SinkSpec(name, Eq("severity", "ERROR"))
      val e = intercept[IllegalArgumentException](Route.run(spark, pipe.trunk, sinks, out))
      assert(e.getMessage.contains(s"'$name'") && e.getMessage.contains("reserved"))
    }
    // an empty name would make the sink's dir outDir itself
    val out = java.nio.file.Files.createTempDirectory("graft_reserved").toString
    val e = intercept[IllegalArgumentException](Route.run(spark, pipe.trunk,
      StandardPipeline.sinks :+ Route.SinkSpec("", Eq("severity", "ERROR")), out))
    assert(e.getMessage.contains("empty"), e.getMessage)
    assert(new java.io.File(out).list().isEmpty)
  }

  test("run manifest and nodeStats stay valid JSON for a sink name with a control character") {
    import graft.conditions.Eq
    val out = java.nio.file.Files.createTempDirectory("graft_json").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val name = "tab\tsink"
    Route.runWithMetrics(spark, pipe.trunk, Seq(Route.SinkSpec(name, Eq("severity", "ERROR"))), out)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.readTree(Route.latestManifest(spark, out).get)
    assert(manifest.get("counts").has(name) && manifest.get("sinks").has(name))
    val stats = mapper.readTree(Route.nodeStats(spark, out))
    assert(stats.at("/pipelines/main/plugins/outputs").has(name))
    assert(stats.at("/pipelines/main/flow").has(s"events_out_$name"))
  }

  test("nodeStats fails naming the table when _lineage is corrupt, and reads absent tables as absent") {
    import graft.conditions.Eq
    val out = java.nio.file.Files.createTempDirectory("graft_stats").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    Route.run(spark, pipe.trunk, Seq(Route.SinkSpec("errs", Eq("severity", "ERROR"))), out)
    // no _metrics (run, not runWithMetrics): an absent table, no flow entries
    assert(Route.nodeStats(spark, out).contains("\"flow\":{}"))
    val part = new java.io.File(s"$out/_lineage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val bytes = java.nio.file.Files.readAllBytes(part)
    java.nio.file.Files.write(part, bytes.take(bytes.length / 2))
    java.nio.file.Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    val e = intercept[IllegalStateException](Route.nodeStats(spark, out))
    assert(e.getMessage.contains(s"$out/_lineage"), e.getMessage)
  }

  test("a fully resumed rerun reaps crashed combined-write staging dirs") {
    val out = java.nio.file.Files.createTempDirectory("graft_reap").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val sinks = StandardPipeline.sinks
    Route.run(spark, pipe.trunk, sinks, out)
    // debris of a combined write that crashed after staging
    val debris = new java.io.File(s"$out/.sinkstage-x/_sink=sink_teamA")
    assert(debris.mkdirs())
    val r = Route.run(spark, pipe.trunk, sinks, out)
    assert(sinks.map(_.name).toSet.subsetOf(r.resumedSinks.toSet))
    assert(!new java.io.File(s"$out/.sinkstage-x").exists(), "staging debris survived")
  }

  test("flow-rate Aggregator matches hand-computed rate and merges across partitions") {
    import spark.implicits._
    // 11 events over exactly 10 seconds -> 1.1 events/sec
    val ts = (0 to 10).map(i => i * 1000000L)
    val df = ts.toDF("ts_us").repartition(4)
    val got = df.agg(graft.functions.FlowAgg.eventsPerSec(col("ts_us"))).collect()(0).getDouble(0)
    assert(math.abs(got - 1.1) < 1e-9)
    // empty span
    val one = Seq(5L).toDF("ts_us")
    assert(one.agg(graft.functions.FlowAgg.eventsPerSec(col("ts_us"))).collect()(0).getDouble(0) == 0.0)
  }

  test("grokMulti: break_on_match — first matching pattern wins, no-match tags") {
    import spark.implicits._
    // line 1 matches BOTH patterns with different captures -> p1 must win;
    // line 2 matches only p2; line 3 matches neither.
    val df = Seq("code=42 name=alpha", "beta 7", "???").toDF("line")
    val out = graft.operators.Parse.grokFull(df, "line", Seq(
      "code=%{INT:num:int} name=%{WORD:name}",
      "%{WORD:name} %{INT:num:int}")).collect()
    assert(out(0).getAs[String]("name") == "alpha" && out(0).getAs[Long]("num") == 42L)
    assert(out(1).getAs[String]("name") == "beta" && out(1).getAs[Long]("num") == 7L)
    assert(out(2).getAs[String]("name") == null)
    def tags(r: org.apache.spark.sql.Row) = r.getSeq[String](r.fieldIndex("tags")).toList
    assert(tags(out(2)) == List("_grokparsefailure"))
    assert(tags(out(0)).isEmpty)
  }

  test("expanded grok pattern library entries compile and match") {
    import spark.implicits._
    val df = Seq("host web-01.prod.example.com user bob_1 id 550e8400-e29b-41d4-a716-446655440000 path /api/v2/x").toDF("line")
    val out = graft.operators.Parse.grok(df, "line",
      "host %{HOSTNAME:h} user %{USERNAME:u} id %{UUID:id} path %{URIPATH:p}").collect()(0)
    assert(out.getAs[String]("h") == "web-01.prod.example.com")
    assert(out.getAs[String]("u") == "bob_1")
    assert(out.getAs[String]("id").startsWith("550e8400"))
    assert(out.getAs[String]("p") == "/api/v2/x")
  }

  test("manifest chain: each run appends a snapshot; resumed run records skips") {
    val out = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val r1 = Route.run(spark, pipe.trunk, StandardPipeline.sinks.toIndexedSeq, out)
    assert(r1.resumedSinks.isEmpty && r1.manifestPath.contains("manifest-000000"))
    val r2 = Route.run(spark, pipe.trunk, StandardPipeline.sinks.toIndexedSeq, out)
    assert(r2.manifestPath.contains("manifest-000001"))
    assert(r2.resumedSinks.nonEmpty) // all sinks already committed
    assert(r2.counts == r1.counts)   // counts recomputed, identical
    val latest = Route.latestManifest(spark, out).get
    assert(latest.contains("\"snapshot_id\":1") && latest.contains("\"parent_id\":0"))
    assert(latest.contains("sink_teamA"))
  }

  test("line codec: trailing delimiter stripped, inner empties kept; json_lines parses per line") {
    import spark.implicits._
    val df = Seq("a\nb\n\nc\n", "x").toDF("blob")
    val got = graft.operators.Codec.lines(df, "blob").select("line")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a", "b", "", "c", "x"))
    val jl = Seq("""{"k":1}""" + "\n" + """{"k":2}""").toDF("blob")
    val ks = graft.operators.Codec.jsonLines(jl, "blob", "k INT")
      .select("parsed.k").collect().map(_.getInt(0)).toSeq
    assert(ks == Seq(1, 2))
  }

  test("multiline codec: continuation lines fold into previous event in order") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, "head1", false), (1L, 2L, " cont", true), (1L, 3L, " more", true),
      (1L, 4L, "head2", false), (2L, 5L, "other", false))
      .toDF("stream", "line_no", "line", "cont")
    val out = graft.operators.Codec.multiline(df, "line", "line_no", "stream", col("cont"))
      .orderBy("stream", "event_group").collect()
    assert(out.map(r => (r.getLong(0), r.getAs[String]("msg"), r.getLong(3))).toSeq == Seq(
      (1L, "head1\n cont\n more", 3L), (1L, "head2", 1L), (2L, "other", 1L)))
  }

  test("http lookup: distinct-url cardinality guard fails loudly") {
    // per-event HTTP is not a distributed operation — past the cap the
    // config should be a real dimension join, and the filter says so
    val df = spark.range(100).selectExpr("cast(id as string) as k")
    val e = intercept[IllegalArgumentException](
      graft.operators.Enrich.httpLookup(df,
        concat(lit("http://127.0.0.1:1/x/"), col("k")), "b", maxDistinct = 10))
    assert(e.getMessage.contains("distinct urls"))
  }

  test("multiline caps: byte cap flushes tagged pieces with bounded buffers") {
    import spark.implicits._
    // one group of 5 lines x 11 chars (+newline = 12); max_bytes=25:
    // cumulative-exclusive 0,12,24,36,48 -> buckets 0,0,0,1,1 -> pieces 3+2
    val df = (1 to 5).map(i => (1L, i.toLong, f"0123456789", i > 1))
      .toDF("stream", "line_no", "line", "cont")
      .withColumn("line", concat(col("line"), col("line_no"))) // 11 bytes each
    val out = graft.operators.Codec.multiline(df, "line", "line_no", "stream",
        col("cont"), maxLines = Int.MaxValue, maxBytes = 25L)
      .orderBy("event_group", "msg").collect()
    // cumExcl per line: 0,12,24,36,48 -> floor/25: 0,0,0,1,1 -> 2 pieces
    assert(out.length == 2)
    val byCap = out.map(r => (r.getAs[Long]("n_lines"), r.getAs[Boolean]("ml_capped"))).toSet
    assert(byCap == Set((3L, true), (2L, false)))
    // line cap: 5 lines, max_lines=2 -> pieces 2,2,1; only the last untagged
    val out2 = graft.operators.Codec.multiline(df, "line", "line_no", "stream",
        col("cont"), maxLines = 2)
      .collect().map(r => (r.getAs[Long]("n_lines"), r.getAs[Boolean]("ml_capped")))
    assert(out2.sorted.toSeq == Seq((1L, false), (2L, true), (2L, true)))
  }

  test("throttleMatched == throttleRange on hour-aligned periods (config vs API surface)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      (s"k${rnd.nextInt(3)}",
        java.sql.Timestamp.valueOf(f"2024-01-01 ${rnd.nextInt(6)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"),
        i.toLong)
    }
    val df = rows.toDF("key", "ts", "id")
    // period "hour" truncation and 3600-second epoch slots coincide exactly
    val a = graft.operators.Stateful
      .throttleRange(df, "key", "ts", "hour", beforeCount = 2, afterCount = 5,
        orderCols = Seq("id"))
      .select("id", "throttled")
    val b = graft.operators.Stateful
      .throttleMatched(df, col("key"), col("ts"), 3600L, 2, 5,
        orderCols = Seq(col("id")))
      .select(col("id"), col("_throttle_matched").as("throttled"))
    val diff = a.as("a").join(b.as("b"), "id")
      .filter(col("a.throttled") =!= col("b.throttled")).count()
    assert(diff == 0)
    // the hot-key-safe two-phase form agrees with the single-window form —
    // ungated, gated (only even ids count+match), and each band edge alone
    for ((bc, ac) <- Seq((2, 5), (2, -1), (-1, 5));
         gate <- Seq(lit(true), col("id") % 2 === 0)) {
      val ref = graft.operators.Stateful
        .throttleMatched(df, col("key"), col("ts"), 3600L, bc, ac,
          gate = gate, orderCols = Seq(col("id")))
        .select(col("id"), coalesce(col("_throttle_matched"), lit(false)).as("m"))
      val tp = graft.operators.Stateful
        .throttleMatchedTwoPhase(df, col("key"), col("ts"), 3600L, bc, ac,
          gate = gate, orderCols = Seq(col("id")), salt = 4)
        .select(col("id"), col("_throttle_matched").as("m"))
      val d2 = ref.as("a").join(tp.as("b"), "id")
        .filter(col("a.m") =!= col("b.m")).count()
      assert(d2 == 0, s"two-phase mismatch at before=$bc after=$ac")
      graft.plans.CacheScope.release()
    }
  }

  test("kv transform_key/transform_value: case folding before include/prefix") {
    import spark.implicits._
    val df = Seq("User=Frank Host=WEB1").toDF("message")
    val out = graft.operators.Parse.kvFull(df, "message", "kv",
      transformKey = Some("lowercase"), transformValue = Some("uppercase"))
      .select(to_json(col("kv"))).collect()(0).getString(0)
    assert(out == """{"user":"FRANK","host":"WEB1"}""")
  }

  test("jodaToJava: run-tokenized, quoted literals untouched, Z-run offsets") {
    import graft.operators.Mutate
    assert(Mutate.jodaToJava("YYYY.MM.dd") == "yyyy.MM.dd")
    assert(Mutate.jodaToJava("dd/MMM/YYYY:HH:mm:ss Z") == "dd/MMM/yyyy:HH:mm:ss Z")
    assert(Mutate.jodaToJava("YYYY-MM-dd'T'HH ZZ") == "yyyy-MM-dd'T'HH XXX")
    assert(Mutate.jodaToJava("HH:mm ZZZ") == "HH:mm VV")
    // quoted literal text containing pattern letters is NOT rewritten
    assert(Mutate.jodaToJava("'YYYY literal' YYYY") == "'YYYY literal' yyyy")
    assert(Mutate.jodaToJava("'at ZZZ' Z") == "'at ZZZ' Z")
    // weekyear x -> week-based-year Y
    assert(Mutate.jodaToJava("xxxx-ww") == "YYYY-ww")
  }

  test("csv autodetect: header = first row in scan order; exactly one occurrence dropped") {
    // a file whose FIRST line is the header and whose data contains a row
    // EQUAL to the header string — that duplicate must survive skip_header
    val f = java.nio.file.Files.createTempFile("graft_csv_auto", ".csv")
    val rows = "h1,h2" +: (1 to 20).map(i => s"a$i,b$i") :+ "h1,h2"
    java.nio.file.Files.writeString(f, rows.mkString("", "\n", "\n"))
    val df = spark.read.text(f.toString).withColumnRenamed("value", "message")
    val cfg = graft.lscl.Lscl.parse(
      """filter { csv { source => "message" autodetect_column_names => "true" } }""",
      Map.empty)
    val out1 = graft.lscl.LsclRun.applyFilters(df, cfg.filters)
    val out2 = graft.lscl.LsclRun.applyFilters(df, cfg.filters)
    val c1 = out1.select("message").collect().map(_.getString(0)).sorted.toSeq
    assert(c1 == out2.select("message").collect().map(_.getString(0)).sorted.toSeq)
    assert(c1.length == 21) // 22 rows minus exactly ONE header occurrence
    assert(c1.count(_ == "h1,h2") == 1) // the header-equal data row survived
    assert(out1.columns.contains("h1") && out1.columns.contains("h2"))
  }

  test("multilineConfig: previous/next/negate modes from the codec's config surface") {
    import spark.implicits._
    val df = Seq(
      (1L, "head1"), (2L, " cont"), (3L, " more"),
      (4L, "head2"), (5L, " tail"))
      .toDF("line_no", "line").withColumn("stream", lit("s"))
    def run(pattern: String, negate: Boolean, what: String): Seq[(String, Long)] =
      graft.operators.Codec.multilineConfig(df, "line", "line_no", "stream",
          pattern, negate, what)
        .orderBy("event_group").collect()
        .map(r => (r.getAs[String]("msg"), r.getAs[Long]("n_lines"))).toSeq
    // previous: a leading-space line belongs to the previous event
    assert(run("^ ", negate = false, "previous") == Seq(
      ("head1\n cont\n more", 3L), ("head2\n tail", 2L)))
    // negate inverts the membership predicate: non-headX lines continue
    assert(run("^head", negate = true, "previous") == Seq(
      ("head1\n cont\n more", 3L), ("head2\n tail", 2L)))
    // next: a matching line attaches to the FOLLOWING event
    val nxt = Seq((1L, "part+"), (2L, "end1"), (3L, "solo"), (4L, "part+"), (5L, "end2"))
      .toDF("line_no", "line").withColumn("stream", lit("s"))
    val out = graft.operators.Codec.multilineConfig(nxt, "line", "line_no", "stream",
        "[+]$", negate = false, "next")
      .orderBy("event_group").collect().map(_.getAs[String]("msg")).toSeq
    assert(out == Seq("part+\nend1", "solo", "part+\nend2"))
  }

  test("salted lookup == broadcast lookup on a planted-skew key (F1 fixture)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // plant skew: 60% of rows forced onto one hot source value
    val skewed = docs.withColumn("source",
      when(pmod(xxhash64(col("doc_id")), lit(10)) < 6, lit("src0")).otherwise(col("source")))
    val dict = StandardPipeline.dictDf(spark)
    val a = graft.operators.Enrich.lookup(skewed, dict, "source")
      .select("doc_id", "team", "tier")
    val b = graft.operators.Enrich.saltedLookup(skewed, dict, "source", salt = 8)
      .select("doc_id", "team", "tier")
    assert(a.count() == b.count())
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // the hot key really is hot (fixture sanity)
    val hot = skewed.filter(col("source") === "src0").count().toDouble / docs.count()
    assert(hot > 0.5)
  }

  test("sprintf: %{+%s} epoch, %{{java-format}}, unresolved refs stay literal") {
    import spark.implicits._
    val df = Seq("2024-01-02 03:04:05").toDF("tss")
      .withColumn("ts", col("tss").cast("timestamp"))
    val got = df.select(Mutate.sprintf(
      "at=%{+%s} day=%{{yyyy-MM-dd}} who=%{missing}", Set("ts"), Some("ts")).as("s"))
      .collect()(0).getString(0)
    assert(got.matches("at=\\d+ day=2024-01-02 who=%\\{missing\\}"), got)
    // without a tsCol the time forms stay literal (reference leaves unresolvable refs)
    val lit0 = df.select(Mutate.sprintf("x=%{+%s}", Set.empty).as("s")).collect()(0).getString(0)
    assert(lit0 == "x=%{+%s}")
  }

  test("dissect append (+key) and skip (_) keys") {
    import spark.implicits._
    val df = Seq("Jan 02 host hello").toDF("line")
    val out = graft.operators.Parse.dissectString(df, "line", " ",
      Seq("ts", "+ts", "_", "msg")).collect()(0)
    assert(out.getAs[String]("ts") == "Jan 02")
    assert(out.getAs[String]("msg") == "hello")
    assert(!out.schema.fieldNames.contains("_"))
  }

  test("throttleRange: only the [before, after] rank band passes") {
    import spark.implicits._
    val df = (1 to 5).map(i => ("k", s"2024-01-01 00:00:0$i"))
      .toDF("key", "tss").withColumn("ts", col("tss").cast("timestamp"))
    val got = graft.operators.Stateful.throttleRange(df, "key", "ts", "hour",
        beforeCount = 2, afterCount = 4)
      .orderBy("ts").collect().map(_.getAs[Boolean]("throttled")).toSeq
    assert(got == Seq(true, false, false, false, true))
  }

  test("throttleTwoPhase == throttle on a flooded-key fixture (60% one key, one period)") {
    import spark.implicits._
    // one key floods one hour with 60% of all events — the exact scenario a
    // single (key, period) window reducer would be pinned by
    val rows = (1 to 600).map(i => ("hot", f"2024-01-01 00:${i % 60}%02d:${i % 60}%02d", i)) ++
      (1 to 400).map(i => (s"k${i % 37}", f"2024-01-01 01:${i % 60}%02d:${i % 60}%02d", 1000 + i))
    val df = rows.toDF("key", "tss", "eid")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def res(d: org.apache.spark.sql.DataFrame) =
      d.select("eid", "throttled").collect()
        .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    val single = res(graft.operators.Stateful.throttle(df, "key", "ts", "hour", 5, Seq("eid")))
    val two = res(graft.operators.Stateful.throttleTwoPhase(df, "key", "ts", "hour", 5, Seq("eid"), salt = 8))
    assert(two == single)
    assert(single.values.count(identity) > 0 && single.values.count(!_) > 0)
  }

  test("rolling flow rates: current/last_1m/last_5m/lifetime window semantics") {
    import spark.implicits._
    // synthetic counter captures: 0, 60, 180, 360 at minutes 0..3
    val caps = Seq((0, 0L), (1, 60L), (2, 180L), (3, 360L))
      .map { case (minute, c) => ("k", f"2024-01-01 00:0$minute%d:00", c) }
      .toDF("key", "tss", "counter")
      .withColumn("capture_ts", col("tss").cast("timestamp")).drop("tss")
    val got = graft.operators.Flow.rollingRates(caps, "key", "capture_ts", "counter")
      .orderBy("capture_ts")
      .select("current", "last_1_minute", "last_5_minutes", "lifetime")
      .collect().map(r => (0 until 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Double])))
    // t0: no prior capture anywhere -> all null
    assert(got(0).forall(_.isEmpty))
    // current == last_1m (the 1m window holds exactly the previous capture)
    assert(got(1) == Seq(Some(1.0), Some(1.0), Some(1.0), Some(1.0)))
    assert(got(2).head.contains(2.0) && got(2)(1).contains(2.0))
    // t3: current (360-180)/60=3; 5m window reaches t0: (360-0)/180=2
    assert(got(3) == Seq(Some(3.0), Some(3.0), Some(2.0), Some(2.0)))
  }

  test("lenient charset decode: malformed bytes become U+FFFD, never an error") {
    import spark.implicits._
    val good = "hello".getBytes("UTF-8")
    val bad = Array[Byte]('h', 'i', 0xC3.toByte, 0x28.toByte, '!') // invalid UTF-8 pair
    val truncated = Array[Byte]('o', 'k', 0xE2.toByte) // cut-off 3-byte sequence
    val df = Seq((1, good), (2, bad), (3, truncated)).toDF("id", "raw")
    val out = graft.operators.Codec.decodeLenient(spark, df, "raw")
      .collect().map(r => r.getAs[Int]("id") -> r.getAs[String]("text")).toMap
    assert(out(1) == "hello")
    assert(out(2) == "hi�(!")
    assert(out(3) == "ok�")
  }

  test("uap-format yaml loader: order, replacements, first-match-wins") {
    val yml = java.nio.file.Files.createTempFile("graft_ua_spec", ".yml")
    java.nio.file.Files.writeString(yml,
      """user_agent_parsers:
        |  - regex: '(AAA)/(\d+)'
        |    family_replacement: 'A-$1'
        |  - regex: '(BBB)/(\d+)\.(\d+)'
        |  - regex: 'CCC'
        |    family_replacement: 'C'
        |os_parsers:
        |  - regex: 'ignored'
        |""".stripMargin)
    val ps = graft.operators.Parse.uaParsersFromYaml(yml.toString)
    assert(ps == Seq(
      graft.operators.Parse.UaParser("(AAA)/(\\d+)", Some("A-$1")),
      graft.operators.Parse.UaParser("(BBB)/(\\d+)\\.(\\d+)"),
      graft.operators.Parse.UaParser("CCC", Some("C"))))
    import spark.implicits._
    // published uap contract: family = family_replacement ($1 substitutes
    // group 1) else group 1; major = v1_replacement else group 2, "" when
    // the regex has fewer than 2 groups — NEVER group 1
    val df = Seq("x AAA/7", "BBB/2.9", "CCC agent", "neither").toDF("ua")
    val got = graft.operators.Parse.useragentWith(df, "ua", ps)
      .select("ua_family", "ua_major").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("A-AAA", "7"), ("BBB", "2"), ("C", ""), ("", "")))
  }

  test("DataSourceV2 generator: executor-side ranges, requested partitioning, line cycling") {
    val df = spark.read.format("graft.sources.GeneratorSource")
      .option("count", 1000).option("partitions", 8)
      .option("lines", "x|y").load()
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 1000)
    val head = df.orderBy("seq").limit(4).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(head == Seq((0L, "x"), (1L, "y"), (2L, "x"), (3L, "y")))
  }

  test("generator as a STREAMING source: exactly-once bounded emission") {
    val tmp = java.nio.file.Files.createTempDirectory("gen_stream").toString
    val src = spark.readStream.format("graft.sources.GeneratorSource")
      .option("count", 500).option("partitions", 4)
      .option("lines", "x|y").load()
    val q = src.writeStream
      .option("checkpointLocation", s"$tmp/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 500)
    assert(out.agg(org.apache.spark.sql.functions.countDistinct("seq"))
      .collect()(0).getLong(0) == 500) // every seq exactly once
  }

  test("file-backed dictionary: csv loader feeds the broadcast lookup") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dict")
    val f = dir.resolve("dict.csv")
    java.nio.file.Files.write(f, "source,team\nsrc0,alpha\nsrc1,beta\n".getBytes)
    val dict = graft.operators.Enrich.dictFromCsv(spark, f.toString)
    val events = Seq("src0", "src1", "srcX").toDF("source")
    val got = graft.operators.Enrich.lookup(events, dict, "source")
      .orderBy("source").collect().map(r => (r.getString(0), r.getAs[String]("team"))).toSeq
    assert(got == Seq(("src0", "alpha"), ("src1", "beta"), ("srcX", null)))
  }

  test("cidr membership across prefix widths; syslog pri decompose") {
    import spark.implicits._
    val df = Seq("10.50.1.2", "10.51.0.0", "192.168.1.1").toDF("ip")
    def hits(block: String) =
      df.select(graft.operators.Net.cidrContains(col("ip"), block)).collect().map(_.getBoolean(0)).toSeq
    assert(hits("10.50.0.0/16") == Seq(true, false, false))
    assert(hits("10.0.0.0/8") == Seq(true, true, false))
    assert(hits("0.0.0.0/0") == Seq(true, true, true))
    assert(hits("10.50.1.2/32") == Seq(true, false, false))
    val pri = Seq(165L).toDF("pri") // facility 20, severity 5
    val r = pri.select(graft.operators.Net.syslogFacility(col("pri")),
      graft.operators.Net.syslogSeverity(col("pri"))).collect()(0)
    assert((r.getInt(0), r.getInt(1)) == ((20, 5)))
  }

  test("field references: strict tokenizer + metadata mapping + nested access") {
    import spark.implicits._
    import graft.model.FieldRef
    assert(FieldRef.parse("foo") == FieldRef.Ref(Seq("foo"), meta = false))
    assert(FieldRef.parse("[foo]") == FieldRef.Ref(Seq("foo"), meta = false))
    assert(FieldRef.parse("[a][b]") == FieldRef.Ref(Seq("a", "b"), meta = false))
    assert(FieldRef.parse("[@metadata][x]") == FieldRef.Ref(Seq("x"), meta = true))
    for (bad <- Seq("", "[a]b", "a[b]", "[a][", "[]", "[a", "]a["))
      assertThrows[IllegalArgumentException](FieldRef.parse(bad))
    // nested struct access + metadata column resolution work end-to-end
    val df = Seq((1, (2, "z"), "m")).toDF("a", "s", "_meta_x")
    val r = df.select(
      FieldRef.column("[s][_2]").as("v"),
      FieldRef.column("[@metadata][x]").as("mx")).collect()(0)
    assert(r.getString(0) == "z" && r.getString(1) == "m")
  }

  test("bucketed sinks: partial-failure rerun is idempotent at partition level") {
    val out = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val r1 = Route.run(spark, pipe.trunk, StandardPipeline.sinks.toIndexedSeq, out, buckets = 8)
    val sinkDir = new java.io.File(s"$out/sink_teamA")
    assert(sinkDir.listFiles().count(_.getName.startsWith("_bucket=")) > 0)
    // simulate a partial failure: delete the commit marker and one bucket
    new java.io.File(sinkDir, "_SUCCESS").delete()
    val someBucket = sinkDir.listFiles().filter(_.getName.startsWith("_bucket=")).head
    someBucket.listFiles().foreach(_.delete()); someBucket.delete()
    // rerun: sink rewritten (no _SUCCESS), dynamic overwrite -> NO duplicates
    val r2 = Route.run(spark, pipe.trunk, StandardPipeline.sinks.toIndexedSeq, out, buckets = 8)
    assert(r2.counts == r1.counts)
    assert(!r2.resumedSinks.contains("sink_teamA"))
    val rows = spark.read.parquet(s"$out/sink_teamA")
    assert(rows.count() == r1.counts("sink_teamA"))
    assert(rows.select("doc_id").distinct().count() == rows.count())
  }

  test("one-pass grok kernel is byte-identical to the composed built-ins") {
    import spark.implicits._
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val lines = events.withColumn("line",
      when(col("event_id") % 5 === 0, lit("no match here"))
        .otherwise(concat(lit("uid="), col("user_id"), lit(" act="), col("event_type"),
          lit(" v="), round(col("value"), 1))))
    val pat = "uid=%{INT:uid:int} act=%{WORD:act} v=%{NUMBER:v:float}"
    val a = graft.operators.Parse.grok(lines, "line", pat)
      .select(col("event_id"), col("uid"), col("act"), col("v"), col("tags"))
    val b = graft.operators.Parse.grokComposed(lines, "line", pat)
      .select(col("event_id"), col("uid"), col("act"), col("v"), col("tags"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // null input parity
    val n = Seq[(java.lang.Long, String)]((1L, null)).toDF("event_id", "line")
    val an = graft.operators.Parse.grok(n, "line", pat).select("uid", "tags").collect()(0)
    assert(an.isNullAt(0) && an.getSeq[String](1) == Seq("_grokparsefailure"))
  }

  test("runWithMetrics persists the flow-metrics table consistent with counts") {
    val out = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val r = Route.runWithMetrics(spark, pipe.trunk, StandardPipeline.sinks.toIndexedSeq, out)
    val m = spark.read.parquet(s"$out/_metrics")
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(m("events_in") == r.counts("_total").toDouble)
    assert(m("events_out_sink_teamA") == r.counts("sink_teamA").toDouble)
    assert(m("duration_sec") > 0 && m("input_throughput_eps") > 0)
  }

  test("Dlq.ageRetained keeps the entries at most maxAgeSeconds older than now") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val entries = Seq(1 -> "2024-01-01 00:00:00", 2 -> "2024-01-01 00:59:59",
      3 -> "2024-01-01 01:00:00", 4 -> "2024-01-01 02:00:00")
      .map { case (i, t) => (i, ts(t)) }.toDF("id", "entry_time")
    val kept = graft.operators.Dlq.ageRetained(entries, lit(ts("2024-01-01 02:00:00")), 3600)
    // an entry exactly the retained age old stays; one a second older goes
    assert(kept.select("id").as[Int].collect().sorted.toSeq == Seq(3, 4))
    assert(kept.columns.toSeq == entries.columns.toSeq)
  }

  test("property: dissectString round-trips random joined values") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val seps = Seq(" ", ",", "|", "::")
    (1 to 20).foreach { _ =>
      val sep = seps(rnd.nextInt(seps.length))
      val vals = (1 to 3).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
      val line = vals.mkString(sep)
      val out = graft.operators.Parse.dissectString(
        Seq(line).toDF("line"), "line", sep, Seq("a", "b", "c")).collect()(0)
      assert(Seq("a", "b", "c").map(out.getAs[String]) == vals, s"sep=$sep line=$line")
    }
  }

  test("property: grok segments are RAW regex (reference Grok.java) — escaped literals + live constructs") {
    import spark.implicits._
    // escaped metacharacters match literally (how stock grok configs write them)
    val nasty = Seq("a\\.b" -> "a.b", "x\\(y\\)" -> "x(y)", "q\\[1\\]" -> "q[1]",
      "p\\+q" -> "p+q", "u\\*v" -> "u*v", "c\\^d\\$" -> "c^d$")
    nasty.foreach { case (seg, raw) =>
      val df = Seq(s"${raw}42").toDF("line")
      val out = graft.operators.Parse.grok(df, "line", s"$seg%{INT:n:int}").collect()(0)
      assert(out.getAs[Long]("n") == 42L, seg)
      assert(out.getSeq[String](out.fieldIndex("tags")).isEmpty, seg)
    }
    // raw regex constructs WORK between refs: the COMBINEDAPACHELOG-style
    // optional alternation, including a user (...) group that must not
    // shift the %{} capture indices
    val df = Seq("bytes: 123 end", "bytes: - end").toDF("line")
    val out = graft.operators.Parse.grok(df, "line", "bytes: (-|%{INT:b:int}) %{WORD:w}")
      .select("b", "w").collect().map(r => (r.get(0), r.getString(1))).toSeq
    assert(out == Seq((123L, "end"), (null, "end")))
  }

  test("mixed-type ordering comparison routes false (reference: event cancelled)") {
    import spark.implicits._
    import graft.conditions._
    val df = Seq(("x", 3), ("y", 9)).toDF("s", "n")
    def count(c: Cond) = df.filter(Cond.predicateFor(df, c)).count()
    assert(count(Gt("s", 5)) == 0)       // string field vs number -> cancelled
    assert(count(Lt("n", "zzz")) == 0)   // numeric field vs string -> cancelled
    assert(count(Gt("n", 5)) == 1)       // well-typed still works
    // row oracle agrees
    assert(!RowOracle.eval(Gt("s", 5), Map("s" -> "x")))
    assert(!RowOracle.eval(Lt("n", "zzz"), Map("n" -> 3)))
  }

  test("VocabTokenize kernel is byte-identical to the built-in composition") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
      graft.model.Tok.tokenize(col("text")).as("a"),
      graft.model.Tok.tokenizeBuiltins(col("text")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0)
  }
}
