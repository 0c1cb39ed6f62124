package graft

import org.apache.spark.sql.functions._

/** `LsclRun.runConfigStream`: a COMPLETE config text (file-tail input ->
  * branch filters -> gated sinks) executed as a Structured Streaming job —
  * the reference's micro-batch worker loop — with checkpointed offsets
  * giving exactly-once restart, and results identical to the batch runner
  * over the same input.
  */
class LsclStreamSpec extends SparkSpec {

  private def append(path: java.nio.file.Path, s: String): Unit =
    java.nio.file.Files.writeString(path, s,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

  private def sev(i: Int): String =
    i % 3 match { case 0 => "ERROR"; case 1 => "WARN"; case _ => "INFO" }

  test("config text streams end-to-end: restart exactly-once, equals batch run") {
    val f = java.nio.file.Files.createTempFile("graft_lscl_stream", ".log")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lscl_stream")
    val out = s"$tmp/out"; val ck = s"$tmp/ck"
    append(f, (0 until 600).map(i => s"${sev(i)} event-$i\n").mkString)

    val cfg =
      s"""input { file { path => "$f" mode => "tail" } }
         |filter {
         |  if [message] =~ /^ERROR/ { mutate { add_tag => ["err"] add_field => { "sev" => "E" } } }
         |  else if [message] =~ /^WARN/ { mutate { add_tag => ["warn"] } }
         |}
         |output {
         |  if "err" in [tags] { sink { id => "s_err" } }
         |  else if "warn" in [tags] { sink { id => "s_warn" } }
         |  else { sink { id => "s_rest" } }
         |}
         |""".stripMargin

    def runOnce(): Unit = {
      val q = graft.lscl.LsclRun.runConfigStream(spark, cfg, out, ck, Map.empty)
      q.awaitTermination(120000); ()
    }

    runOnce()
    def counts(): Map[String, Long] =
      Seq("s_err", "s_warn", "s_rest").map(s =>
        s -> spark.read.parquet(s"$out/$s").count()).toMap
    assert(counts() == Map("s_err" -> 200L, "s_warn" -> 200L, "s_rest" -> 200L))

    // decorator ran inside the stream: the err sink carries the added field
    val errRows = spark.read.parquet(s"$out/s_err")
    assert(errRows.filter(col("sev") === "E").count() == 200)

    // append more lines, restart from the checkpoint: only the delta lands
    append(f, (600 until 630).map(i => s"${sev(i)} event-$i\n").mkString)
    runOnce()
    assert(counts() == Map("s_err" -> 210L, "s_warn" -> 210L, "s_rest" -> 210L))

    // exactly-once across restarts: every routed row has a distinct offset
    val all = Seq("s_err", "s_warn", "s_rest")
      .map(s => spark.read.parquet(s"$out/$s").select("offset"))
      .reduce(_.unionAll(_))
    assert(all.distinct().count() == 630)

    // per-batch counts table accumulated (sink, n, batch_id) rows
    val bc = spark.read.parquet(s"$out/_counts")
      .groupBy("sink").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bc == Map("s_err" -> 210L, "s_warn" -> 210L, "s_rest" -> 210L,
      "_total" -> 630L, "_default" -> 0L))

    // batch-vs-stream equivalence: the batch runner over the same final file
    // routes the same row sets
    val batchOut = s"$tmp/batch"
    val res = graft.lscl.LsclRun.runConfig(spark, cfg, batchOut, Map.empty)
    assert(res.counts.get("s_err").contains(210L))
    for (sink <- Seq("s_err", "s_warn", "s_rest")) {
      val stream = spark.read.parquet(s"$out/$sink")
        .select("message").orderBy("message").collect().map(_.getString(0)).toSeq
      val batch = spark.read.parquet(s"$batchOut/$sink")
        .select("message").orderBy("message").collect().map(_.getString(0)).toSeq
      assert(stream == batch, s"sink $sink differs between stream and batch")
    }
  }

  test("stateful filter configs are rejected loudly in streaming mode") {
    // per-micro-batch windows would silently reset throttle/metrics/
    // aggregate counters at batch boundaries — runConfigStream must refuse
    val f = java.nio.file.Files.createTempFile("graft_lscl_stateful", ".log")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lscl_stateful")
    append(f, "a\nb\n")
    val cfg =
      s"""input { file { path => "$f" mode => "tail" } }
         |filter {
         |  if [message] == "a" {
         |    throttle { key => "%{message}" period => 60 after_count => 1 }
         |  }
         |}
         |output { sink { id => "s" } }
         |""".stripMargin
    val e = intercept[IllegalArgumentException](
      graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/o", s"$tmp/c", Map.empty))
    assert(e.getMessage.contains("throttle"))
    assert(e.getMessage.contains("batch-only"))
  }

  test("codec => multiline streams: per-batch reassembly equals the batch run") {
    val f = java.nio.file.Files.createTempFile("graft_lscl_ml", ".log")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lscl_ml")
    append(f, (0 until 120).map { i =>
      s"${sev(i)} event-$i\n" + (1 to i % 3).map(j => s"  cont $i $j\n").mkString
    }.mkString)

    val cfg =
      s"""input {
         |  file {
         |    path => "$f"
         |    mode => "tail"
         |    codec => multiline { pattern => "^ " what => "previous" }
         |  }
         |}
         |filter {
         |  if [message] =~ /^ERROR/ { mutate { add_tag => ["err"] } }
         |}
         |output {
         |  if "err" in [tags] { sink { id => "m_err" } }
         |  else { sink { id => "m_rest" } }
         |}
         |""".stripMargin

    val q = graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
    q.awaitTermination(120000)
    val res = graft.lscl.LsclRun.runConfig(spark, cfg, s"$tmp/batch", Map.empty)
    assert(res.counts("m_err") == 40L && res.counts("_total") == 120L)
    for (sink <- Seq("m_err", "m_rest")) {
      def rows(dir: String) = spark.read.parquet(s"$tmp/$dir/$sink")
        .select("message", "n_lines").orderBy("message")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val streamRows = rows("out")
      assert(streamRows == rows("batch"), s"sink $sink differs between stream and batch")
      // ERROR heads (i%3==0) never get continuations; INFO heads (i%3==2) get 2
      if (sink == "m_rest") assert(streamRows.exists(_._2 == 3L))
      else assert(streamRows.forall(_._2 == 1L))
    }
  }

  test("top-level throttle streams with keyed state: counters span batches and a restart, equals batch") {
    val f = java.nio.file.Files.createTempFile("graft_lscl_sthr", ".log")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lscl_sthr")
    def line(i: Int): String = {
      val k = if (i % 2 == 0) "a" else "b"
      f"2025-06-01 00:00:$i%02d $k\n"
    }
    val cfg =
      s"""input { file { path => "$f" mode => "tail" } }
         |filter {
         |  dissect { mapping => { "message" => "%{d} %{t} %{k}" } }
         |  mutate { add_field => { "tfull" => "%{d} %{t}" } }
         |  date { match => ["tfull", "yyyy-MM-dd HH:mm:ss"] target => "ts" }
         |  throttle { key => "%{k}" period => 86400 after_count => 3
         |             timestamp_field => "ts" order_by => ["offset"]
         |             add_tag => ["throttled"] }
         |}
         |output { sink { id => "s" } }
         |""".stripMargin
    // phase 1: first 20 events stream (ranks 1..10 per key accumulate)
    append(f, (0 until 20).map(line).mkString)
    val q1 = graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
    try q1.awaitTermination(120000) finally q1.stop()
    // phase 2: 20 MORE events after a full stop — the restored state must
    // continue the per-key counters (ranks 11..20), not restart at 1
    append(f, (20 until 40).map(line).mkString)
    val q2 = graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
    try q2.awaitTermination(120000) finally q2.stop()
    val res = graft.lscl.LsclRun.runConfig(spark, cfg, s"$tmp/batch", Map.empty)
    assert(res.counts("_total") == 40L)
    def rows(dir: String) = spark.read.parquet(s"$tmp/$dir/s")
      .select(col("offset"), col("k"), array_join(col("tags"), ",").as("tg"))
      .orderBy("offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val streamed = rows("out")
    assert(streamed == rows("batch"), "streamed throttle differs from batch")
    // per key: first 3 events untagged, the rest throttled — including every
    // phase-2 event (rank > 3 only holds if phase-1 counts persisted)
    val tagged = streamed.count(_._3.contains("throttled"))
    assert(tagged == 40 - 6, s"expected 34 throttled, got $tagged")
    assert(streamed.sortBy(_._1).drop(20).forall(_._3.contains("throttled")),
      "a phase-2 event escaped the throttle — state did not span the restart")
  }

  test("top-level metrics streams: cumulative meter counts span a restart, final counts equal batch") {
    val f = java.nio.file.Files.createTempFile("graft_lscl_smet", ".log")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lscl_smet")
    def line(i: Int): String = {
      val k = if (i % 3 == 0) "a" else "b"
      f"2025-06-01 00:00:$i%02d $k\n"
    }
    val cfg =
      s"""input { file { path => "$f" mode => "tail" } }
         |filter {
         |  dissect { mapping => { "message" => "%{d} %{t} %{k}" } }
         |  mutate { add_field => { "tfull" => "%{d} %{t}" } }
         |  date { match => ["tfull", "yyyy-MM-dd HH:mm:ss"] target => "ts" }
         |  metrics { meter => ["m_%{k}"] flush_interval => 10
         |            timestamp_field => "ts" add_tag => ["metric"] }
         |}
         |output { sink { id => "s" } }
         |""".stripMargin
    append(f, (0 until 20).map(line).mkString)
    graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
      .awaitTermination(120000)
    append(f, (20 until 40).map(line).mkString)
    graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
      .awaitTermination(120000)
    graft.lscl.LsclRun.runConfig(spark, cfg, s"$tmp/batch", Map.empty)
    // flush cadence differs by design (batch = slot boundaries, stream =
    // micro-batch boundaries); the CONTRACT is the cumulative counters:
    // the final (max) count per meter must match, and phase-2 stream rows
    // must continue phase-1 counts (counts > 20 exist only if state spanned
    // the restart)
    def finalCounts(dir: String): Map[String, Long] =
      spark.read.parquet(s"$tmp/$dir/s")
        .filter(array_contains(col("tags"), "metric"))
        .groupBy("meter").agg(max("count").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamFinal = finalCounts("out")
    assert(streamFinal == finalCounts("batch"),
      s"final cumulative counters differ: $streamFinal")
    assert(streamFinal == Map("m_a" -> 14L, "m_b" -> 26L))
    // passthrough rows unchanged
    val passthrough = spark.read.parquet(s"$tmp/out/s")
      .filter(!coalesce(array_contains(col("tags"), "metric"), lit(false))).count()
    assert(passthrough == 40L)
  }

  test("top-level aggregate streams: per-task maps span a restart, final summaries equal batch") {
    val f = java.nio.file.Files.createTempFile("graft_lscl_sagg", ".log")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lscl_sagg")
    def line(i: Int): String = {
      val k = if (i % 2 == 0) "a" else "b"
      f"2025-06-01 00:00:$i%02d $k ${i}%d.25\n"
    }
    val cfg =
      s"""input { file { path => "$f" mode => "tail" } }
         |filter {
         |  dissect { mapping => { "message" => "%{d} %{t} %{k} %{v}" } }
         |  mutate { add_field => { "tfull" => "%{d} %{t}" } }
         |  date { match => ["tfull", "yyyy-MM-dd HH:mm:ss"] target => "ts" }
         |  aggregate { task_id => "%{k}" timestamp_field => "ts" sum_field => "v"
         |              add_tag => ["agg"] }
         |}
         |output { sink { id => "s" } }
         |""".stripMargin
    append(f, (0 until 20).map(line).mkString)
    graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
      .awaitTermination(120000)
    append(f, (20 until 40).map(line).mkString)
    graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
      .awaitTermination(120000)
    graft.lscl.LsclRun.runConfig(spark, cfg, s"$tmp/batch", Map.empty)
    // flush cadence differs by design (batch = one end-of-input summary,
    // stream = cumulative summary per touched micro-batch); the CONTRACT is
    // the maps: the LAST summary per task must equal the batch summary
    // bit-exactly — and its n_events can only reach 20 if phase-1 state
    // survived the restart
    def summaries(dir: String): Map[String, (Long, java.sql.Timestamp, java.sql.Timestamp, Double)] =
      spark.read.parquet(s"$tmp/$dir/s")
        .orderBy(col("task_id"), col("n_events"))
        .collect().map(r => r.getAs[String]("task_id") ->
          ((r.getAs[Long]("n_events"), r.getAs[java.sql.Timestamp]("first_ts"),
            r.getAs[java.sql.Timestamp]("last_ts"), r.getAs[Double]("total_value"))))
        .toMap // toMap keeps the LAST (max n_events) row per task
    val streamFinal = summaries("out")
    assert(streamFinal == summaries("batch"),
      s"final per-task summaries differ from batch: $streamFinal")
    assert(streamFinal.keySet == Set("a", "b"))
    assert(streamFinal("a")._1 == 20L && streamFinal("b")._1 == 20L,
      "per-task n_events did not span the restart")
    // exact cents accumulation: sum of i.25 over the task's 20 events
    val expA = (0 until 40 by 2).map(i => i + 0.25).sum
    assert(streamFinal("a")._4 == expA, s"total_value ${streamFinal("a")._4} != $expA")
    // decorator applied to summaries
    val tagged = spark.read.parquet(s"$tmp/out/s")
      .filter(array_contains(col("tags"), "agg")).count()
    assert(tagged == spark.read.parquet(s"$tmp/out/s").count())
  }

  test("top-level elapsed streams: a start recorded before a restart matches a later end, equals batch") {
    val f = java.nio.file.Files.createTempFile("graft_lscl_sela", ".log")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lscl_sela")
    def line(sec: Int, id: String, w: String): String =
      f"2025-06-01 00:$sec%02d:00 $id $w\n"
    val cfg =
      s"""input { file { path => "$f" mode => "tail" } }
         |filter {
         |  dissect { mapping => { "message" => "%{d} %{t} %{id} %{w}" } }
         |  mutate { add_field => { "tfull" => "%{d} %{t}" } }
         |  date { match => ["tfull", "yyyy-MM-dd HH:mm:ss"] target => "ts" }
         |  if [w] == "start" { mutate { add_tag => ["ts_start"] } }
         |  if [w] == "end" { mutate { add_tag => ["ts_end"] } }
         |  elapsed { start_tag => "ts_start" end_tag => "ts_end"
         |            unique_id_field => "id" timestamp_field => "ts" }
         |}
         |output { sink { id => "s" } }
         |""".stripMargin
    // phase 1: starts for ids 0..9 (t=i min), ends for ids 0..4 (t=20+i)
    val p1 = (0 until 10).map(i => line(i, s"id$i", "start")) ++
      (0 until 5).map(i => line(20 + i, s"id$i", "end"))
    append(f, p1.mkString)
    val q1 = graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
    try q1.awaitTermination(120000) finally q1.stop()
    // phase 2 after a full stop: ends for ids 5..9 — they match ONLY if the
    // recorded starts survived the restart — plus an end with no start ever
    val p2 = (5 until 10).map(i => line(40 + i, s"id$i", "end")) :+
      line(55, "zz", "end")
    append(f, p2.mkString)
    val q2 = graft.lscl.LsclRun.runConfigStream(spark, cfg, s"$tmp/out", s"$tmp/ck", Map.empty)
    try q2.awaitTermination(120000) finally q2.stop()
    graft.lscl.LsclRun.runConfig(spark, cfg, s"$tmp/batch", Map.empty)
    def rows(dir: String) = spark.read.parquet(s"$tmp/$dir/s")
      .select(col("id"), col("w"), col("elapsed_time"),
        col("elapsed_timestamp_start").cast("string"),
        array_join(col("tags"), ",").as("tg"))
      .orderBy(col("id"), col("w"))
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)), r.getString(4))).toSeq
    val streamed = rows("out")
    assert(streamed == rows("batch"), "streamed elapsed differs from batch")
    assert(streamed.size == 21)
    // every end for ids 0..9 matched; elapsed_time for id7 = (47-7) minutes
    val m = streamed.filter(r => r._2 == "end" && r._1 != "zz")
    assert(m.size == 10 && m.forall(_._5.contains("elapsed_match")))
    assert(streamed.find(r => r._1 == "id7" && r._2 == "end")
      .get._3.contains(40.0 * 60))
    // the never-started end tags end_without_start in both engines
    assert(streamed.find(_._1 == "zz").get._5.contains("elapsed_end_without_start"))
  }

  test("logstash input streams with a declared schema; no schema fails loudly") {
    val port = 15992
    val tmp = java.nio.file.Files.createTempDirectory("graft_l2ls")
    val journal = tmp.resolve("l2ls.journal")
    graft.sources.HttpSource.ensureListener(port, journal)
    try {
      // sender half ships ndjson into the listener
      graft.lscl.LsclRun.runConfig(spark,
        s"""input { generator { count => 6 message => "sm" } }
           |output { logstash { ssl_enabled => false hosts => ["127.0.0.1:$port"] } }""".stripMargin,
        tmp.resolve("sender").toString, Map.empty)
      // streaming receiver must declare the schema (no inference on a stream)
      val noSchema = intercept[IllegalArgumentException] {
        graft.lscl.LsclRun.runConfigStream(spark,
          s"""input { logstash { ssl_enabled => false port => $port journal => "$journal" } }
             |output { file { id => "s" } }""".stripMargin,
          s"$tmp/out0", s"$tmp/ck0", Map.empty)
      }
      assert(noSchema.getMessage.contains("schema"), noSchema.getMessage)
      val q = graft.lscl.LsclRun.runConfigStream(spark,
        s"""input { logstash { ssl_enabled => false port => $port journal => "$journal"
           |  schema => "seq BIGINT, message STRING" } }
           |output { file { id => "s" } }""".stripMargin,
        s"$tmp/out", s"$tmp/ck", Map.empty)
      q.awaitTermination(120000)
      val got = spark.read.parquet(s"$tmp/out/s")
        .select("seq", "message").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(got == (0L until 6L).map(i => (i, "sm")), got.mkString(","))
    } finally graft.sources.HttpSource.stopListener(port)
  }
}
