package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.model.Tok
import graft.streaming.StreamPipeline

/** Streaming-mode specs: the same pipeline over a file-source stream must
  * produce exactly the batch pipeline's per-sink routed rows and counts
  * (Logstash's micro-batch loop == Structured Streaming micro-batches).
  */
class StreamingSpec extends SparkSpec {

  test("streaming foreachBatch fan-out == batch fan-out (rows and counts)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // stream source: the documents parquet split into 2 files to force >=1 batch
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.repartition(2).write.parquet(s"$tmp/in")

    val source = spark.readStream.schema(docs.schema).parquet(s"$tmp/in")
    val q = StreamPipeline.run(
      spark, source,
      batch => StandardPipeline.over(spark, batch).trunk,
      StandardPipeline.sinks.toIndexedSeq,
      s"$tmp/out", s"$tmp/chk", Trigger.AvailableNow())
    q.awaitTermination(120000)

    val batchCounts = StandardPipeline.over(spark, docs).counts
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamCounts = spark.read.parquet(s"$tmp/out/_counts")
      .groupBy("sink").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamCounts == batchCounts)

    // routed-row equality for one sink (byte-exact tokens)
    val batchRows = StandardPipeline.over(spark, docs).sinkFrame("sink_errors")
      .select(col("doc_id"), Tok.tokStr(col("tokens")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val streamRows = spark.read.parquet(s"$tmp/out/sink_errors")
      .select(col("doc_id"), Tok.tokStr(col("tokens")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamRows == batchRows)
  }

  test("checkpoint resume: restarted stream processes only new files exactly once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (first, second) = {
      val Array(a, b) = docs.randomSplit(Array(0.5, 0.5), seed = 42)
      (a, b)
    }
    first.write.mode("append").parquet(s"$tmp/in")
    def runOnce(): Unit = {
      val source = spark.readStream.schema(docs.schema).parquet(s"$tmp/in")
      val q = StreamPipeline.run(
        spark, source,
        batch => StandardPipeline.over(spark, batch).trunk,
        StandardPipeline.sinks.toIndexedSeq,
        s"$tmp/out", s"$tmp/chk", Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    runOnce() // processes `first`
    second.write.mode("append").parquet(s"$tmp/in")
    runOnce() // same checkpoint: must process ONLY `second`
    // totals equal the batch pipeline over the full table — nothing dropped,
    // nothing double-processed
    val batchCounts = StandardPipeline.over(spark, docs).counts
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamCounts = spark.read.parquet(s"$tmp/out/_counts")
      .groupBy("sink").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamCounts == batchCounts)
    // and the second run contributed at least one distinct batch_id
    val batches = spark.read.parquet(s"$tmp/out/_counts")
      .select("batch_id").distinct().count()
    assert(batches >= 2)
  }

  test("aggregate filter with processing-time timeout flushes per-key summaries") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_aggst").toString
    import spark.implicits._
    Seq((1L, 2.0), (1L, 3.0), (2L, 5.0)).toDF("user_id", "value")
      .write.parquet(s"$tmp/in")
    val src = spark.readStream
      .schema("user_id LONG, value DOUBLE").parquet(s"$tmp/in")
    val agg = StreamPipeline.aggregateWithTimeout(spark, src, "user_id", "value", timeoutMs = 10)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("agg_out")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      // first batch ingests, later empty batches fire the timeout flush
      val deadline = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        done = spark.table("agg_out").count() == 2
      }
      val rows = spark.table("agg_out").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(rows == Map(1L -> (2L, 5.0), 2L -> (1L, 5.0)))
    } finally q.stop()
  }

  test("streaming throttle passes at most maxPerPeriod events per key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_thr").toString
    import spark.implicits._
    (Seq.fill(5)("hot") ++ Seq("cold")).toDF("key").write.parquet(s"$tmp/in")
    val src = spark.readStream.schema("key STRING").parquet(s"$tmp/in")
    val out = StreamPipeline.throttleStream(spark, src, "key", periodMs = 60000, maxPerPeriod = 2)
    val q = out.writeStream.outputMode("append").format("memory").queryName("thr_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("thr_out").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("hot" -> 2L, "cold" -> 1L))
  }

  test("windowed metrics with watermark compile and aggregate in streaming mode") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_winm").toString
    spark.read.parquet(s"$sfDir/events.parquet").write.parquet(s"$tmp/in")
    val src = spark.readStream
      .schema(spark.read.parquet(s"$tmp/in").schema).parquet(s"$tmp/in")
    val m = StreamPipeline.windowedMetrics(src, "ts", "event_type", "1 hour", "2 hours")
    val q = m.writeStream.outputMode("append").format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode only emits windows closed by the watermark; with a bounded
    // file source the final watermark closes all but the tail windows
    val streamed = spark.table("win_out").agg(sum("events")).collect()(0).getLong(0)
    val total = spark.read.parquet(s"$tmp/in").count()
    assert(streamed > 0 && streamed <= total)
  }

  test("streaming exact dedup: first-seen survives across micro-batches AND restart") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
    def runOnce(): Unit = {
      // one file per micro-batch, so the duplicate genuinely SPANS batches
      // (without this AvailableNow admits all files in a single batch and
      // the cross-batch state carry-over is never exercised)
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = graft.functions.Dedup.firstSeenStream(src, "text")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // run 1: two files (>=2 micro-batches under AvailableNow's per-file
    // admission) with a duplicate spanning them — 'beta' must survive once
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    Seq((3L, "beta"), (4L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    val after1 = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after1.map(_._2).sorted.toSeq == Seq("alpha", "beta", "gamma"), after1.toSeq)
    // restart with new files: duplicates of PRE-restart keys are dropped from
    // the checkpointed seen-set — only 'delta' is new
    Seq((5L, "alpha"), (6L, "delta"), (7L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    val after2 = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after2.map(_._2).sorted.toSeq == Seq("alpha", "beta", "delta", "gamma"),
      after2.toSeq)
    assert(after2.toMap.get(6L).contains("delta"))
    // and the batch call over the same accumulated input yields the same key set
    val batchKeys = graft.functions.Dedup
      .firstSeenStream(spark.read.parquet(s"$tmp/in"), "text")
      .select("text").collect().map(_.getString(0)).sorted.toSeq
    assert(batchKeys == after2.map(_._2).sorted.toSeq)
  }

  test("streaming NEAR-dup (MinHash-LSH sketch state): cross-batch, restart, batch==stream") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup_stream").toString
    def runOnce(): Unit = {
      val src = spark.readStream.schema("doc_id LONG, tokens ARRAY<INT>")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = graft.functions.Dedup.nearDupStream(spark, src, "tokens", "doc_id")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def reduced(): Map[Long, (Option[Long], Boolean)] =
      graft.functions.Dedup.reduceNearDup(spark.read.parquet(s"$tmp/out"))
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))).toMap
    val d1 = (1 to 30).toVector
    // file 1: d1; d2 = exact copy of d1; d3 disjoint
    Seq((1L, d1), (2L, d1), (3L, (101 to 130).toVector)).toDF("doc_id", "tokens")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    // file 2 (separate micro-batch): d4 = d1 with one token changed (near,
    // not exact — exercises the fractional-match path against CHECKPOINTED
    // sketch state); d5 disjoint
    Seq((4L, d1.init :+ 999), (5L, (201 to 230).toVector)).toDF("doc_id", "tokens")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    val r1 = reduced()
    assert(r1(1L) == ((None, true)))
    assert(r1(2L) == ((Some(1L), false))) // exact dup, same batch
    assert(r1(3L) == ((None, true)))
    assert(r1(4L)._1.contains(1L) && !r1(4L)._2, r1(4L)) // near-dup ACROSS batches
    assert(r1(5L) == ((None, true)))
    // restart: d6 duplicates d3 — only the checkpointed state can know that
    Seq((6L, (101 to 130).toVector), (7L, (301 to 330).toVector)).toDF("doc_id", "tokens")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    val r2 = reduced()
    assert(r2(6L) == ((Some(3L), false)), r2(6L))
    assert(r2(7L) == ((None, true)))
    // batch == stream: the same function over the static accumulated input
    // (one "micro-batch", ids ascending) yields the same verdict map
    val batch = graft.functions.Dedup.reduceNearDup(
      graft.functions.Dedup.nearDupStream(spark,
        spark.read.parquet(s"$tmp/in"), "tokens", "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))).toMap
    assert(batch == r2, s"batch=$batch stream=$r2")
  }

  test("StreamPipeline.run rejects sink fields its plain-parquet write would drop") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_reject").toString
    val source = spark.readStream.format("rate").load()
    val sinks = StandardPipeline.sinks.toIndexedSeq :+
      graft.operators.Route.SinkSpec("lines", graft.conditions.Eq("severity", "ERROR"),
        codec = Some("json_lines"))
    val e = intercept[IllegalArgumentException](
      StreamPipeline.run(spark, source, identity, sinks, s"$tmp/out", s"$tmp/chk"))
    assert(e.getMessage.contains("'lines'") && e.getMessage.contains("codec"), e.getMessage)
  }
}
