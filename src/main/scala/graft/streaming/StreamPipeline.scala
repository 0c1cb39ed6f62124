package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.operators.{Route, SnapshotTable}

/** Streaming execution of the same pipeline plans — Logstash's micro-batch
  * worker loop as Structured Streaming (SURVEY.md §2.7): readStream batches,
  * fanned out by [[Route.fanOut]] in foreachBatch, keyed state for the
  * aggregate and throttle filters, windows for metrics. As Logstash
  * acks a batch only after every output took it, file sinks and `_counts`
  * are exactly-once per epoch; `perBatch` network sinks are at-least-once.
  */
object StreamPipeline {

  /** Run a transform + fan-out over a stream; returns the running query.
    * Micro-batch `batchId` of query `<qid>` (the id its checkpoint keeps
    * across restarts) is an epoch: one [[Route.fanOut]] pass (one job
    * unless a decorator adds a column) writes every sink into
    * `outDir/<sink>` as `epoch-<qid>-<batchId>-<file>`, and its counts,
    * `_default` and `_total`, taken in that pass, into `outDir/_counts` the
    * same way, replacing what an earlier attempt
    * of the epoch published. `perBatch` then gets the flag-free batch; with
    * a hook the batch is persisted, so it sees the sinks' rows.
    */
  def run(spark: SparkSession, source: DataFrame,
          transform: DataFrame => DataFrame,
          sinks: Seq[Route.SinkSpec], outDir: String,
          checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
          perBatch: Option[DataFrame => Unit] = None): StreamingQuery = {
    Route.requirePlainSinks(sinks, "StreamPipeline.run")
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      Route.reapStaging(spark, outDir) // what a JVM killed mid-batch left
      val epoch = s"epoch-${spark.sparkContext.getLocalProperty("sql.streaming.queryId")}-$batchId"
      val flagged = Route.withSinkFlags(transform(batch), sinks)
      if (perBatch.nonEmpty) flagged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tally = new Route.Tally(sinks.map(s => Route.flagCol(s.name)))
        val staging = Route.newStaging(outDir)
        Route.fanOut(new Route.FanPlan(flagged, sinks.map(s =>
            Route.FanTarget(col(Route.flagCol(s.name)), s.decorator))), staging, tally = Some(tally)) { staged =>
          val counts = new Path(staging, "_counts")
          val n = sinks.map(_.name).zip(staged.map(_.rows)) ++
            Seq("_default" -> tally.totals.last, "_total" -> tally.totals.head)
          Route.writeTable(spark, new Path(counts, "part-00000.parquet"), CountsSchema,
            n.map { case (k, v) => Row(k, v, batchId) })
          for ((dir, src) <- sinks.map(_.name).zip(staged.map(_.dir)) :+ ("_counts" -> counts)) {
            val dst = new Path(outDir, dir) // first delete what an earlier attempt published
            fs.mkdirs(dst)
            fs.listStatus(dst).map(_.getPath).filter(_.getName.startsWith(s"$epoch-")).foreach(fs.delete(_, false))
            for (f <- fs.listStatus(src).map(_.getPath))
              require(fs.rename(f, new Path(dst, s"$epoch-${f.getName}")),
                s"StreamPipeline.run: cannot move $f to $dst")
          }
        }
        perBatch.foreach(_(flagged.drop(flagged.columns.filter(_.startsWith("_m_")).toIndexedSeq: _*)))
      } finally { if (perBatch.nonEmpty) flagged.unpersist(); () }
    }
  }

  private val CountsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "sink STRING NOT NULL, n BIGINT NOT NULL, batch_id BIGINT NOT NULL")

  /** Snapshot-table variant of [[run]]: each sink is a [[SnapshotTable]]
    * under `tableRoot/<sink>`, appended through `appendSinks` as batch
    * `epoch-<batchId>`, so each sink's ledger skips a replayed epoch.
    */
  def runSnapshots(spark: SparkSession, source: DataFrame,
                   transform: DataFrame => DataFrame,
                   sinks: Seq[Route.SinkSpec], tableRoot: String,
                   checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      SnapshotTable.appendSinks(spark, transform(batch), sinks, tableRoot, s"epoch-$batchId")
    }

  /** `source` started with `f` over each micro-batch and its id. */
  private def eachBatch(source: DataFrame, checkpoint: String, trigger: Trigger)
                       (f: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream.option("checkpointLocation", checkpoint).trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => f(batch, batchId) }.start()

  /** aggregate-filter analogue with timeout flush: correlate events per key,
    * emit one summary row when the key goes quiet for `timeoutMs` (reference:
    * the aggregate filter's per-task_id map + periodic flush; here exact via
    * flatMapGroupsWithState + ProcessingTimeTimeout).
    */
  final case class TaskAgg(key: Long, nEvents: Long, totalValue: Double)

  def aggregateWithTimeout(spark: SparkSession, events: DataFrame,
                           keyCol: String, valueCol: String,
                           timeoutMs: Long): DataFrame = {
    import spark.implicits._
    val typed = events.select(col(keyCol).cast("long").as("k"), col(valueCol).cast("double").as("v"))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), TaskAgg](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, tot) = state.get
            state.remove()
            Iterator(TaskAgg(key, n, tot))
          } else {
            val (n0, t0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var t = t0
            rows.foreach { r => n += 1; t += r._2 }
            state.update((n, t))
            state.setTimeoutDuration(timeoutMs)
            Iterator.empty
          }
      }.toDF()
  }

  /** throttle-filter streaming analogue: pass at most `maxPerPeriod` events
    * per key per processing-time period (reference throttle is wall-clock
    * based, exactly this). State = (periodStart, passedCount); resets when
    * the period rolls over.
    */
  def throttleStream(spark: SparkSession, events: DataFrame,
                     keyCol: String, periodMs: Long, maxPerPeriod: Int): DataFrame = {
    import spark.implicits._
    val typed = events.select(col(keyCol).cast("string").as("k")).as[String]
    typed.groupByKey(identity)
      .flatMapGroupsWithState[(Long, Long), (String, Long)](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (key, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // key idle for a full period: expire its (periodStart, count) so
            // high-cardinality key spaces don't grow the state store without
            // bound (the reference throttle evicts via an LRU cache).
            state.remove()
            Iterator.empty
          } else {
            val now = state.getCurrentProcessingTimeMs()
            val (pStart0, n0) = state.getOption.getOrElse((now, 0L))
            val (pStart, n) = if (now - pStart0 >= periodMs) (now, 0L) else (pStart0, n0)
            val incoming = rows.size
            val passed = math.min(incoming.toLong, math.max(0L, maxPerPeriod - n))
            state.update((pStart, n + incoming))
            state.setTimeoutDuration(periodMs)
            if (passed > 0) Iterator((key, passed)) else Iterator.empty
          }
      }.toDF("key", "passed")
  }

  /** metrics-filter analogue: rolling windowed counters with watermarked
    * event time (strictly more capable than the reference's wall-clock
    * flush — Logstash has no event-time reasoning).
    */
  def windowedMetrics(events: DataFrame, tsCol: String, nameCol: String,
                      windowInterval: String = "5 minutes",
                      watermark: String = "10 minutes"): DataFrame =
    events
      // watermarks require TIMESTAMP (with zone); sources often infer NTZ
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowInterval), col(nameCol).as("name"))
      .agg(count(lit(1)).as("events"))
}
