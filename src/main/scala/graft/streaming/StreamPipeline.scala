package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.operators.Route

/** Streaming execution of the same pipeline plans — Logstash's micro-batch
  * worker loop maps 1:1 onto Structured Streaming (SURVEY.md §2.7):
  * queue read -> readStream, worker batch -> trigger micro-batch, output
  * fan-out -> foreachBatch multi-sink writes, aggregate-filter timeout
  * flush -> flatMapGroupsWithState with ProcessingTimeTimeout.
  *
  * Scale stance: foreachBatch persists each micro-batch once and writes all
  * sinks from it (same single-materialization policy as the batch Route.run);
  * per-sink counts accumulate via the streaming metrics table rather than
  * per-sink count() jobs.
  */
object StreamPipeline {

  /** Run a transform + fan-out over a file-source stream; each micro-batch is
    * persisted once, every sink appended, per-batch counts appended to a
    * `_counts` table (sink, n, batch_id). Returns the running query.
    */
  /** `perBatch` runs once per micro-batch over the transformed (flag-free)
    * frame AFTER the file sinks commit — the hook the config frontend uses
    * for network outputs. Delivery through it is AT-LEAST-ONCE: a replayed
    * micro-batch after a crash re-sends its events (exactly the reference's
    * PQ-replay output contract; the file sinks stay exactly-once via the
    * checkpoint).
    */
  def run(spark: SparkSession, source: DataFrame,
          transform: DataFrame => DataFrame,
          sinks: Seq[Route.SinkSpec], outDir: String,
          checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
          perBatch: DataFrame => Unit = _ => ()): StreamingQuery = {
    Route.requirePlainSinks(sinks, "StreamPipeline.run")
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val flagged = Route.withSinkFlags(transform(batch), sinks)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sinks.foreach { s =>
            Route.sinkFrame(flagged, s).write.mode("append").parquet(s"$outDir/${s.name}")
          }
          Route.sinkCounts(flagged, sinks)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$outDir/_counts")
          perBatch(flagged.drop(
            flagged.columns.filter(_.startsWith("_m_")).toIndexedSeq: _*))
          ()
        } finally { flagged.unpersist(); () }
      }
      .start()
  }

  /** Snapshot-table variant of [[run]]: every sink is an Iceberg-style
    * [[graft.operators.SnapshotTable]] under `tableRoot/<sink>`, and each
    * micro-batch commits with batch id `epoch-<batchId>`. A REPLAYED
    * micro-batch — a crash between a sink write and the stream checkpoint
    * commit, or a whole re-run after a lost checkpoint — is recognized by
    * the manifest chain and skipped, upgrading [[run]]'s blind
    * `mode("append")` file writes (at-least-once on replay) to exactly-once
    * END TO END. Two ledgers, like real Iceberg streaming sinks: the stream
    * checkpoint schedules batches; the snapshot chain commits data.
    */
  def runSnapshots(spark: SparkSession, source: DataFrame,
                   transform: DataFrame => DataFrame,
                   sinks: Seq[Route.SinkSpec], tableRoot: String,
                   checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.SnapshotTable.appendSinks(
          spark, transform(batch), sinks, tableRoot, s"epoch-$batchId")
        ()
      }
      .start()

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
