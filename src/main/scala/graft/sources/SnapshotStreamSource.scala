package graft.sources

import java.util
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.PartitionReaderFromIterator
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapshotTable

/** Structured Streaming read over a [[graft.operators.SnapshotTable]] chain —
  * the Iceberg streaming-read analogue (`spark.readStream.format(...)` on a
  * table path): each micro-batch is the rows APPENDED by the snapshots in
  * `(start, end]`, planned from manifests alone, so a batch costs the delta
  * and the OFFSET IS THE SNAPSHOT ID. Spark's checkpoint holds that offset;
  * a restarted query resumes from the committed snapshot exactly — no second
  * ledger, and since appends are immutable the replayed range is
  * deterministic while its manifests are retained (keep expiry behind the
  * checkpoint lag, same contract as Iceberg's stream-from-snapshot).
  *
  *   spark.readStream.format("graft.sources.SnapshotStreamSource")
  *     .option("path", table).load()
  *
  * Options: `starting` = `earliest` (default — begin at the contiguous
  * retained horizon, so the whole retained chain drains as the first
  * batches) or `latest` (only commits after stream start);
  * `start_snapshot_id` = explicit EXCLUSIVE lower bound;
  * `max_snapshots_per_trigger` = admission control on COMMIT granularity (a
  * backlog of many snapshots drains in bounded batches; one snapshot always
  * admits whole — the progress guarantee). Trigger.AvailableNow pins the
  * head once and drains to it in capped batches.
  *
  * Insert-only contract, enforced: a range crossing a row-removing snapshot
  * (delete / mor-delete / mor-upsert / rollback) fails loudly — stream
  * row-level changes with [[graft.operators.SnapshotPipe.runCdc]] instead.
  * Compaction (`replace`) commits pass through silently: same rows, new
  * files, nothing re-emitted.
  *
  * Readers are Spark's own parquet reader, set up once per micro-batch on
  * the driver, one partition per appended FILE (a big commit fans out).
  * Columns resolve by name, as in the batch read ([[SnapshotTable.read]]).
  */
class SnapshotStreamSource extends TableProvider {
  // a VIRGIN table (no committed snapshot yet) infers empty: the streaming
  // WRITE path needs no table schema (the first epoch stamps the query's),
  // while the read path fails loudly at scan creation
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (SnapshotTable.latestId(SparkSession.active,
        SnapshotStreamSource.pathOf(options)).isEmpty) new StructType()
    else SnapshotTable.latestSchema(SparkSession.active,
      SnapshotStreamSource.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SnapshotStreamTable(schema, new CaseInsensitiveStringMap(properties))
}

object SnapshotStreamSource {
  private[sources] def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("SnapshotStreamSource: path option required"))
}

private class SnapshotStreamTable(tschema: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graft_snapshot_stream(${options.get("path")})"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(opts)
    new SnapshotStreamScan(tschema, new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // writeStream options arrive on the LogicalWriteInfo; table-level ones
    // (the getTable properties) fill any gaps — path usually rides on both
    val merged = new util.HashMap[String, String](options)
    merged.putAll(info.options())
    new SnapshotStreamWriteBuilder(new LogicalWriteInfo {
      override def options() = new CaseInsensitiveStringMap(merged)
      override def queryId(): String = info.queryId()
      override def schema(): StructType = info.schema()
    })
  }
}

private class SnapshotStreamScan(tschema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder with Scan {

  override def build(): Scan = this
  override def readSchema(): StructType = tschema

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(tschema.fields.nonEmpty,
      "streaming read of a table with no committed snapshot — append once " +
        "first (a virgin table has no schema to plan with)")
    new SnapshotMicroBatch(SnapshotStreamSource.pathOf(options), tschema,
      Option(options.get("starting")).getOrElse("earliest"),
      Option(options.get("start_snapshot_id")).map(_.toLong),
      options.getLong("max_snapshots_per_trigger", 0L))
  }
}

/** Offset = highest CONSUMED snapshot id (−1 = nothing yet). */
private case class SnapId(id: Long) extends Offset {
  override def json(): String = id.toString
}

private class SnapshotMicroBatch(dir: String, schema: StructType, starting: String,
                                 startId: Option[Long], maxSnapshotsPerTrigger: Long)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // planning happens on the driver, where the session that started the
  // query is active — manifests are driver-side metadata, like every other
  // SnapshotTable planner
  private def spark = SparkSession.active

  override def initialOffset(): Offset = SnapId(startId.getOrElse(starting match {
    case "latest" => SnapshotTable.latestId(spark, dir).getOrElse(-1L)
    case "earliest" =>
      // the CONTIGUOUS retained horizon, never a ref-pinned island beyond
      // an expired gap (same bootstrap rule as SnapshotPipe)
      SnapshotTable.earliestContiguousId(spark, dir).map(_ - 1).getOrElse(-1L)
    case other => sys.error(s"bad starting option '$other' (earliest|latest)")
  }))

  private def head(): Long = SnapshotTable.latestId(spark, dir).getOrElse(-1L)

  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(head())

  override def latestOffset(): Offset = SnapId(head())

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val end = availableNowEnd.getOrElse(head())
    val s = start.asInstanceOf[SnapId].id
    if (maxSnapshotsPerTrigger <= 0 || end <= s) SnapId(end)
    else SnapId(math.min(end, s + maxSnapshotsPerTrigger))
  }

  override def deserializeOffset(json: String): Offset = SnapId(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapId].id
    val e = end.asInstanceOf[SnapId].id
    if (e <= s) return Array.empty
    // one partition per appended file: a large commit fans out across the
    // cluster; the insert-only guard (appendedIn) fails loudly here when
    // the range crosses a row-removing snapshot
    SnapshotTable.incrementalFiles(spark, dir, s, e)
      .flatMap(_._2)
      .map { case (f, length) => SnapshotFilePartition(f, length): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotFileReaderFactory(new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf()))

  override def commit(end: Offset): Unit = () // the table's manifests are the retention
  override def stop(): Unit = ()
}

private case class SnapshotFilePartition(file: String, length: Long) extends InputPartition

private class SnapshotFileReaderFactory(read: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotFilePartition]
    // the parquet reader closes its file when the task completes
    new PartitionReaderFromIterator(read(PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(p.file), 0L, p.length, Array.empty[String], 0L, p.length)))
  }
}
