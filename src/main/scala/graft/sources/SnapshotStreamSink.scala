package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.operators.{Route, SnapshotTable}

/** Structured Streaming WRITE into a [[graft.operators.SnapshotTable]] chain —
  * the sink half of [[SnapshotStreamSource]] (`df.writeStream.format(...)
  * .option("path", table)`), exactly-once WITHOUT a second ledger: executors
  * write each micro-batch's rows as parquet files into a staging area under
  * the table, and the driver-side epoch commit renames exactly the committed
  * tasks' files into one `snap-NNNNNN` dir and commits one manifest whose
  * batch id is `stream:<queryId>:<epochId>`. A replayed epoch (restart after
  * a crash between the table commit and Spark's own commit log) hits the
  * table's batch ledger and SKIPS — the table is the source of truth, the
  * same stance as [[graft.operators.SnapshotPipe]]. Speculative or aborted
  * task files never appear in the commit messages, so they never enter the
  * table (epoch-dir cleanup reaps them).
  *
  * Options: `path` (the table), `sink_id` (overrides the query id in the
  * batch token — set it when one logical sink is fed by differently-
  * checkpointed queries over time). Append output mode only — a snapshot
  * table is an append+retract log, Complete-mode truncation is not a thing
  * it does.
  *
  * Executors write with Spark's own parquet writer, set up on the driver
  * with the session's codec, type mapping and `spark.hadoop.*` settings
  * ([[Route.parquetWriterFactory]]), so the files are the ones a batch write
  * leaves. A column that writer cannot store fails at plan time, before any
  * file is staged. The first epoch of a virgin table stamps the write
  * schema, later epochs evolve it like [[SnapshotTable.append]].
  */
private[sources] class SnapshotStreamWriteBuilder(info: LogicalWriteInfo)
  extends WriteBuilder {

  override def build(): Write = new Write {
    override def toStreaming: StreamingWrite = {
      DataSourceUtils.verifySchema(new ParquetFileFormat(), info.schema())
      val dir = SnapshotStreamSource.pathOf(info.options())
      val sinkId = Option(info.options().get("sink_id")).getOrElse(info.queryId())
      require(sinkId.matches("[A-Za-z0-9._-]+"),
        s"sink_id '$sinkId' must match [A-Za-z0-9._-]+")
      new SnapshotStreamingWrite(dir, sinkId, info.schema())
    }
  }
}

private final case class SnapshotFileCommit(file: String, rows: Long)
  extends WriterCommitMessage

private class SnapshotStreamingWrite(dir: String, sinkId: String, schema: StructType)
  extends StreamingWrite {

  private def stagingRoot = s"$dir/_streaming/$sinkId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val (factory, conf) = Route.parquetWriterFactory(SparkSession.active, schema)
    new SnapshotStreamWriterFactory(stagingRoot, schema, factory, conf)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect { case m: SnapshotFileCommit => m }.toIndexedSeq
    if (files.nonEmpty) {
      SnapshotTable.adoptFiles(spark, dir, files.map(_.file), files.map(_.rows).sum,
        Some(s"stream:$sinkId:$epochId"), schema)
    }
    // reap this epoch's staging dir (aborted-task orphans) and any stale
    // older ones a crashed run left behind — epochs serialize, so nothing
    // at id <= epochId is still being written
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val sr = new Path(stagingRoot)
    if (fs.exists(sr)) {
      val Epoch = "epoch-(\\d+)".r
      fs.listStatus(sr).map(_.getPath).foreach(p => p.getName match {
        case Epoch(e) if e.toLong <= epochId => fs.delete(p, true)
        case _ =>
      })
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$stagingRoot/epoch-$epochId"), true)
  }
}

private class SnapshotStreamWriterFactory(stagingRoot: String, schema: StructType,
                                          factory: OutputWriterFactory,
                                          conf: SerializableConfiguration)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = {
    // uuid-unique name: retried/speculative attempts of the same partition
    // never collide, and only the committed attempt's name reaches the driver
    val file = f"$stagingRoot/epoch-$epochId/part-$partitionId%05d-$taskId-${UUID.randomUUID()}.parquet"
    new SnapshotFileDataWriter(file, Route.openParquet(factory, conf, file, schema), conf)
  }
}

private class SnapshotFileDataWriter(file: String, writer: OutputWriter,
                                     conf: SerializableConfiguration)
  extends DataWriter[InternalRow] {

  private var rows = 0L
  private var closed = false

  override def write(row: InternalRow): Unit = {
    writer.write(row)
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    close()
    SnapshotFileCommit(file, rows)
  }

  override def abort(): Unit = {
    close()
    val p = new Path(file)
    p.getFileSystem(conf.value).delete(p, false)
  }

  override def close(): Unit = if (!closed) { closed = true; writer.close() }
}
