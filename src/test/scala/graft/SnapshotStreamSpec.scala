package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{SnapshotTable => ST}

/** Structured Streaming reads over the snapshot chain: offsets are snapshot
  * ids checkpointed by Spark, so a restarted query resumes from the
  * committed snapshot exactly once; admission control cuts on commit
  * boundaries; row-removing snapshots fail the stream loudly.
  */
class SnapshotStreamSpec extends SparkSpec {

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_snapstream").toString

  private val Fmt = "graft.sources.SnapshotStreamSource"

  private def rows(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i", Seq(i, i + 1, i + 2))).toDF("id", "v", "tokens")
  }

  test("drains the retained chain, then a restart streams only new commits") {
    val t = tmp(); val out = tmp(); val chk = tmp()
    ST.append(spark, rows(0 until 4), t)
    ST.append(spark, rows(4 until 10), t)
    def runOnce(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", t).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    val first = spark.read.parquet(out)
    assert(first.count() == 10)
    // byte-level row fidelity incl. the token-array column
    val got = first.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getSeq[Int](2)))
    assert(got.toSeq == (0 until 10).map(i => (i.toLong, s"v$i", Seq(i, i + 1, i + 2))))
    // nothing new: a rerun on the same checkpoint emits zero rows
    runOnce()
    assert(spark.read.parquet(out).count() == 10)
    // two more commits: only the delta streams
    ST.append(spark, rows(10 until 12), t)
    ST.compact(spark, t) // replace snapshot: same rows, must emit nothing
    ST.append(spark, rows(12 until 15), t)
    runOnce()
    assert(spark.read.parquet(out).count() == 15)
    assert(spark.read.parquet(out).select(sum("id")).collect()(0).getLong(0) ==
      (0 until 15).map(_.toLong).sum)

    // the encodings a session's writer can leave stream back the same values:
    // each timestamp type, and the legacy 2-level list shape with a null row
    import spark.implicits._
    def streamed(conf: (String, String), df: org.apache.spark.sql.DataFrame) = {
      val t2 = tmp(); val out2 = tmp(); val chk2 = tmp()
      val was = spark.conf.getOption(conf._1)
      spark.conf.set(conf._1, conf._2)
      try ST.append(spark, df, t2)
      finally was.fold(spark.conf.unset(conf._1))(spark.conf.set(conf._1, _))
      spark.readStream.format(Fmt).option("path", t2).load()
        .writeStream.format("parquet")
        .option("path", out2).option("checkpointLocation", chk2)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
      val file = new java.io.File(s"$t2/data/snap-000000").listFiles().filter(_.getName.endsWith(".parquet")).head
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString), new org.apache.hadoop.conf.Configuration()))
      try (footer.getFooter.getFileMetaData.getSchema.toString,
        spark.read.parquet(out2).orderBy("id").collect().toSeq)
      finally footer.close()
    }
    val at = java.sql.Timestamp.valueOf("2024-03-01 10:20:30.123")
    val stamps = Seq((0L, at), (1L, null.asInstanceOf[java.sql.Timestamp])).toDF("id", "ts")
    for ((unit, shape) <- Seq("TIMESTAMP_MILLIS" -> "int64 ts (TIMESTAMP(MILLIS,true))",
        "TIMESTAMP_MICROS" -> "int64 ts (TIMESTAMP(MICROS,true))", "INT96" -> "int96 ts")) {
      val (schema, got) = streamed("spark.sql.parquet.outputTimestampType" -> unit, stamps)
      assert(schema.contains(shape), schema)
      assert(got == stamps.collect().toSeq, unit)
    }
    val lists = Seq((0L, Seq(1, 2)), (1L, null.asInstanceOf[Seq[Int]])).toDF("id", "arr")
    val (legacy, listed) = streamed("spark.sql.parquet.writeLegacyFormat" -> "true", lists)
    assert(legacy.contains("repeated int32 array"), legacy)
    assert(listed == lists.collect().toSeq)
  }

  test("max_snapshots_per_trigger drains a backlog on commit boundaries") {
    val t = tmp(); val chk = tmp()
    (0 until 4).foreach(i => ST.append(spark, rows(i * 3 until i * 3 + 3), t))
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = spark.readStream.format(Fmt).option("path", t)
      .option("max_snapshots_per_trigger", "1").load()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, df.count()); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    // one commit (3 rows) per micro-batch, never a merged mega-batch
    assert(sizes == Seq(3L, 3L, 3L, 3L))
  }

  test("starting=latest sees only commits made after stream start") {
    val t = tmp(); val out = tmp(); val chk = tmp()
    ST.append(spark, rows(0 until 5), t) // pre-existing history: skipped
    def runOnce(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", t)
        .option("starting", "latest").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 0)
    ST.append(spark, rows(5 until 8), t)
    runOnce()
    assert(spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 6L, 7L))
  }

  test("schema evolution: pre-ADD-COLUMN commits stream the new column as null") {
    import spark.implicits._
    val t = tmp(); val out = tmp(); val chk = tmp()
    ST.append(spark, Seq((0L, "a")).toDF("id", "v"), t)
    ST.append(spark, Seq((1L, "b", 0.5)).toDF("id", "v", "score"), t)
    val q = spark.readStream.format(Fmt).option("path", t).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).orderBy("id").collect()
    assert(got.length == 2)
    assert(got(0).isNullAt(2) && got(1).getDouble(2) == 0.5)
  }

  test("sink: table-to-table streaming, one ledgered snapshot per epoch, delta on restart") {
    val src = tmp(); val dst = tmp(); val chk = tmp()
    ST.append(spark, rows(0 until 6), src)
    def runOnce(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", src).load()
        .withColumn("v", upper(col("v")))
        .writeStream.format(Fmt)
        .option("path", dst).option("sink_id", "s2s")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce() // virgin sink: the first epoch stamps the write schema
    val got = ST.read(spark, dst).orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getSeq[Int](2)))
    assert(got.toSeq == (0 until 6).map(i => (i.toLong, s"V$i", Seq(i, i + 1, i + 2))))
    // the commit is ledgered under stream:<sink_id>:<epoch>
    val m = ST.manifest(spark, dst, ST.latestId(spark, dst).get)
    assert(m.batchCommits.map(_._1).exists(_.startsWith("stream:s2s:")))
    // idle rerun: no new snapshot
    val head = ST.latestId(spark, dst).get
    runOnce()
    assert(ST.latestId(spark, dst).contains(head))
    // delta flows; staging area is reaped after commit
    ST.append(spark, rows(6 until 9), src)
    runOnce()
    assert(ST.read(spark, dst).count() == 9)
    val staging = new java.io.File(s"$dst/_streaming/s2s")
    assert(!staging.exists() || staging.listFiles().isEmpty)
  }

  test("sink: a replayed epoch hits the table ledger and skips (no checkpoint needed)") {
    val src = tmp(); val dst = tmp()
    ST.append(spark, rows(0 until 8), src)
    def runFresh(): Unit = {
      val chk = tmp() // NEW checkpoint each run: epochs restart at 0
      val q = spark.readStream.format(Fmt).option("path", src).load()
        .writeStream.format(Fmt)
        .option("path", dst).option("sink_id", "replay")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runFresh()
    assert(ST.read(spark, dst).count() == 8)
    // a second from-scratch run re-emits epoch 0 over the same range: the
    // table's own batch ledger is the dedup — rows do NOT double
    runFresh()
    assert(ST.read(spark, dst).count() == 8)
    assert(ST.latestId(spark, dst).contains(0L))
  }

  test("sink round-trip: types survive encode + vectorized batch read") {
    import spark.implicits._
    val src = tmp(); val dst = tmp(); val chk = tmp()
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:20:30.123456")
    val day = java.sql.Date.valueOf("2024-03-01")
    ST.append(spark, Seq(
      (1L, "a", 1.5, 2.5f, true, ts, day, Array[Byte](1, 2), Seq("x", "y")),
      (2L, null.asInstanceOf[String], 0.0, 0f, false, null.asInstanceOf[java.sql.Timestamp],
        null.asInstanceOf[java.sql.Date], null.asInstanceOf[Array[Byte]], null.asInstanceOf[Seq[String]])
    ).toDF("id", "s", "d", "f", "b", "ts", "day", "bin", "arr")
      // nested and decimal columns; row 2 holds the null and empty shapes
      .withColumn("st", struct(when(col("id") === 1L, lit(7)).as("n"), col("s").as("w")))
      .withColumn("m", when(col("id") === 1L, map(lit("k"), lit(3L), lit("z"), lit(null).cast("bigint")))
        .otherwise(map().cast("map<string,bigint>")))
      .withColumn("dec", when(col("id") === 1L, lit("12.34").cast("decimal(10,2)")))
      .withColumn("nested", when(col("id") === 1L, array(array(lit(1L), lit(2L)), array(lit(3L))))
        .otherwise(array(array().cast("array<bigint>"), lit(null).cast("array<bigint>")))), src)
    val q = spark.readStream.format(Fmt).option("path", src).load()
      .writeStream.format(Fmt)
      .option("path", dst).option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = ST.read(spark, dst)
    assert(out.schema == spark.read.parquet(s"$src/data/snap-000000").schema)
    val r = out.orderBy("id").collect()
    assert(r(0).getString(1) == "a" && r(0).getDouble(2) == 1.5 &&
      r(0).getFloat(3) == 2.5f && r(0).getBoolean(4) &&
      r(0).getTimestamp(5) == ts && r(0).getDate(6) == day &&
      r(0).getAs[Array[Byte]](7).toSeq == Seq[Byte](1, 2) &&
      r(0).getSeq[String](8) == Seq("x", "y"))
    assert(Seq(1, 5, 6, 7, 8, 11).forall(r(1).isNullAt))
    assert(r(1).getDouble(2) == 0.0 && !r(1).getBoolean(4))
    // every column, the nested and decimal ones included, reads back as
    // written (rows compared, not exceptAll: map columns cannot be compared)
    assert(r.toSeq == ST.read(spark, src).orderBy("id").collect().toSeq)
    assert(r(0).getStruct(9) == org.apache.spark.sql.Row(7, "a") &&
      r(0).getMap[String, Any](10) == Map("k" -> 3L, "z" -> null) &&
      r(0).getDecimal(11) == new java.math.BigDecimal("12.34") &&
      r(0).getSeq[Seq[Long]](12) == Seq(Seq(1L, 2L), Seq(3L)))
    assert(r(1).getStruct(9) == org.apache.spark.sql.Row(null, null) &&
      r(1).getMap[String, Any](10).isEmpty && r(1).getSeq[Seq[Long]](12) == Seq(Seq(), null))
  }

  test("sink: a column the parquet writer cannot store fails at plan time, nothing staged") {
    val src = tmp(); val dst = tmp(); val chk = tmp()
    ST.append(spark, rows(0 until 3), src)
    val e = intercept[Exception] {
      spark.readStream.format(Fmt).option("path", src).load()
        .withColumn("iv", expr("make_interval(0, 0, 0, 1)"))
        .writeStream.format(Fmt)
        .option("path", dst).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && "[`']iv[`']".r.findFirstIn(m).nonEmpty), e.toString)
    assert(!new java.io.File(s"$dst/_streaming").exists())
    assert(ST.latestId(spark, dst).isEmpty)
  }

  test("a row-removing snapshot in range fails the stream loudly") {
    import spark.implicits._
    val t = tmp(); val chk = tmp()
    ST.append(spark, rows(0 until 5), t)
    ST.deleteKeys(spark, t, Seq(2L).toDF("id"), "id")
    val q = spark.readStream.format(Fmt).option("path", t).load()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    assert(e.getMessage.contains("mor-delete") ||
      Option(e.getCause).exists(_.getMessage.contains("mor-delete")))
  }
}
