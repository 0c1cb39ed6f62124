package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import graft.operators.{SnapshotTable => ST}

/** The snapshot commit path: the publish-if-absent claim every commit point
  * goes through, the on-disk manifest format of every writer and
  * maintenance operation, pinned against golden bytes, and the batch ledger
  * rule they all share.
  */
class SnapshotCommitSpec extends SparkSpec {

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_commit").toString

  private def fsOf(t: String): FileSystem =
    new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bytesOf(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def rows(ids: Range, prefix: String = "v") = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"$prefix$i")).toDF("id", "v")
  }

  private def dayRows(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i", s"d${i % 2}")).toDF("id", "v", "day")
  }

  test("publishIfAbsent: a second claim of a manifest, tag or stage name loses; first bytes stay") {
    val t = tmp()
    ST.append(spark, rows(0 until 3), t, Some("b0"))
    ST.tag(spark, t, "audit", 0L)
    ST.stage(spark, rows(3 until 5), t, "tok", Some("b1"))
    val fs = fsOf(t)
    val md = new Path(t, "_manifests")
    val taken = Seq(md -> "manifest-000000.json", new Path(md, "refs") -> "audit",
      md -> "staged-tok.json")
    taken.foreach { case (dir, name) =>
      val p = new Path(dir, name)
      val before = bytesOf(fs, p)
      assert(!ST.publishIfAbsent(fs, dir, name, "rival".getBytes("UTF-8")),
        s"second claim of $name must lose")
      assert(bytesOf(fs, p).sameElements(before), s"$name was overwritten")
      assert(!fs.listStatus(dir).exists(_.getPath.getName.endsWith(".tmp")),
        s"claim of $name left its tmp file behind")
    }
    // the wrapping single-writer sites turn a lost claim into a loud failure
    val e = intercept[IllegalArgumentException](ST.tag(spark, t, "audit", 0L))
    assert(e.getMessage.contains("already exists"))
    val s = intercept[IllegalArgumentException](ST.stage(spark, rows(0 until 1), t, "tok"))
    assert(s.getMessage.contains("already in flight"))
    // a free name is claimed with exactly the given bytes
    assert(ST.publishIfAbsent(fs, md, "fresh", "ok".getBytes("UTF-8")))
    assert(new String(bytesOf(fs, new Path(md, "fresh")), "UTF-8") == "ok")
    // the table is untouched by the lost claims
    assert(ST.read(spark, t).count() == 3)
    assert(ST.refs(spark, t) == Map("audit" -> 0L))
  }

  /** Raw manifest bytes of snapshots `ids`, commit wall-clock masked. */
  private def manifests(t: String, ids: Seq[Long]): Seq[String] = {
    val fs = fsOf(t)
    ids.map { id =>
      new String(bytesOf(fs, new Path(t, f"_manifests/manifest-$id%06d.json")), "UTF-8")
        .replaceAll("\"commit_time_ms\":\\d+", "\"commit_time_ms\":0")
    }
  }

  test("append-family writers: every manifest equals its golden bytes") {
    val t = tmp()
    ST.append(spark, rows(0 until 6), t, Some("b0"), statsBy = Seq("id"),
      bloomBy = Seq("v"))                                              // 0
    ST.appendPartitioned(spark, dayRows(10 until 14), t, col("day"), Some("b1")) // 1
    assert(ST.append(spark, rows(0 until 6), t, Some("b0")).skippedExisting)
    val staging = s"$t-staging"
    rows(40 until 43, "a").coalesce(1).write.parquet(staging)
    val files = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    ST.adoptFiles(spark, t, files, 3L, Some("b2"), rows(0 until 1).schema) // 2
    ST.overwrite(spark, rows(20 until 23, "w"), t, Some("b3"))         // 3
    ST.stage(spark, rows(30 until 32), t, "tok", Some("b4"))
    ST.publishStaged(spark, t, "tok")                                  // 4
    ST.createBranch(spark, t, "br", 4L)
    ST.appendToBranch(spark, rows(50 until 53), t, "br", Some("b5"))   // 5
    ST.appendToBranch(spark, rows(60 until 61), t, "br", Some("b6"), statsBy = Seq("v")) // 6
    ST.fastForward(spark, t, "br")
    val got = manifests(t, 0L to 6L)
    got.zip(GoldenManifests.chain).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"manifest $i")
    }
    assert(got.size == GoldenManifests.chain.size)
  }

  test("hidden-partition writers: dynamic overwrite manifests equal their golden bytes") {
    val t = tmp()
    ST.appendPartitioned(spark, dayRows(0 until 6), t, col("day"), Some("p0"),
      statsBy = Seq("id"), bloomBy = Seq("v"))                        // 0
    ST.appendPartitioned(spark, dayRows(6 until 9).withColumn("day", lit("d2")),
      t, col("day"), Some("p1"))                                       // 1
    ST.overwritePartitions(spark, dayRows(100 until 102).withColumn("day", lit("d0")),
      t, col("day"), Some("p2"))                                       // 2
    val got = manifests(t, 0L to 2L)
    got.zip(GoldenManifests.partitioned).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"manifest $i")
    }
    assert(got.size == GoldenManifests.partitioned.size)
  }

  test("maintenance ops: every manifest equals its golden bytes") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = tmp()
    ST.create(spark, t, rows(0 until 1).schema, statsBy = Seq("id"), bloomBy = Seq("v")) // 0
    ST.append(spark, rows(0 until 6), t, Some("b0"))                   // 1
    ST.append(spark, rows(6 until 10), t, Some("b1"))                  // 2
    ST.alterSchema(spark, t, add = Seq(StructField("note", StringType))) // 3
    ST.delete(spark, t, ST.KeyRange("id", Some(2L), Some(2L)))         // 4
    ST.update(spark, t, col("id") === 7L, Map("v" -> lit("u7")),
      Some(Seq("snap-000002")))                                        // 5
    ST.deleteKeys(spark, t, Seq(4L).toDF("id"), "id", Some("k1"))      // 6
    ST.upsertKeys(spark, t, Seq((5L, "x5"), (100L, "x100")).toDF("id", "v"), "id",
      Some("k2"))                                                      // 7
    ST.merge(spark, t, Seq((6L, "m6"), (200L, "m200")).toDF("id", "v"), "id",
      update = Some(Map.empty))                                        // 8
    ST.compactSmall(spark, t, maxBytes = 1L << 40)                     // 9
    ST.append(spark, rows(500 until 503), t, Some("b2"))               // 10
    ST.upsert(spark, t, Seq((8L, "c8"), (300L, "c300")).toDF("id", "v"), "id") // 11
    ST.compact(spark, t, targetFiles = 2, sortBy = Seq("id"))          // 12
    ST.rollback(spark, t, 10L)                                         // 13
    ST.truncate(spark, t)                                              // 14
    val got = manifests(t, 0L to 14L)
    got.zip(GoldenManifests.maintenance).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"manifest $i")
    }
    assert(got.size == GoldenManifests.maintenance.size)
  }

  test("a reset ledger never skips a replayed batch whose rows were removed") {
    // truncate removes every row: the batch re-appends
    val t1 = tmp()
    ST.append(spark, rows(0 until 3), t1, Some("b1"))
    ST.truncate(spark, t1)
    val c1 = ST.append(spark, rows(0 until 3), t1, Some("b1"))
    assert(!c1.skippedExisting && c1.snapshotId == 2L)
    assert(ST.read(spark, t1).count() == 3)
    // an overwrite without a batch id replaces every row
    val t2 = tmp()
    ST.append(spark, rows(0 until 3), t2, Some("b1"))
    ST.overwrite(spark, rows(10 until 12, "w"), t2)
    val c2 = ST.append(spark, rows(0 until 3), t2, Some("b1"))
    assert(!c2.skippedExisting && c2.snapshotId == 2L)
    assert(ST.read(spark, t2).count() == 5)
    // a rollback to a snapshot with no ledger removes the batch's rows
    val t3 = tmp()
    ST.append(spark, rows(0 until 3), t3)
    ST.append(spark, rows(3 until 6), t3, Some("b1"))
    ST.rollback(spark, t3, 0L)
    val c3 = ST.append(spark, rows(3 until 6), t3, Some("b1"))
    assert(!c3.skippedExisting && c3.snapshotId == 3L)
    assert(ST.read(spark, t3).count() == 6)
    // and the restored batch still skips after that
    assert(ST.append(spark, rows(3 until 6), t3, Some("b1")) ==
      ST.Commit(3L, skippedExisting = true))
    // a pre-ledger head (no batch_commits key) still rebuilds the ledger, and
    // a commit without a batch id carries the rebuilt ids forward
    val t4 = tmp()
    ST.append(spark, rows(0 until 3), t4, Some("old"))
    val p = java.nio.file.Paths.get(t4, "_manifests", "manifest-000000.json")
    java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
      .replaceAll(",\"batch_commits\":\\[[^\\]]*\\]", ""))
    ST.append(spark, rows(3 until 4), t4)
    assert(ST.manifest(spark, t4, 1L).batchCommits == Seq("old" -> 0L))
    assert(ST.append(spark, rows(0 until 3), t4, Some("old")) ==
      ST.Commit(0L, skippedExisting = true))
    // a rollback to a pre-ledger snapshot restores its rebuilt ledger
    ST.rollback(spark, t4, 0L)
    assert(ST.manifest(spark, t4, 2L).batchCommits == Seq("old" -> 0L))
  }
}

/** The on-disk manifest format: the bytes of every snapshot of the op
  * sequences above, commit wall-clock masked to 0. A change here is a
  * format change that every existing table would see.
  */
object GoldenManifests {
  val chain: Seq[String] = Seq(
    """{"snapshot_id":0,"parent_id":null,"operation":"append","batch_id":"b0","added_rows":6,"total_rows":6,"added":["snap-000000"],"live":["snap-000000"],"batch_commits":["b0|0"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjpmYWxzZSwibWV0YWRhdGEiOnt9fSx7Im5hbWUiOiJ2IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319XX0=","stats_cols":["id"],"stats":["snap-000000|id|long|MA==|NQ=="],"bloom_cols":["v"],"blooms":["snap-000000|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":1,"parent_id":0,"operation":"append","batch_id":"b1","added_rows":4,"total_rows":10,"added":["snap-000001/_p=d0","snap-000001/_p=d1"],"live":["snap-000000","snap-000001/_p=d0","snap-000001/_p=d1"],"batch_commits":["b0|0","b1|1"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoiZGF5IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319XX0=","stats_cols":["id"],"stats":["snap-000000|id|long|MA==|NQ==","snap-000001/_p=d0|id|long|MTA=|MTI=","snap-000001/_p=d1|id|long|MTE=|MTM="],"bloom_cols":["v"],"blooms":["snap-000000|v","snap-000001/_p=d0|v","snap-000001/_p=d1|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":2,"parent_id":1,"operation":"append","batch_id":"b2","added_rows":3,"total_rows":13,"added":["snap-000002"],"live":["snap-000000","snap-000001/_p=d0","snap-000001/_p=d1","snap-000002"],"batch_commits":["b0|0","b1|1","b2|2"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoiZGF5IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319XX0=","stats_cols":["id"],"stats":["snap-000000|id|long|MA==|NQ==","snap-000001/_p=d0|id|long|MTA=|MTI=","snap-000001/_p=d1|id|long|MTE=|MTM=","snap-000002|id|long|NDA=|NDI="],"bloom_cols":["v"],"blooms":["snap-000000|v","snap-000001/_p=d0|v","snap-000001/_p=d1|v","snap-000002|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":3,"parent_id":2,"operation":"overwrite","batch_id":"b3","added_rows":3,"total_rows":3,"added":["snap-000003"],"live":["snap-000003"],"batch_commits":["b3|3"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjpmYWxzZSwibWV0YWRhdGEiOnt9fSx7Im5hbWUiOiJ2IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319XX0=","stats_cols":["id"],"stats":["snap-000003|id|long|MjA=|MjI="],"bloom_cols":["v"],"blooms":["snap-000003|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":4,"parent_id":3,"operation":"append","batch_id":"b4","added_rows":2,"total_rows":5,"added":["snap-000004"],"live":["snap-000003","snap-000004"],"batch_commits":["b3|3","b4|4"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX1dfQ==","stats_cols":["id"],"stats":["snap-000003|id|long|MjA=|MjI=","snap-000004|id|long|MzA=|MzE="],"bloom_cols":["v"],"blooms":["snap-000003|v","snap-000004|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":5,"parent_id":4,"operation":"append","batch_id":"b5","added_rows":3,"total_rows":8,"added":["br-br-000005"],"live":["snap-000003","snap-000004","br-br-000005"],"batch_commits":["b3|3","b4|4","b5|5"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX1dfQ==","stats_cols":["id"],"stats":["snap-000003|id|long|MjA=|MjI=","snap-000004|id|long|MzA=|MzE=","br-br-000005|id|long|NTA=|NTI="],"bloom_cols":["v"],"blooms":["snap-000003|v","snap-000004|v","br-br-000005|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":6,"parent_id":5,"operation":"append","batch_id":"b6","added_rows":1,"total_rows":9,"added":["br-br-000006"],"live":["snap-000003","snap-000004","br-br-000005","br-br-000006"],"batch_commits":["b3|3","b4|4","b5|5","b6|6"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX1dfQ==","stats_cols":["id","v"],"stats":["snap-000003|id|long|MjA=|MjI=","snap-000004|id|long|MzA=|MzE=","br-br-000005|id|long|NTA=|NTI=","br-br-000006|id|long|NjA=|NjA=","br-br-000006|v|string|djYw|djYw"],"bloom_cols":["v"],"blooms":["snap-000003|v","snap-000004|v","br-br-000005|v","br-br-000006|v"],"deletes":[],"commit_time_ms":0}"""
  )
  val maintenance: Seq[String] = Seq(
    """{"snapshot_id":0,"parent_id":null,"operation":"create","batch_id":null,"added_rows":0,"total_rows":0,"added":[],"live":[],"batch_commits":[],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjpmYWxzZSwibWV0YWRhdGEiOnt9fSx7Im5hbWUiOiJ2IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319XX0=","stats_cols":["id"],"stats":[],"bloom_cols":["v"],"blooms":[],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":1,"parent_id":0,"operation":"append","batch_id":"b0","added_rows":6,"total_rows":6,"added":["snap-000001"],"live":["snap-000001"],"batch_commits":["b0|1"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX1dfQ==","stats_cols":["id"],"stats":["snap-000001|id|long|MA==|NQ=="],"bloom_cols":["v"],"blooms":["snap-000001|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":2,"parent_id":1,"operation":"append","batch_id":"b1","added_rows":4,"total_rows":10,"added":["snap-000002"],"live":["snap-000001","snap-000002"],"batch_commits":["b0|1","b1|2"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX1dfQ==","stats_cols":["id"],"stats":["snap-000001|id|long|MA==|NQ==","snap-000002|id|long|Ng==|OQ=="],"bloom_cols":["v"],"blooms":["snap-000001|v","snap-000002|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":3,"parent_id":2,"operation":"alter","batch_id":null,"added_rows":0,"total_rows":10,"added":[],"live":["snap-000001","snap-000002"],"batch_commits":["b0|1","b1|2"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000001|id|long|MA==|NQ==","snap-000002|id|long|Ng==|OQ=="],"bloom_cols":["v"],"blooms":["snap-000001|v","snap-000002|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":4,"parent_id":3,"operation":"delete","batch_id":null,"added_rows":0,"total_rows":9,"added":["snap-000004"],"live":["snap-000002","snap-000004"],"batch_commits":["b0|1","b1|2"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000002|id|long|Ng==|OQ==","snap-000004|id|long|MA==|NQ=="],"bloom_cols":["v"],"blooms":["snap-000002|v","snap-000004|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":5,"parent_id":4,"operation":"update","batch_id":null,"added_rows":0,"total_rows":9,"added":["snap-000005"],"live":["snap-000004","snap-000005"],"batch_commits":["b0|1","b1|2"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000004|id|long|MA==|NQ==","snap-000005|id|long|Ng==|OQ=="],"bloom_cols":["v"],"blooms":["snap-000004|v","snap-000005|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":6,"parent_id":5,"operation":"mor-delete","batch_id":"k1","added_rows":0,"total_rows":9,"added":[],"live":["snap-000004","snap-000005"],"batch_commits":["b0|1","b1|2","k1|6"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000004|id|long|MA==|NQ==","snap-000005|id|long|Ng==|OQ==","snap-000006-del|id|long|NA==|NA=="],"bloom_cols":["v"],"blooms":["snap-000004|v","snap-000005|v"],"deletes":["snap-000006-del|id|6"],"commit_time_ms":0}""",
    """{"snapshot_id":7,"parent_id":6,"operation":"mor-upsert","batch_id":"k2","added_rows":2,"total_rows":11,"added":["snap-000007"],"live":["snap-000004","snap-000005","snap-000007"],"batch_commits":["b0|1","b1|2","k1|6","k2|7"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000004|id|long|MA==|NQ==","snap-000005|id|long|Ng==|OQ==","snap-000006-del|id|long|NA==|NA==","snap-000007|id|long|NQ==|MTAw","snap-000007-del|id|long|NQ==|MTAw"],"bloom_cols":["v"],"blooms":["snap-000004|v","snap-000005|v","snap-000007|v"],"deletes":["snap-000006-del|id|6","snap-000007-del|id|7"],"commit_time_ms":0}""",
    """{"snapshot_id":8,"parent_id":7,"operation":"mor-upsert","batch_id":null,"added_rows":2,"total_rows":13,"added":["snap-000008"],"live":["snap-000004","snap-000005","snap-000007","snap-000008"],"batch_commits":["b0|1","b1|2","k1|6","k2|7"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000004|id|long|MA==|NQ==","snap-000005|id|long|Ng==|OQ==","snap-000006-del|id|long|NA==|NA==","snap-000007|id|long|NQ==|MTAw","snap-000007-del|id|long|NQ==|MTAw","snap-000008|id|long|Ng==|MjAw","snap-000008-del|id|long|Ng==|MjAw"],"bloom_cols":["v"],"blooms":["snap-000004|v","snap-000005|v","snap-000007|v","snap-000008|v"],"deletes":["snap-000006-del|id|6","snap-000007-del|id|7","snap-000008-del|id|8"],"commit_time_ms":0}""",
    """{"snapshot_id":9,"parent_id":8,"operation":"replace","batch_id":null,"added_rows":0,"total_rows":10,"added":["snap-000009"],"live":["snap-000009"],"batch_commits":["b0|1","b1|2","k1|6","k2|7"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000006-del|id|long|NA==|NA==","snap-000007-del|id|long|NQ==|MTAw","snap-000008-del|id|long|Ng==|MjAw","snap-000009|id|long|MA==|MjAw"],"bloom_cols":["v"],"blooms":["snap-000009|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":10,"parent_id":9,"operation":"append","batch_id":"b2","added_rows":3,"total_rows":13,"added":["snap-000010"],"live":["snap-000009","snap-000010"],"batch_commits":["b0|1","b1|2","k1|6","k2|7","b2|10"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000006-del|id|long|NA==|NA==","snap-000007-del|id|long|NQ==|MTAw","snap-000008-del|id|long|Ng==|MjAw","snap-000009|id|long|MA==|MjAw","snap-000010|id|long|NTAw|NTAy"],"bloom_cols":["v"],"blooms":["snap-000009|v","snap-000010|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":11,"parent_id":10,"operation":"overwrite","batch_id":null,"added_rows":2,"total_rows":14,"added":["snap-000011-rw","snap-000011-src"],"live":["snap-000010","snap-000011-rw","snap-000011-src"],"batch_commits":["b0|1","b1|2","k1|6","k2|7","b2|10"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000010|id|long|NTAw|NTAy","snap-000011-rw|id|long|MA==|MjAw","snap-000011-src|id|long|OA==|MzAw"],"bloom_cols":["v"],"blooms":["snap-000010|v","snap-000011-rw|v","snap-000011-src|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":12,"parent_id":11,"operation":"replace","batch_id":null,"added_rows":0,"total_rows":14,"added":["snap-000012/_b=0","snap-000012/_b=1"],"live":["snap-000012/_b=0","snap-000012/_b=1"],"batch_commits":["b0|1","b1|2","k1|6","k2|7","b2|10"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000012/_b=1|id|long|OQ==|NTAy","snap-000012/_b=0|id|long|MA==|OA=="],"bloom_cols":["v"],"blooms":["snap-000012/_b=0|v","snap-000012/_b=1|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":13,"parent_id":12,"operation":"rollback","batch_id":null,"added_rows":0,"total_rows":13,"added":[],"live":["snap-000009","snap-000010"],"batch_commits":["b0|1","b1|2","k1|6","k2|7","b2|10"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000006-del|id|long|NA==|NA==","snap-000007-del|id|long|NQ==|MTAw","snap-000008-del|id|long|Ng==|MjAw","snap-000009|id|long|MA==|MjAw","snap-000010|id|long|NTAw|NTAy"],"bloom_cols":["v"],"blooms":["snap-000009|v","snap-000010|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":14,"parent_id":13,"operation":"overwrite","batch_id":null,"added_rows":0,"total_rows":0,"added":[],"live":[],"batch_commits":[],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoibm90ZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":[],"bloom_cols":["v"],"blooms":[],"deletes":[],"commit_time_ms":0}"""
  )
  val partitioned: Seq[String] = Seq(
    """{"snapshot_id":0,"parent_id":null,"operation":"append","batch_id":"p0","added_rows":6,"total_rows":6,"added":["snap-000000/_p=d0","snap-000000/_p=d1"],"live":["snap-000000/_p=d0","snap-000000/_p=d1"],"batch_commits":["p0|0"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjpmYWxzZSwibWV0YWRhdGEiOnt9fSx7Im5hbWUiOiJ2IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6ImRheSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","stats_cols":["id"],"stats":["snap-000000/_p=d0|id|long|MA==|NA==","snap-000000/_p=d1|id|long|MQ==|NQ=="],"bloom_cols":["v"],"blooms":["snap-000000/_p=d0|v","snap-000000/_p=d1|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":1,"parent_id":0,"operation":"append","batch_id":"p1","added_rows":3,"total_rows":9,"added":["snap-000001/_p=d2"],"live":["snap-000000/_p=d0","snap-000000/_p=d1","snap-000001/_p=d2"],"batch_commits":["p0|0","p1|1"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoiZGF5IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319XX0=","stats_cols":["id"],"stats":["snap-000000/_p=d0|id|long|MA==|NA==","snap-000000/_p=d1|id|long|MQ==|NQ==","snap-000001/_p=d2|id|long|Ng==|OA=="],"bloom_cols":["v"],"blooms":["snap-000000/_p=d0|v","snap-000000/_p=d1|v","snap-000001/_p=d2|v"],"deletes":[],"commit_time_ms":0}""",
    """{"snapshot_id":2,"parent_id":1,"operation":"dynoverwrite","batch_id":"p2","added_rows":2,"total_rows":8,"added":["snap-000002/_p=d0"],"live":["snap-000000/_p=d1","snap-000001/_p=d2","snap-000002/_p=d0"],"batch_commits":["p0|0","p1|1","p2|2"],"schema_b64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6InYiLCJ0eXBlIjoic3RyaW5nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoiZGF5IiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319XX0=","stats_cols":["id"],"stats":["snap-000000/_p=d1|id|long|MQ==|NQ==","snap-000001/_p=d2|id|long|Ng==|OA==","snap-000002/_p=d0|id|long|MTAw|MTAx"],"bloom_cols":["v"],"blooms":["snap-000000/_p=d1|v","snap-000001/_p=d2|v","snap-000002/_p=d0|v"],"deletes":[],"commit_time_ms":0}"""
  )
}
