package graft

import org.apache.spark.sql.functions._
import graft.operators.{Route, SnapshotTable => ST}


/** Snapshot-chained sink tables: append / time travel / incremental /
  * exactly-once batch ids / compaction / expiry.
  */
class SnapshotSpec extends SparkSpec {

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_snap").toString

  private def batch(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")
  }

  test("append chains snapshots; read sees the union; asOf time-travels") {
    val t = tmp()
    val c0 = ST.append(spark, batch(0 until 4), t)
    val c1 = ST.append(spark, batch(4 until 10), t)
    assert(c0.snapshotId == 0 && c1.snapshotId == 1)
    assert(ST.read(spark, t).count() == 10)
    assert(ST.asOf(spark, t, 0).count() == 4)
    val m1 = ST.manifest(spark, t, 1)
    assert(m1.parentId.contains(0L) && m1.totalRows == 10 && m1.addedRows == 6)
    assert(m1.live == Seq("snap-000000", "snap-000001"))
  }

  test("asOf of a never-committed snapshot fails loudly") {
    val t = tmp()
    ST.append(spark, batch(0 until 2), t)
    val e = intercept[IllegalArgumentException](ST.asOf(spark, t, 7))
    assert(e.getMessage.contains("snapshot 7") && e.getMessage.contains("available: 0"))
  }

  test("a committed batch id is exactly-once: the retry is skipped") {
    val t = tmp()
    val first = ST.append(spark, batch(0 until 5), t, Some("ingest-001"))
    val retry = ST.append(spark, batch(0 until 5), t, Some("ingest-001"))
    assert(!first.skippedExisting && retry.skippedExisting)
    assert(retry.snapshotId == first.snapshotId)
    assert(ST.read(spark, t).count() == 5) // no duplicates
  }

  test("schema evolution: new columns appear, old snapshots keep their schema") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 3), t)                       // snap 0: (id, v)
    ST.append(spark, Seq((10L, "v10", 0.5))
      .toDF("id", "v", "score"), t)                             // snap 1: +score
    // current read: evolved schema, old rows read the new column as null
    val now = ST.read(spark, t)
    assert(now.columns.toSeq == Seq("id", "v", "score"))
    assert(now.filter(col("score").isNull).count() == 3)
    assert(now.filter(col("id") === 10L).select("score").collect()(0).getDouble(0) == 0.5)
    // TIME TRAVEL sees the schema the table had THEN — no score column
    assert(ST.asOf(spark, t, 0).columns.toSeq == Seq("id", "v"))
    // appending a NARROWER frame is fine (missing column = null)
    ST.append(spark, batch(20 until 21), t)
    assert(ST.read(spark, t).filter(col("id") === 20L)
      .select("score").collect()(0).isNullAt(0))
    // a TYPE change fails loudly (ADD COLUMN surface, not type promotion)
    val e = intercept[IllegalArgumentException] {
      ST.append(spark, Seq((30L, "x", "not-a-double")).toDF("id", "v", "score"), t)
    }
    assert(e.getMessage.contains("cannot change column 'score'"))
    // compaction preserves the evolved schema and the null backfill
    ST.compact(spark, t)
    val compacted = ST.read(spark, t)
    assert(compacted.columns.toSeq == Seq("id", "v", "score"))
    assert(compacted.filter(col("score").isNull).count() == 4)
  }

  test("sorted compaction clusters into per-bucket dirs with disjoint manifest stats") {
    import spark.implicits._
    val t = tmp()
    // interleaved appends so arrival order clusters nothing
    ST.append(spark, Seq(5L, 1L, 9L).toDF("id"), t)
    ST.append(spark, Seq(3L, 7L, 0L).toDF("id"), t)
    ST.append(spark, Seq(8L, 2L, 6L, 4L).toDF("id"), t)
    val c = ST.compact(spark, t, targetFiles = 2, sortBy = Seq("id"))
    assert(!c.skippedExisting)
    assert(ST.read(spark, t).count() == 10)
    assert(ST.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      (0L to 9L))
    val m = ST.manifest(spark, t, c.snapshotId)
    // one live dir per range bucket, each carrying its own min/max stats
    assert(m.live.size == 2 && m.live.forall(_.contains("/_b=")))
    val ranges = m.stats.filter(_.column == "id")
      .map(s => (s.min.toLong, s.max.toLong)).sortBy(_._1)
    assert(ranges.size == 2)
    assert(ranges(0)._2 < ranges(1)._1, ranges.toString) // disjoint dirs
    // a point predicate prunes the other bucket driver-side
    val (kept, pruned) = ST.planScan(m, ST.KeyRange("id", Some(0L), Some(1L)))
    assert(kept.size == 1 && pruned.size == 1)
    // readWhere == read().filter() — stats only remove provably-empty IO
    assert(ST.readWhere(spark, t, ST.KeyRange("id", Some(0L), Some(3L)))
      .select("id").as[Long].collect().sorted.toSeq == (0L to 3L))
  }

  test("zorder compaction prunes on EITHER keyed column; plain sort only on the leading one") {
    import spark.implicits._
    // two independent uniform dims: x = i/64, y = i%64 over an 8x8 grid x64
    def grid() = spark.range(0, 4096, 1, 8)
      .select(($"id" / 64).cast("long").as("x"), ($"id" % 64).as("y"))
    val tz = tmp()
    ST.append(spark, grid(), tz, statsBy = Seq("x", "y"))
    ST.compact(spark, tz, targetFiles = 16, zorderBy = Seq("x", "y"))
    val mz = ST.manifest(spark, tz, ST.latestId(spark, tz).get)
    val bandX = ST.KeyRange("x", Some(0L), Some(7L))   // 1/8 of x
    val bandY = ST.KeyRange("y", Some(0L), Some(7L))   // 1/8 of y
    val (keptX, prunedX) = ST.planScan(mz, bandX)
    val (keptY, prunedY) = ST.planScan(mz, bandY)
    assert(prunedX.nonEmpty && prunedY.nonEmpty,
      s"zorder must prune both dims (x kept ${keptX.size}, y kept ${keptY.size})")
    // same table sorted on x alone: x prunes, y cannot (every dir spans all y)
    val ts = tmp()
    ST.append(spark, grid(), ts, statsBy = Seq("x", "y"))
    ST.compact(spark, ts, targetFiles = 16, sortBy = Seq("x"))
    val ms = ST.manifest(spark, ts, ST.latestId(spark, ts).get)
    assert(ST.planScan(ms, bandX)._2.nonEmpty)
    assert(ST.planScan(ms, bandY)._2.isEmpty, "sort-by-x cannot prune y bands")
    // pruned reads stay exact on both dims
    assert(ST.readWhere(spark, tz, bandY).count() ==
      ST.read(spark, tz).filter($"y".between(0, 7)).count())
    assert(ST.readWhere(spark, tz, bandY).count() == 512)
    // zorder on a non-numeric or single column fails loudly
    intercept[IllegalArgumentException](
      ST.compact(spark, tz, targetFiles = 4, zorderBy = Seq("x")))
  }

  test("bloom sketches prune point lookups where min/max bounds cannot") {
    import spark.implicits._
    val t = tmp()
    // arrival-interleaved: batch k holds ids ≡ k (mod 4), so EVERY dir spans
    // nearly the whole id range — bounds keep everything, only blooms prune
    for (k <- 0 until 4)
      ST.append(spark, spark.range(0, 256, 1, 4)
        .select(($"id" * 4 + k).as("id"))
        .select($"id", concat(lit("v"), $"id").as("v")),
        t, statsBy = Seq("id"), bloomBy = Seq("id"))
    val m = ST.manifest(spark, t, ST.latestId(spark, t).get)
    assert(m.bloomCols == Seq("id") && m.blooms.size == 4)
    // bounds alone keep all 4 dirs for the point key
    assert(ST.planScan(m, ST.KeyRange("id", Some(42L), Some(42L)))._2.isEmpty)
    // blooms prove the other residues absent (fp may keep extra, never all)
    val (kept, pruned) = ST.planScanEq(spark, t, m, "id", 42L)
    assert(pruned.nonEmpty && kept.contains("snap-000002")) // 42 ≡ 2 (mod 4)
    // pruned read is exact, and an absent key reads empty
    assert(ST.readWhereEq(spark, t, "id", 42L).select("v").as[String].collect()
      .toSeq == Seq("v42"))
    assert(ST.readWhereEq(spark, t, "id", 5000L).count() == 0)
    // compaction rebuilds sketches for the rewritten dirs
    ST.compact(spark, t, targetFiles = 2, sortBy = Seq("id"))
    val mc = ST.manifest(spark, t, ST.latestId(spark, t).get)
    assert(mc.blooms.map(_._1).toSet == mc.live.toSet)
    assert(ST.readWhereEq(spark, t, "id", 42L).count() == 1)
    // expiry deletes sidecars of dropped dirs (only live dirs' files remain)
    ST.expire(spark, t, keepLast = 1)
    val bloomFiles = new java.io.File(s"$t/_manifests/bloom").list().toSeq
      .filterNot(_.startsWith(".")) // hadoop local-fs .crc sidecars
    assert(bloomFiles.size == mc.live.size)
    // a table without blooms never bloom-prunes (falls back to bounds)
    val t2 = tmp()
    ST.append(spark, batch(0 until 8), t2, statsBy = Seq("id"))
    val m2 = ST.manifest(spark, t2, 0)
    assert(ST.planScanEq(spark, t2, m2, "id", 3L)._1 == Seq("snap-000000"))
    // fractional key domains fail loudly
    intercept[IllegalArgumentException](ST.append(spark,
      Seq((1.5, "x")).toDF("score", "v"), tmp(), bloomBy = Seq("score")))
  }

  test("append stats prune dirs; dirs without stats are never pruned") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, Seq((0L, "a"), (9L, "b")).toDF("id", "v"), t) // NO stats
    ST.append(spark, Seq((100L, "c")).toDF("id", "v"), t, statsBy = Seq("id"))
    ST.append(spark, Seq((200L, "d")).toDF("id", "v"), t) // statsCols sticky
    val m = ST.manifest(spark, t, 2)
    assert(m.statsCols == Seq("id"))
    assert(m.stats.map(_.dir).sorted == Seq("snap-000001", "snap-000002"))
    val (kept, pruned) = ST.planScan(m, ST.KeyRange("id", Some(150L), None))
    // dir 0 has no stats (kept, unprunable); dir 1 provably out; dir 2 in
    assert(kept.sorted == Seq("snap-000000", "snap-000002"))
    assert(pruned == Seq("snap-000001"))
    assert(ST.readWhere(spark, t, ST.KeyRange("id", Some(150L), None))
      .select("id").as[Long].collect().toSeq == Seq(200L))
  }

  test("row-level delete rewrites only stats-intersecting dirs (copy-on-write)") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, (0L until 10L).toDF("id"), t, statsBy = Seq("id"))
    ST.append(spark, (100L until 110L).toDF("id"), t)
    ST.append(spark, (200L until 210L).toDF("id"), t)
    val c = ST.delete(spark, t, ST.KeyRange("id", Some(100L), Some(104L)))
    assert(!c.skippedExisting)
    val m = ST.manifest(spark, t, c.snapshotId)
    assert(m.operation == "delete" && m.totalRows == 25)
    // dirs 0 and 2 carried untouched; dir 1 rewritten into the new dir
    assert(m.live.contains("snap-000000") && m.live.contains("snap-000002"))
    assert(!m.live.contains("snap-000001"))
    assert(ST.read(spark, t).count() == 25)
    assert(ST.read(spark, t).filter($"id".between(100, 104)).count() == 0)
    // carried dirs keep their stats; the rewritten dir has fresh ones
    assert(m.stats.map(_.dir).toSet ==
      Set("snap-000000", "snap-000002", f"snap-${c.snapshotId}%06d"))
    // a provably-disjoint delete is a no-op commit
    assert(ST.delete(spark, t, ST.KeyRange("id", Some(5000L), None)).skippedExisting)
    // incremental across a delete snapshot fails loudly (not insert-only)
    val e = intercept[RuntimeException](ST.incremental(spark, t, 0, c.snapshotId))
    assert(e.getMessage.contains("delete"))
  }

  test("upsert replaces matching keys, inserts new ones, prunes by key bounds") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, Seq((0L, "a"), (1L, "b")).toDF("id", "v"), t, statsBy = Seq("id"))
    ST.append(spark, Seq((100L, "x"), (101L, "y")).toDF("id", "v"), t)
    val c = ST.upsert(spark, t, Seq((1L, "B2"), (2L, "NEW")).toDF("id", "v"), "id")
    assert(!c.skippedExisting)
    val m = ST.manifest(spark, t, c.snapshotId)
    assert(m.operation == "overwrite" && m.totalRows == 5 && m.addedRows == 2)
    // dir 1 (ids 100..101) provably outside the delta's key bounds: untouched
    assert(m.live.contains("snap-000001"))
    assert(!m.live.contains("snap-000000"))
    val got = ST.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, "a"), (1L, "B2"), (2L, "NEW"), (100L, "x"), (101L, "y")))
    // duplicate source keys are undefined-replacement: fail loudly
    val e = intercept[IllegalArgumentException](
      ST.upsert(spark, t, Seq((7L, "p"), (7L, "q")).toDF("id", "v"), "id"))
    assert(e.getMessage.contains("duplicate"))
    // upsert with a NEW column evolves the schema like append
    ST.upsert(spark, t, Seq((2L, "NEW2", 0.9)).toDF("id", "v", "score"), "id")
    val now = ST.read(spark, t)
    assert(now.columns.toSeq == Seq("id", "v", "score"))
    assert(now.filter($"id" === 2L).select("score").collect()(0).getDouble(0) == 0.9)
    assert(now.filter($"score".isNull).count() == 4)
  }

  test("vacuum removes uncommitted upsert leftovers, keeps bucket-dir parents") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, (0L until 6L).toDF("id"), t)
    ST.compact(spark, t, targetFiles = 2, sortBy = Seq("id")) // live: snap-000001/_b=K
    // crash leftovers: an uncommitted upsert's -src/-rw dirs
    Seq(99L).toDF("id").write.parquet(s"$t/data/snap-000002-src")
    Seq(98L).toDF("id").write.parquet(s"$t/data/snap-000002-rw")
    assert(ST.vacuum(spark, t).sorted == Seq("snap-000002-rw", "snap-000002-src"))
    // the clustered dir's top-level parent survives (its buckets are live)
    assert(ST.read(spark, t).count() == 6)
  }

  test("vacuum deletes only unreferenced crash-leftover dirs") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 3), t)
    // a data dir with no manifest = a crash between write and commit
    Seq(99L).toDF("id").write.parquet(s"$t/data/snap-000007")
    assert(ST.vacuum(spark, t) == Seq("snap-000007"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "data", "snap-000007")))
    assert(ST.read(spark, t).count() == 3)  // live dir untouched
    assert(ST.vacuum(spark, t).isEmpty)     // idempotent
  }

  test("legacy pre-ledger chains migrate: old batch ids still skip replays") {
    val t = tmp()
    ST.append(spark, batch(0 until 3), t, Some("legacy-1"))
    ST.append(spark, batch(3 until 5), t, Some("legacy-2"))
    // rewrite the manifests into the PRE-LEDGER format (no batch_commits
    // key) — the shape commit 98cd25d wrote
    for (i <- 0 to 1) {
      val p = java.nio.file.Paths.get(t, "_manifests", f"manifest-$i%06d.json")
      val legacy = java.nio.file.Files.readString(p)
        .replaceAll(",\"batch_commits\":\\[[^\\]]*\\]", "")
      java.nio.file.Files.writeString(p, legacy)
      // the nio rewrite bypasses Hadoop's LocalFS, so its checksum sidecar
      // is now stale — drop it or the next manifest read fails CRC
      java.nio.file.Files.deleteIfExists(
        p.getParent.resolve(f".manifest-$i%06d.json.crc"))
    }
    assert(ST.manifest(spark, t, 1).batchCommits.isEmpty) // really legacy now
    // a replayed legacy batch id must be skipped (reconstructed ledger)...
    val replay = ST.append(spark, batch(0 until 3), t, Some("legacy-1"))
    assert(replay.skippedExisting && replay.snapshotId == 0)
    // ...and a fresh append seeds the cumulative ledger going forward
    val fresh = ST.append(spark, batch(5 until 6), t, Some("new-1"))
    assert(!fresh.skippedExisting)
    assert(ST.manifest(spark, t, fresh.snapshotId).batchCommits.toMap ==
      Map("legacy-1" -> 0L, "legacy-2" -> 1L, "new-1" -> fresh.snapshotId))
    assert(ST.read(spark, t).count() == 6)
  }

  test("incremental reads only the delta; changelog tags the snapshot id") {
    val t = tmp()
    ST.append(spark, batch(0 until 3), t)  // snap 0
    ST.append(spark, batch(3 until 7), t)  // snap 1
    ST.append(spark, batch(7 until 9), t)  // snap 2
    val delta = ST.incremental(spark, t, 0, 2)
    assert(delta.agg(min("id"), max("id")).collect().head.toSeq == Seq(3L, 8L))
    val log = ST.changelog(spark, t, 0, 2)
      .groupBy("_snapshot_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(log == Map(1L -> 4L, 2L -> 2L))
    // empty range yields an empty, correctly-shaped frame
    assert(ST.incremental(spark, t, 2, 2).count() == 0)
  }

  test("compact rewrites files as a replace snapshot: rows identical, invisible to changelog") {
    val t = tmp()
    ST.append(spark, batch(0 until 5), t)
    ST.append(spark, batch(5 until 8), t)
    val c = ST.compact(spark, t)
    assert(c.snapshotId == 2 && !c.skippedExisting)
    val m = ST.manifest(spark, t, 2)
    assert(m.operation == "replace" && m.live == Seq("snap-000002") && m.totalRows == 8)
    assert(ST.read(spark, t).count() == 8)
    // replace contributes nothing to incremental/changelog
    assert(ST.incremental(spark, t, 1, 2).count() == 0)
    // compacting an already-compacted table is a no-op commit
    assert(ST.compact(spark, t).skippedExisting)
  }

  test("expire deletes old manifests + unreferenced data dirs; latest still reads") {
    val t = tmp()
    ST.append(spark, batch(0 until 5), t)   // snap 0
    ST.append(spark, batch(5 until 8), t)   // snap 1
    ST.compact(spark, t)                    // snap 2: live = [snap-000002]
    val deleted = ST.expire(spark, t, keepLast = 1)
    // snap-000000/1 are unreferenced by the retained snapshot 2 -> gone
    assert(deleted == Seq("snap-000000", "snap-000001"))
    assert(ST.read(spark, t).count() == 8)
    val e = intercept[IllegalArgumentException](ST.asOf(spark, t, 0))
    assert(e.getMessage.contains("expired"))
    // physical dirs really deleted
    val dataDirs = new java.io.File(s"$t/data").list().sorted.toSeq
    assert(dataDirs == Seq("snap-000002"))
  }

  test("expire keeps a data dir still referenced by a retained snapshot") {
    val t = tmp()
    ST.append(spark, batch(0 until 3), t)   // snap 0: live [d0]
    ST.append(spark, batch(3 until 5), t)   // snap 1: live [d0, d1]
    val deleted = ST.expire(spark, t, keepLast = 1)
    assert(deleted.isEmpty) // snap 1 still references snap-000000
    assert(ST.read(spark, t).count() == 5)
  }

  test("appendSinks routes the fan-out into per-sink snapshot tables exactly-once") {
    import spark.implicits._
    val root = tmp()
    val trunk = Seq((1L, "ERROR"), (2L, "WARN"), (3L, "ERROR"), (4L, "INFO"))
      .toDF("doc_id", "severity")
    val sinks = Seq(
      Route.SinkSpec("errs", graft.conditions.Eq("severity", "ERROR")),
      Route.SinkSpec("warns", graft.conditions.Eq("severity", "WARN")))
    val c1 = ST.appendSinks(spark, trunk, sinks, root, "b1")
    assert(c1.values.forall(!_.skippedExisting))
    // replay of the same batch: both sinks skipped, row counts unchanged
    val c2 = ST.appendSinks(spark, trunk, sinks, root, "b1")
    assert(c2.values.forall(_.skippedExisting))
    assert(ST.read(spark, s"$root/errs").count() == 2)
    assert(ST.read(spark, s"$root/warns").count() == 1)
    // a second batch appends a new snapshot per sink
    ST.appendSinks(spark, trunk.filter($"doc_id" > 2), sinks, root, "b2")
    assert(ST.read(spark, s"$root/errs").count() == 3)
    assert(ST.latestId(spark, s"$root/errs").contains(1L))
  }

  test("appendSinks rejects sink fields its plain-parquet write would drop") {
    import spark.implicits._
    val root = tmp()
    val trunk = Seq((1L, "ERROR"), (2L, "WARN")).toDF("doc_id", "severity")
    val plain = Route.SinkSpec("errs", graft.conditions.Eq("severity", "ERROR"))
    val daily = plain.copy(name = "daily", indexTemplate = Some("logstash-%{+yyyy.MM.dd}"))
    val e = intercept[IllegalArgumentException](
      ST.appendSinks(spark, trunk, Seq(plain, daily), root, "b1"))
    assert(e.getMessage.contains("'daily'") && e.getMessage.contains("indexTemplate"),
      e.getMessage)
    // nothing was committed: the check runs before any sink write
    assert(ST.latestId(spark, s"$root/errs").isEmpty)
  }

  // ---- SnapshotPipe.runSinks: incremental multi-sink routed pipe ----

  private def sevBatch(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, if (i % 2 == 0) "ERROR" else "WARN")).toDF("id", "severity")
  }

  private val routeSinks = Seq(
    Route.SinkSpec("errs", graft.conditions.Eq("severity", "ERROR")),
    Route.SinkSpec("warns", graft.conditions.Eq("severity", "WARN")))

  test("runSinks pipes chunks into per-sink tables and resumes after a crash between sink commits") {
    import graft.operators.SnapshotPipe
    val src = tmp(); val root = tmp()
    ST.append(spark, sevBatch(0 until 6), src, Some("b0"))
    val r1 = SnapshotPipe.runSinks(spark, src, root, routeSinks)()
    assert(r1.map(_._1) == Seq(0L))
    assert(ST.read(spark, s"$root/errs").count() == 3)
    // new source batch arrives; simulate a crash AFTER errs committed the
    // chunk but BEFORE warns did: pre-commit errs manually under the
    // chunk's batch id, then resume — errs must be skipped, warns appended
    ST.append(spark, sevBatch(6 until 12), src, Some("b1"))
    val tok = SnapshotPipe.srcToken(src)
    ST.append(spark, ST.incremental(spark, src, 0, 1).filter(col("severity") === "ERROR"),
      s"$root/errs", Some(s"incr-$tok-1"))
    val r2 = SnapshotPipe.runSinks(spark, src, root, routeSinks)()
    assert(r2.map(_._1) == Seq(1L))
    // errs: coverage-skipped (its cursor already covers the chunk, so it is
    // absent from the chunk's commit map); warns: real append
    assert(!r2.head._2.contains("errs") && !r2.head._2("warns").skippedExisting)
    assert(ST.read(spark, s"$root/errs").count() == 6)
    assert(ST.read(spark, s"$root/warns").count() == 6)
    assert(SnapshotPipe.runSinks(spark, src, root, routeSinks)().isEmpty)
  }

  test("runSinks chunk-size change across a lagging sink cannot double-append") {
    import graft.operators.SnapshotPipe
    val src = tmp(); val root = tmp()
    val tok = SnapshotPipe.srcToken(src)
    (0 until 3).foreach(k => ST.append(spark, sevBatch(k * 4 until (k + 1) * 4), src))
    // errs committed the WHOLE backlog as one wide chunk (-1, 2]; warns is
    // virgin — as after a crash inside a K=MaxValue run's appendSinks
    ST.append(spark, ST.read(spark, src).filter(col("severity") === "ERROR"),
      s"$root/errs", Some(s"incr-$tok-2"))
    // resume with K=1: chunk edges differ, but errs' committed bound 2 is
    // >= every new bound, so coverage-skip keeps it untouched
    SnapshotPipe.runSinks(spark, src, root, routeSinks, maxSnapshotsPerChunk = 1)()
    assert(ST.read(spark, s"$root/errs").count() == 6) // NOT doubled
    assert(ST.read(spark, s"$root/warns").count() == 6)
    assert(ST.latestId(spark, s"$root/errs").contains(0L)) // no new errs snapshot
    // and the reverse shape: errs at an INTERMEDIATE bound 1, resume with a
    // wide K — edge alignment must split the grid chunk at bound 1
    val root2 = tmp()
    ST.append(spark, ST.asOf(spark, src, 1).filter(col("severity") === "ERROR"),
      s"$root2/errs", Some(s"incr-$tok-1"))
    SnapshotPipe.runSinks(spark, src, root2, routeSinks)()
    assert(ST.read(spark, s"$root2/errs").count() == 6)
    assert(ST.read(spark, s"$root2/warns").count() == 6)
  }

  test("runSinks bootstraps only virgin sinks after source expiry") {
    import graft.operators.SnapshotPipe
    val src = tmp(); val root = tmp()
    (0 until 3).foreach(k => ST.append(spark, sevBatch(k * 4 until (k + 1) * 4), src))
    SnapshotPipe.runSinks(spark, src, root, Seq(routeSinks.head))()
    ST.compact(spark, src) // snapshot 3 (replace)
    ST.expire(spark, src, keepLast = 1)
    // errs is at cursor 2 < earliest 3 — its pending (2,3] delta is the
    // compaction no-op, but a VIRGIN warns sink needs asOf(3) full state
    val both = SnapshotPipe.runSinks(spark, src, root, routeSinks)()
    assert(ST.read(spark, s"$root/warns").count() == 6)
    assert(ST.read(spark, s"$root/errs").count() == 6)
    // the bootstrap chunk touched only the virgin sink
    assert(both.head._2.keySet == Set("warns"))
  }

  test("rollback restores state AND the batch ledger; insert-only reads across it refuse") {
    val t = tmp()
    ST.append(spark, batch(0 until 4), t, Some("b0"))
    ST.append(spark, batch(4 until 7), t, Some("b1"))
    val c = ST.rollback(spark, t, 0)
    assert(!c.skippedExisting && c.snapshotId == 2)
    assert(ST.read(spark, t).count() == 4)
    assert(ST.rollback(spark, t, 2).skippedExisting) // to current = no-op
    // ledger restored: b0 keeps skipping, the rolled-back b1 re-applies
    assert(ST.append(spark, batch(0 until 4), t, Some("b0")).skippedExisting)
    assert(!ST.append(spark, batch(4 until 7), t, Some("b1")).skippedExisting)
    assert(ST.read(spark, t).count() == 7)
    // the rolled-back-away snapshot stays time-travelable
    assert(ST.asOf(spark, t, 1).count() == 7)
    // incremental across the rollback fails loudly (rows were removed)
    val e = intercept[RuntimeException](ST.incremental(spark, t, 0, 3).count())
    assert(e.getMessage.contains("rollback"))
    intercept[IllegalArgumentException](ST.rollback(spark, t, 99))
  }

  test("rollback survives expiry of the bad snapshots; expired target fails loudly") {
    val t = tmp()
    (0 until 4).foreach(k => ST.append(spark, batch(k * 2 until (k + 1) * 2), t, Some(s"b$k")))
    ST.rollback(spark, t, 1) // snapshot 4 mirrors 1
    ST.expire(spark, t, keepLast = 1) // only the rollback snapshot retained
    // the restored dirs are pinned by the rollback manifest's live set
    assert(ST.read(spark, t).count() == 4)
    intercept[Exception](ST.rollback(spark, t, 0)) // expired target
  }

  test("changelogCdc replays any chain: state(i) == state(i-1) + inserts - deletes") {
    val t = tmp()
    ST.append(spark, batch(0 until 6), t, Some("b0"), statsBy = Seq("id"))
    ST.append(spark, batch(6 until 10), t, Some("b1"))
    ST.upsert(spark, t, batch(4 until 8).withColumn("v", upper(col("v"))), "id")
    ST.delete(spark, t, ST.KeyRange("id", Some(2L), Some(5L)))
    ST.append(spark, batch(20 until 23), t, Some("b2"))
    ST.compact(spark, t) // two live dirs -> a real replace commit
    ST.rollback(spark, t, 2)
    val latest = ST.latestId(spark, t).get
    for (i <- 1L to latest) {
      val cdc = ST.changelogCdc(spark, t, i - 1, i)
      val ins = cdc.filter(col("_change_type") === "insert")
        .drop("_snapshot_id", "_change_type")
      val del = cdc.filter(col("_change_type") === "delete")
        .drop("_snapshot_id", "_change_type")
      val replayed = ST.asOf(spark, t, i - 1).unionByName(ins).exceptAll(del)
      assert(replayed.exceptAll(ST.asOf(spark, t, i)).isEmpty &&
        ST.asOf(spark, t, i).exceptAll(replayed).isEmpty, s"snapshot $i diverges")
    }
    val ops = ST.history(spark, t).orderBy("snapshot_id")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("append", "append", "overwrite", "delete", "append",
      "replace", "rollback"), s"unexpected chain $ops")
    // compaction alone contributes nothing
    assert(ST.changelogCdc(spark, t, 4, 5).count() == 0)
    // upsert emits net changes only: delete(old)+insert(new) per changed key
    val up = ST.changelogCdc(spark, t, 1, 2)
    assert(up.filter(col("_change_type") === "delete").count() == 4)
    assert(up.filter(col("_change_type") === "insert").count() == 4)
    // the rollback emits the net inverse of everything after snapshot 2
    val rb = ST.changelogCdc(spark, t, 5, 6)
    assert(rb.filter(col("_change_type") === "insert").count() == 4) // ids 2..5 restored
    assert(rb.filter(col("_change_type") === "delete").count() == 3) // b2 retracted
  }

  test("runSinks bootstraps from the contiguous horizon, not a ref-pinned tag beyond a gap") {
    import graft.operators.SnapshotPipe
    val src = tmp(); val root = tmp()
    (0 until 4).foreach(k => ST.append(spark, sevBatch(k * 3 until (k + 1) * 3), src, Some(s"b$k")))
    ST.tag(spark, src, "old", 0L)
    ST.expire(spark, src, keepLast = 2) // retained {0 (pinned), 2, 3} — gap at 1
    assert(ST.earliestId(spark, src).contains(0L))
    assert(ST.earliestContiguousId(spark, src).contains(2L))
    // a bootstrap from the pinned tag would fail loudly on the (0,2] chunk;
    // the contiguous horizon boots from asOf(2) then pipes (2,3]
    SnapshotPipe.runSinks(spark, src, root, routeSinks)()
    assert(ST.read(spark, s"$root/errs").count() == 6)
    assert(ST.read(spark, s"$root/warns").count() == 6)
    assert(SnapshotPipe.runSinks(spark, src, root, routeSinks)().isEmpty)
  }

  test("asOfTimestamp resolves wall-clock reads; tags pin snapshots across expiry") {
    val t = tmp()
    ST.append(spark, batch(0 until 3), t, Some("b0"))
    Thread.sleep(5)
    ST.append(spark, batch(3 until 7), t, Some("b1"))
    Thread.sleep(5)
    ST.append(spark, batch(7 until 9), t, Some("b2"))
    val t0 = ST.manifest(spark, t, 0).commitTimeMs
    val t1 = ST.manifest(spark, t, 1).commitTimeMs
    assert(t0 > 0 && t1 >= t0)
    assert(ST.asOfTimestamp(spark, t, t1).count() == 7)
    assert(ST.asOfTimestamp(spark, t, System.currentTimeMillis() + 1000).count() == 9)
    intercept[IllegalArgumentException](ST.asOfTimestamp(spark, t, t0 - 1))
    // tag + expiry pinning
    ST.tag(spark, t, "audit-b0", 0L)
    intercept[IllegalArgumentException](ST.tag(spark, t, "audit-b0", 1L)) // immutable
    intercept[IllegalArgumentException](ST.tag(spark, t, "bad name!", 1L))
    intercept[IllegalArgumentException](ST.tag(spark, t, "x", 42L)) // no such snapshot
    ST.expire(spark, t, keepLast = 1)
    assert(ST.refs(spark, t) == Map("audit-b0" -> 0L))
    assert(ST.asOfRef(spark, t, "audit-b0").count() == 3) // pinned manifest + dirs survive
    intercept[IllegalArgumentException](ST.asOf(spark, t, 1).count()) // unpinned: expired
    ST.dropRef(spark, t, "audit-b0")
    ST.expire(spark, t, keepLast = 1)
    intercept[IllegalArgumentException](ST.asOf(spark, t, 0).count()) // now expirable
    assert(ST.read(spark, t).count() == 9) // data never harmed
  }

  test("files metadata table lists live-dir bounds and bloom coverage") {
    val t = tmp()
    ST.append(spark, batch(0 until 5), t, statsBy = Seq("id"), bloomBy = Seq("id"))
    ST.append(spark, batch(5 until 9), t) // stats cols are a table property
    val f = ST.files(spark, t).orderBy("dir").collect()
    assert(f.map(r => (r.getString(0), r.getString(1), r.getString(3).toLong,
      r.getString(4).toLong, r.getBoolean(5))).toSeq == Seq(
      ("snap-000000", "id", 0L, 4L, true),
      ("snap-000001", "id", 5L, 8L, true)))
    assert(f.forall(_.getString(2) == "long"))
  }

  test("history exposes the persisted lineage and row metrics per snapshot") {
    val t = tmp()
    ST.append(spark, batch(0 until 4), t, Some("in-1"))
    ST.append(spark, batch(4 until 10), t, Some("in-2"))
    ST.append(spark, batch(4 until 10), t, Some("in-2")) // replay: no row
    ST.compact(spark, t)
    val h = ST.history(spark, t).orderBy("snapshot_id").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(h.map(_.getString(2)).toSeq == Seq("append", "append", "replace"))
    assert(h(1).getString(3) == "in-2" && h(1).getLong(4) == 6 && h(1).getLong(5) == 10)
    assert(h(2).getLong(5) == 10) // compaction preserves totals
  }

  test("runSnapshots stream sink is exactly-once across a full checkpoint loss") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val t = tmp()
    Seq((1L, "ERROR"), (2L, "WARN"), (3L, "ERROR")).toDF("doc_id", "severity")
      .write.parquet(s"$t/in")
    val sinks = Seq(Route.SinkSpec("errs", graft.conditions.Eq("severity", "ERROR")))
    def runOnce(chk: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, severity STRING").parquet(s"$t/in")
      val q = graft.streaming.StreamPipeline.runSnapshots(
        spark, src, identity, sinks, s"$t/tables", chk, Trigger.AvailableNow())
      q.awaitTermination(120000); ()
    }
    runOnce(s"$t/chk1")
    assert(ST.read(spark, s"$t/tables/errs").count() == 2)
    // checkpoint LOST -> the whole stream replays from scratch with the same
    // epoch ids; every (sink, epoch) is already in the manifest chain, so the
    // replay commits nothing — row counts and snapshot ids are unchanged
    runOnce(s"$t/chk2")
    assert(ST.read(spark, s"$t/tables/errs").count() == 2)
    assert(ST.latestId(spark, s"$t/tables/errs").contains(0L))
  }

  test("merge-on-read delete: no rewrite, sequence semantics, compaction materializes") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 10), t, Some("b0"), statsBy = Seq("id"))
    ST.append(spark, batch(10 until 20), t, Some("b1"))
    // delete {3, 12} by key — dup + int type exercise the distinct + cast
    val c = ST.deleteKeys(spark, t, Seq(3, 12, 12).toDF("id"), "id")
    assert(c.snapshotId == 2 && !c.skippedExisting)
    val m = ST.manifest(spark, t, 2)
    // O(delta): nothing rewritten — live dirs unchanged, no data dir added
    assert(m.operation == "mor-delete" && m.added.isEmpty)
    assert(m.live == Seq("snap-000000", "snap-000001"))
    assert(m.deletes.map(d => (d.column, d.seq)) == Seq(("id", 2L)))
    assert(ST.read(spark, t).count() == 18)
    assert(ST.read(spark, t).filter(col("id").isin(3L, 12L)).count() == 0)
    // time travel BEFORE the delete still sees every row
    assert(ST.asOf(spark, t, 1).count() == 20)
    // SEQUENCE RULE: a later append of a deleted key survives (the delete
    // only reaches dirs older than it)
    ST.append(spark, Seq((3L, "v3-new"), (20L, "v20")).toDF("id", "v"), t, Some("b2"))
    val re = ST.read(spark, t).filter(col("id") === 3L).collect()
    assert(re.length == 1 && re(0).getString(1) == "v3-new")
    assert(ST.read(spark, t).count() == 20)
    // point-lookup reads agree with the merged view
    assert(ST.readWhereEq(spark, t, "id", 12L).count() == 0)
    assert(ST.readWhereEq(spark, t, "id", 3L).collect()(0).getString(1) == "v3-new")
    // zero-key delete is a skip
    assert(ST.deleteKeys(spark, t, Seq.empty[Long].toDF("id"), "id").skippedExisting)
    // compaction MATERIALIZES: delete list empties, totals re-true, rows equal
    val before = ST.read(spark, t).orderBy("id", "v").collect().toSeq
    ST.compact(spark, t)
    val mc = ST.manifest(spark, t, ST.latestId(spark, t).get)
    assert(mc.deletes.isEmpty && mc.totalRows == 20)
    assert(ST.read(spark, t).orderBy("id", "v").collect().toSeq == before)
    // incremental across the mor-delete fails loudly (not insert-only)
    val e = intercept[RuntimeException](ST.incremental(spark, t, 0, 3))
    assert(e.getMessage.contains("mor-delete"))
  }

  test("MOR pending deletes: CoW rewrites materialize them; CDC reports each row once") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 10), t, Some("b0"), statsBy = Seq("id")) // snap 0
    ST.deleteKeys(spark, t, Seq(2L).toDF("id"), "id")                       // snap 1
    // CoW upsert while the MOR delete is pending: the affected-dir rewrite
    // must not resurrect id 2
    ST.upsert(spark, t, Seq((5L, "v5-patched")).toDF("id", "v"), "id")      // snap 2
    val now = ST.read(spark, t)
    assert(now.count() == 9 && now.filter(col("id") === 2L).count() == 0)
    assert(now.filter(col("id") === 5L).collect()(0).getString(1) == "v5-patched")
    // CoW range delete on top
    ST.delete(spark, t, ST.KeyRange("id", Some(7L), Some(9L)))              // snap 3
    assert(ST.read(spark, t).count() == 6)
    // CDC: id 2 is reported deleted ONCE (at the mor-delete commit), never
    // re-reported by the CoW rewrites that physically carried it
    val cdc = ST.changelogCdc(spark, t, -1L, 3L)
      .select("_snapshot_id", "_change_type", "id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(cdc.count(x => x._3 == 2L && x._2 == "delete") == 1 &&
      cdc.contains((1L, "delete", 2L)), s"cdc rows: ${cdc.mkString(", ")}")
    assert(cdc.contains((2L, "delete", 5L)) && cdc.contains((2L, "insert", 5L)))
    assert(Seq(7L, 8L, 9L).forall(i => cdc.contains((3L, "delete", i))))
    assert(cdc.count(_._1 == 3L) == 3)
  }

  test("merge-on-read upsert: one O(delta) commit; identical replacements are CDC-silent") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 10), t, Some("b0"), statsBy = Seq("id"))  // snap 0
    ST.append(spark, batch(10 until 20), t, Some("b1"))                     // snap 1
    // replace 5 and 15 (changed), 7 (identical copy), insert 20
    val delta = Seq((5L, "v5-new"), (15L, "v15-new"), (7L, "v7"), (20L, "v20"))
      .toDF("id", "v")
    ST.upsertKeys(spark, t, delta, "id")                                    // snap 2
    val m = ST.manifest(spark, t, 2)
    assert(m.operation == "mor-upsert" && m.added == Seq("snap-000002"))
    // O(delta): prior live dirs untouched, retraction rides as a delete file
    assert(m.live == Seq("snap-000000", "snap-000001", "snap-000002"))
    assert(m.deletes.map(d => (d.dir, d.column, d.seq)) ==
      Seq(("snap-000002-del", "id", 2L)))
    val now = ST.read(spark, t)
    assert(now.count() == 21)
    assert(now.filter(col("id") === 5L).collect()(0).getString(1) == "v5-new")
    assert(now.filter(col("id") === 7L).count() == 1) // identical replacement
    assert(now.filter(col("id") === 20L).count() == 1)
    // CDC: delete(old)+insert(new) for changed keys, plain insert for the
    // new key, NOTHING for the identical replacement
    val cdc = ST.changelogCdc(spark, t, 1L, 2L)
      .select("_change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(cdc == Set(("delete", 5L, "v5"), ("insert", 5L, "v5-new"),
      ("delete", 15L, "v15"), ("insert", 15L, "v15-new"),
      ("insert", 20L, "v20")))
    // compaction materializes: same rows, delete list cleared
    val before = ST.read(spark, t).orderBy("id", "v").collect().toSeq
    ST.compact(spark, t)
    assert(ST.manifest(spark, t, ST.latestId(spark, t).get).deletes.isEmpty)
    assert(ST.read(spark, t).orderBy("id", "v").collect().toSeq == before)
    // duplicate keys fail loudly (the replacement row would be undefined)
    val e = intercept[IllegalArgumentException](
      ST.upsertKeys(spark, t, Seq((1L, "a"), (1L, "b")).toDF("id", "v"), "id"))
    assert(e.getMessage.contains("duplicate"))
  }

  test("MOR delete files follow expiry/vacuum lifecycle") {
    import spark.implicits._
    val t = tmp()
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ST.append(spark, batch(0 until 6), t, statsBy = Seq("id")) // snap 0
    ST.append(spark, batch(6 until 12), t)                     // snap 1
    ST.deleteKeys(spark, t, Seq(1L, 7L).toDF("id"), "id")      // snap 2
    val delDir = new org.apache.hadoop.fs.Path(s"$t/data/snap-000002-del")
    assert(fs.exists(delDir))
    // expiry keeps the delete file while any retained manifest references it
    ST.expire(spark, t, keepLast = 1)
    assert(fs.exists(delDir) && ST.read(spark, t).count() == 10)
    assert(ST.vacuum(spark, t).isEmpty) // referenced: not an orphan
    // compaction materializes; the delete file is now unreferenced once
    // the pre-compaction manifest expires
    ST.compact(spark, t)                                       // snap 3
    ST.expire(spark, t, keepLast = 1)
    assert(!fs.exists(delDir))
    assert(ST.read(spark, t).count() == 10)
  }

  test("hidden-partitioned append: one dir per transform value; predicates prune driver-side") {
    import spark.implicits._
    val t = tmp()
    val days = Seq((1L, "2026-01-01", "a"), (2L, "2026-01-01", "b"),
      (3L, "2026-01-02", "c"), (4L, "2026-01-03", "d")).toDF("id", "day", "v")
    ST.appendPartitioned(spark, days, t, col("day"), Some("d0"),
      statsBy = Seq("day", "id"))
    val m = ST.manifest(spark, t, 0)
    assert(m.live == Seq("snap-000000/_p=2026-01-01",
      "snap-000000/_p=2026-01-02", "snap-000000/_p=2026-01-03"))
    // readers are transform-oblivious: user schema, full content
    assert(ST.read(spark, t).columns.toSeq == Seq("id", "day", "v"))
    assert(ST.read(spark, t).count() == 4)
    // a day predicate prunes every other partition driver-side
    val (kept, pruned) = ST.planScan(m,
      ST.KeyRange("day", Some("2026-01-02"), Some("2026-01-02")))
    assert(kept == Seq("snap-000000/_p=2026-01-02") && pruned.size == 2)
    assert(ST.readWhere(spark, t,
      ST.KeyRange("day", Some("2026-01-02"), Some("2026-01-02")))
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // a second batch composes: per-(batch, day) dirs, pruning still exact
    ST.appendPartitioned(spark, Seq((5L, "2026-01-02", "e")).toDF("id", "day", "v"),
      t, col("day"), Some("d1"))
    val m1 = ST.manifest(spark, t, 1)
    assert(m1.live.size == 4)
    assert(ST.planScan(m1,
      ST.KeyRange("day", Some("2026-01-02"), Some("2026-01-02")))._1.size == 2)
    // exactly-once replay through the partitioned path
    assert(ST.appendPartitioned(spark, days, t, col("day"), Some("d0")).skippedExisting)
    // MOR deletes compose on partitioned dirs (addSeq from the name prefix)
    ST.deleteKeys(spark, t, Seq(2L).toDF("id"), "id")
    assert(ST.read(spark, t).count() == 4)
    // a NULL transform value fails loudly, never a silently-escaped dir
    val e = intercept[IllegalArgumentException](ST.appendPartitioned(spark,
      Seq((9L, null.asInstanceOf[String], "x")).toDF("id", "day", "v"), t, col("day")))
    assert(e.getMessage.contains("NULL"))
  }

  test("key-set runtime pruning: joinPruned reads only dirs the dimension reaches") {
    import spark.implicits._
    val t = tmp()
    // interleaved ids: every dir spans the full range, bounds cannot prune
    for (k <- 0 to 3)
      ST.append(spark, batch(0 until 40).filter(col("id") % 4 === k), t,
        Some(s"b$k"), statsBy = Seq("id"), bloomBy = Seq("id"))
    val m = ST.manifest(spark, t, 3)
    // dimension keys all ≡ 0 mod 4 → only dir b0 can contain them
    val keys = Seq(0L, 8L, 16L)
    assert(ST.planScan(m, ST.KeyRange("id", Some(8L), Some(8L)))._1.size == 4)
    val (kept, pruned) = ST.planScanIn(spark, t, m, "id", keys)
    assert(kept == Seq("snap-000000") && pruned.size == 3)
    // pruned read == unpruned filtered read
    assert(ST.readWhereIn(spark, t, "id", keys)
      .select("id").as[Long].collect().sorted.toSeq == Seq(0L, 8L, 16L))
    // the join: pruned scan + broadcast dim, rows identical to a full join
    val dim = keys.map(k => (k, s"tag$k")).toDF("id", "tag")
    val got = ST.joinPruned(spark, t, dim, "id")
      .select(col("id"), col("tag")).as[(Long, String)].collect().sorted.toSeq
    val want = ST.read(spark, t).join(dim, Seq("id"))
      .select(col("id"), col("tag")).as[(Long, String)].collect().sorted.toSeq
    assert(got == want && got.map(_._1) == Seq(0L, 8L, 16L))
    // a column with NO blooms: bounds-only, never unsafely pruned
    val (kept2, _) = ST.planScanIn(spark, t, m, "v", Seq("v3"))
    assert(kept2.size == 4)
    assert(ST.readWhereIn(spark, t, "v", Seq("v3")).count() == 1)
    // an unbounded dimension fails loudly instead of collecting the world
    val e = intercept[IllegalArgumentException](
      ST.joinPruned(spark, t, batch(0 until 40), "id", maxKeys = 10))
    assert(e.getMessage.contains("distinct"))
  }

  test("dynamic partition overwrite: atomic partition swap; CDC recovers the diff") {
    import spark.implicits._
    val t = tmp()
    val days = Seq((1L, "2026-01-01", "a"), (2L, "2026-01-01", "b"),
      (3L, "2026-01-02", "c"), (4L, "2026-01-03", "d")).toDF("id", "day", "v")
    ST.appendPartitioned(spark, days, t, col("day"), Some("d0"),
      statsBy = Seq("day", "id"))
    // restate day 1: one row replaces two; days 2/3 carry over by identity
    val restate = Seq((10L, "2026-01-01", "a2")).toDF("id", "day", "v")
    val c = ST.overwritePartitions(spark, restate, t, col("day"), Some("r1"))
    val m = ST.manifest(spark, t, c.snapshotId)
    assert(m.operation == "dynoverwrite")
    assert(m.added == Seq("snap-000001/_p=2026-01-01"))
    assert(m.live.toSet == Set("snap-000000/_p=2026-01-02",
      "snap-000000/_p=2026-01-03", "snap-000001/_p=2026-01-01"))
    assert(m.totalRows == 3 && m.addedRows == 1)
    assert(ST.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 10L))
    // time travel still sees the pre-restate state
    assert(ST.asOf(spark, t, 0).count() == 4)
    // replay skips via the carried ledger
    assert(ST.overwritePartitions(spark, restate, t, col("day"), Some("r1"))
      .skippedExisting)
    // CDC across the swap: delete(1,2) + insert(10), nothing else
    val cdc = ST.changelogCdc(spark, t, 0, c.snapshotId)
      .select(col("id"), col("_change_type")).as[(Long, String)]
      .collect().sorted.toSeq
    assert(cdc == Seq((1L, "delete"), (2L, "delete"), (10L, "insert")))
    // insert-only incremental refuses the row-removing commit
    intercept[RuntimeException](ST.incremental(spark, t, 0, c.snapshotId))
    // carried stats survive: a day predicate still prunes to one dir
    assert(ST.planScan(m,
      ST.KeyRange("day", Some("2026-01-02"), Some("2026-01-02")))._1 ==
      Seq("snap-000000/_p=2026-01-02"))
    // and the NEW dir's stats exist too (same table property)
    assert(ST.planScan(m,
      ST.KeyRange("id", Some(10L), Some(10L)))._1 ==
      Seq("snap-000001/_p=2026-01-01"))
    // a replayed overwrite batch still SKIPS after a later compact()
    // destroyed the layout — the ledger lookup precedes the layout gate
    ST.compact(spark, t)
    assert(ST.overwritePartitions(spark, restate, t, col("day"), Some("r1"))
      .skippedExisting)
    // ...while a FRESH overwrite on the compacted table rejects loudly
    val eMixed = intercept[RuntimeException](
      ST.overwritePartitions(spark, restate, t, col("day"), Some("r2")))
    assert(eMixed.getMessage.contains("partition-clustered"))
    // a mixed-layout table (plain append dirs) rejects dynamic overwrite
    val t2 = tmp()
    ST.append(spark, batch(0 until 3), t2)
    val e = intercept[RuntimeException](
      ST.overwritePartitions(spark, batch(0 until 1), t2, col("id") % 2))
    assert(e.getMessage.contains("partition-clustered"))
  }

  test("runCdc mirrors a mixed chain through row-level changes, exactly-once") {
    import spark.implicits._
    import graft.operators.SnapshotPipe
    val t = tmp(); val sink = tmp()
    ST.append(spark, batch(0 until 10), t, Some("b0"), statsBy = Seq("id"))  // 0
    ST.append(spark, batch(10 until 20), t, Some("b1"))                      // 1
    val r1 = SnapshotPipe.runCdc(spark, t, sink, "id")()
    assert(r1.size == 2) // bootstrap asOf(0) + chunk (0,1]
    assert(ST.read(spark, sink).orderBy("id").collect().toSeq ==
      ST.read(spark, t).orderBy("id").collect().toSeq)
    // the source evolves through every commit kind the insert-only pipe
    // refuses: MOR upsert, MOR delete, CoW range delete, compaction
    ST.upsertKeys(spark, t, Seq((5L, "v5x"), (20L, "v20")).toDF("id", "v"), "id") // 2
    ST.deleteKeys(spark, t, Seq(7L).toDF("id"), "id")                        // 3
    ST.delete(spark, t, ST.KeyRange("id", Some(18L), Some(19L)))             // 4
    ST.compact(spark, t)                                                     // 5
    val r2 = SnapshotPipe.runCdc(spark, t, sink, "id")()
    assert(r2.nonEmpty)
    assert(ST.read(spark, sink).orderBy("id", "v").collect().toSeq ==
      ST.read(spark, t).orderBy("id", "v").collect().toSeq)
    // replay is a no-op, under any chunk size
    assert(SnapshotPipe.runCdc(spark, t, sink, "id")().isEmpty)
    assert(SnapshotPipe.runCdc(spark, t, sink, "id", maxSnapshotsPerChunk = 1)().isEmpty)
  }

  test("runCdc nets within a chunk and retracts rows a filter transform drops") {
    import spark.implicits._
    import graft.operators.SnapshotPipe
    val t = tmp(); val sinkA = tmp(); val sinkB = tmp()
    ST.append(spark, batch(0 until 5), t, Some("b0"), statsBy = Seq("id"))   // 0
    // within ONE chunk: key 10 inserted then deleted -> absent; key 2
    // deleted then re-inserted -> present at its newest row
    ST.append(spark, Seq((10L, "v10")).toDF("id", "v"), t, Some("b1"))       // 1
    ST.deleteKeys(spark, t, Seq(10L, 2L).toDF("id"), "id")                   // 2
    ST.upsertKeys(spark, t, Seq((2L, "v2-back")).toDF("id", "v"), "id")      // 3
    SnapshotPipe.runCdc(spark, t, sinkA, "id")()
    assert(ST.read(spark, sinkA).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "v0"), (1L, "v1"), (2L, "v2-back"), (3L, "v3"), (4L, "v4")))
    // a filtering transform: an update that moves a row OUT of the sink's
    // scope still retracts it (keys are taken before the transform)
    val filt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(!col("v").startsWith("x"))
    SnapshotPipe.runCdc(spark, t, sinkB, "id")(filt)
    assert(ST.read(spark, sinkB).count() == 5)
    ST.upsertKeys(spark, t, Seq((1L, "x1")).toDF("id", "v"), "id")           // 4
    SnapshotPipe.runCdc(spark, t, sinkB, "id")(filt)
    assert(ST.read(spark, sinkB).filter(col("id") === 1L).count() == 0)
    assert(ST.read(spark, sinkB).count() == 4)
  }

  test("CDC across rollback is row-exact even when only the MOR delete set changes") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 5), t, statsBy = Seq("id"))   // snap 0
    ST.deleteKeys(spark, t, Seq(2L).toDF("id"), "id")            // snap 1
    ST.rollback(spark, t, 0)                                     // snap 2: live UNCHANGED, deletes cleared
    // the rollback resurrected id 2 with zero dir movement — CDC must say so
    val cdc2 = ST.changelogCdc(spark, t, 1L, 2L)
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cdc2 == Set(("insert", 2L)))
    // restored dirs keep their OLD addSeq: a rollback to a point where a
    // MOR delete was pending must re-apply it, and CDC must not report
    // already-deleted rows as inserts
    ST.deleteKeys(spark, t, Seq(2L).toDF("id"), "id")            // snap 3
    ST.delete(spark, t, ST.KeyRange("id", Some(4L), Some(4L)))   // snap 4: CoW rewrite
    ST.rollback(spark, t, 3)                                     // snap 5: restores snap-000000 + pending delete
    assert(ST.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 3L, 4L))
    val cdc5 = ST.changelogCdc(spark, t, 4L, 5L)
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cdc5 == Set(("insert", 4L)), s"got $cdc5") // id 2 stays dead
  }

  test("publish is safe against orphan dest dirs and crashed publishes fail loudly") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 3), t, Some("b0"), statsBy = Seq("id")) // snap 0
    // a failed upsertKeys (duplicate keys, ordinary user error) leaves an
    // orphan data dir at the NEXT snapshot id
    intercept[IllegalArgumentException](
      ST.upsertKeys(spark, t, Seq((1L, "a"), (1L, "b")).toDF("id", "v"), "id"))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$t/data/snap-000001")))
    // publish onto that id must commit the STAGED rows, not the orphan's
    ST.stage(spark, batch(10 until 12), t, "tokX", Some("b1"))
    ST.publishStaged(spark, t, "tokX") // snap 1
    assert(ST.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 10L, 11L))
    assert(ST.manifest(spark, t, 1).addedRows == 2)
    // a staged manifest whose data dir is gone (crash between rename and
    // commit) fails loudly with recovery guidance
    ST.stage(spark, batch(20 until 21), t, "tokY")
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/data/stage-tokY"), true)
    val e = intercept[IllegalArgumentException](ST.publishStaged(spark, t, "tokY"))
    assert(e.getMessage.contains("no data dir"))
    ST.discardStaged(spark, t, "tokY")
  }

  test("partitioned append: numeric-looking values keep exact per-dir stats; _p is reserved") {
    import spark.implicits._
    val t = tmp()
    // '01' and '1' are DISTINCT partition values; Spark's partition-type
    // inference would canonicalize both to 1 — stats must key to the real
    // listed dir names, not phantom canonical ones
    val df = Seq((10L, "01"), (20L, "1"), (30L, "02")).toDF("id", "bucket")
    ST.appendPartitioned(spark, df, t, col("bucket"), statsBy = Seq("bucket", "id"))
    val m = ST.manifest(spark, t, 0)
    assert(m.live.toSet == Set("snap-000000/_p=01", "snap-000000/_p=1", "snap-000000/_p=02"))
    assert(m.stats.map(_.dir).toSet == m.live.toSet,
      s"stats must cover exactly the live dirs: ${m.stats.map(_.dir)}")
    val (kept, _) = ST.planScan(m, ST.KeyRange("bucket", Some("01"), Some("01")))
    assert(kept == Seq("snap-000000/_p=01"))
    assert(ST.readWhere(spark, t, ST.KeyRange("bucket", Some("01"), Some("01")))
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
    // a frame already carrying _p fails loudly instead of being clobbered
    val e = intercept[IllegalArgumentException](ST.appendPartitioned(spark,
      Seq((1L, "x", "y")).toDF("id", "bucket", "_p"), t, col("bucket")))
    assert(e.getMessage.contains("'_p'"))
  }

  test("write-audit-publish: staged is invisible, audit sees union, publish cherry-picks, exactly-once") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 5), t, Some("b0"))            // snap 0
    ST.stage(spark, batch(5 until 10), t, "tokA", Some("odd"))
    // invisible until published; in-flight token listed
    assert(ST.read(spark, t).count() == 5)
    assert(ST.stagedTokens(spark, t) == Seq("tokA"))
    assert(ST.auditStaged(spark, t, "tokA").count() == 10)
    // a duplicate in-flight token fails loudly
    val dup = intercept[IllegalArgumentException](
      ST.stage(spark, batch(0 until 1), t, "tokA"))
    assert(dup.getMessage.contains("already in flight"))
    // vacuum must NOT reap a staged dir
    assert(ST.vacuum(spark, t).isEmpty)
    // an append lands BETWEEN stage and publish: publish cherry-picks onto
    // the new head
    ST.append(spark, batch(100 until 102), t, Some("b1"))        // snap 1
    val pub = ST.publishStaged(spark, t, "tokA")                 // snap 2
    assert(pub.snapshotId == 2 && !pub.skippedExisting)
    assert(ST.read(spark, t).count() == 12)
    assert(ST.stagedTokens(spark, t).isEmpty)
    val m2 = ST.manifest(spark, t, 2)
    assert(m2.operation == "append" && m2.batchId.contains("odd") && m2.addedRows == 5)
    // published commits are ordinary appends to incremental consumers
    assert(ST.incremental(spark, t, 1, 2).count() == 5)
    // exactly-once across WAP: re-staging the same batch id publishes as a
    // SKIP and cleans up its staging debris
    ST.stage(spark, batch(5 until 10), t, "tokB", Some("odd"))
    val replay = ST.publishStaged(spark, t, "tokB")
    assert(replay.skippedExisting && replay.snapshotId == 2)
    assert(ST.read(spark, t).count() == 12 && ST.stagedTokens(spark, t).isEmpty)
    assert(ST.vacuum(spark, t).isEmpty)
    // failed audit: discard leaves no trace
    ST.stage(spark, Seq((999L, "bad")).toDF("id", "v"), t, "tokC", Some("bad-1"))
    ST.discardStaged(spark, t, "tokC")
    assert(ST.stagedTokens(spark, t).isEmpty && ST.read(spark, t).count() == 12)
    assert(ST.vacuum(spark, t).isEmpty)
  }

  test("branches: isolated appends, exactly-once, fast-forward publishes verbatim") {
    val t = tmp()
    ST.append(spark, batch(0 until 4), t, Some("b0"))
    ST.createBranch(spark, t, "audit", 0L)
    val c1 = ST.appendToBranch(spark, batch(4 until 7), t, "audit", Some("br-1"))
    val retry = ST.appendToBranch(spark, batch(4 until 7), t, "audit", Some("br-1"))
    assert(c1.snapshotId == 1 && retry.skippedExisting && retry.snapshotId == 1)
    ST.appendToBranch(spark, batch(7 until 10), t, "audit", Some("br-2"))
    // isolation both ways: main readers never see branch rows; the branch
    // sees fork state + its own appends
    assert(ST.read(spark, t).count() == 4)
    assert(ST.readBranch(spark, t, "audit").count() == 10)
    assert(ST.branches(spark, t) == Map("audit" -> (0L, 2L)))
    val ff = ST.fastForward(spark, t, "audit")
    assert(ff.snapshotId == 2 && ST.branches(spark, t).isEmpty)
    assert(ST.read(spark, t).count() == 10)
    // lineage, ledger, and incremental reads carry through the copied chain
    val m2 = ST.manifest(spark, t, 2)
    assert(m2.parentId.contains(1L) && m2.batchId.contains("br-2"))
    assert(ST.append(spark, batch(4 until 7), t, Some("br-1")).skippedExisting)
    assert(ST.incremental(spark, t, 0, 2).count() == 6)
    // the table keeps appending normally past the publish
    assert(ST.append(spark, batch(10 until 12), t, Some("b3")).snapshotId == 3)
    assert(ST.read(spark, t).count() == 12)
  }

  test("fast-forward refuses a diverged main; dropBranch + vacuum reap branch dirs") {
    val t = tmp()
    ST.append(spark, batch(0 until 3), t)
    ST.createBranch(spark, t, "wip", 0L)
    ST.appendToBranch(spark, batch(3 until 5), t, "wip")
    ST.append(spark, batch(5 until 6), t) // main diverges past the fork
    val e = intercept[IllegalArgumentException](ST.fastForward(spark, t, "wip"))
    assert(e.getMessage.contains("not the fork point"))
    // the branch's data dirs are pinned while it lives, orphaned once dropped
    assert(ST.vacuum(spark, t).isEmpty)
    ST.dropBranch(spark, t, "wip")
    assert(ST.vacuum(spark, t) == Seq("br-wip-000001"))
    assert(ST.read(spark, t).count() == 4)
  }

  test("a live branch pins fork-era dirs across main compaction + expiry") {
    val t = tmp()
    ST.append(spark, batch(0 until 3), t)
    ST.append(spark, batch(3 until 5), t)
    ST.createBranch(spark, t, "hold", 1L)
    ST.compact(spark, t)              // main's live set leaves the old dirs
    ST.expire(spark, t, keepLast = 1) // would normally delete snap-0/1 dirs
    // the branch still reads its fork state from the pinned dirs
    assert(ST.readBranch(spark, t, "hold").count() == 5)
    assert(ST.read(spark, t).count() == 5)
    ST.dropBranch(spark, t, "hold")
    assert(ST.vacuum(spark, t) == Seq("snap-000000", "snap-000001"))
    assert(ST.read(spark, t).count() == 5)
  }

  test("partitions metadata view aggregates per-value bounds; partition specs evolve") {
    import spark.implicits._
    val t = tmp()
    ST.appendPartitioned(spark, Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
      .toDF("id", "day"), t, col("day"), statsBy = Seq("id"))
    // EVOLVED spec: later batches partition on a different transform; their
    // dirs coexist with the old spec's, each pruned by its own bounds
    ST.appendPartitioned(spark, Seq((10L, "2024-01-01")).toDF("id", "day"), t,
      concat(col("day"), lit("+h00")))
    val parts = ST.partitions(spark, t).collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(4)), Option(r.getString(5))))
      .sortBy(_._1)
    assert(parts.toSeq == Seq(
      ("2024-01-01", 1, Some("1"), Some("1")),
      ("2024-01-01+h00", 1, Some("10"), Some("10")),
      ("2024-01-02", 1, Some("2"), Some("2"))))
    // pruning works across both specs: id >= 5 keeps only the evolved dir
    val m = ST.manifest(spark, t, 1)
    val (kept, pruned) = ST.planScan(m, ST.KeyRange("id", lo = Some(5L)))
    assert(kept.size == 1 && kept.head.contains("_p=2024-01-01+h00") && pruned.size == 2)
    assert(ST.readWhere(spark, t, ST.KeyRange("id", lo = Some(5L)))
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("compactSmall rewrites only sub-threshold dirs; big dirs stay put") {
    val t = tmp()
    ST.append(spark, batch(0 until 2), t)     // small
    ST.append(spark, batch(2 until 4), t)     // small
    ST.append(spark, batch(4 until 3000), t)  // big
    ST.append(spark, batch(3000 until 3002), t) // small
    val c = ST.compactSmall(spark, t, maxBytes = 8 * 1024)
    assert(!c.skippedExisting && c.snapshotId == 4)
    val m = ST.manifest(spark, t, 4)
    assert(m.operation == "replace")
    assert(m.live == Seq("snap-000002", "snap-000004"))
    assert(ST.read(spark, t).count() == 3002)
    assert(ST.read(spark, t).agg(sum(col("id"))).collect()(0).getLong(0) ==
      (0 until 3002).map(_.toLong).sum)
    // replace contributes nothing to incremental reads
    assert(ST.incremental(spark, t, 3, 4).count() == 0)
    // nothing small left to pack: the next pass skips without a commit
    assert(ST.compactSmall(spark, t, maxBytes = 8 * 1024).skippedExisting)
    // old small dirs are physically removed with their expired history
    ST.expire(spark, t, keepLast = 1)
    val left = new java.io.File(s"$t/data").listFiles().map(_.getName).toSet
    assert(left == Set("snap-000002", "snap-000004"))
    assert(ST.read(spark, t).count() == 3002)
  }

  test("compactSmall materializes pending deletes for rewritten dirs only") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 3), t)      // small, holds id=1
    ST.append(spark, batch(3 until 3000), t)   // big, holds id=100
    ST.append(spark, batch(3000 until 3003), t) // small
    ST.deleteKeys(spark, t, Seq(1L, 100L).toDF("id"), "id")
    val c = ST.compactSmall(spark, t, maxBytes = 8 * 1024)
    val m = ST.manifest(spark, t, c.snapshotId)
    // the delete still pends for the untouched big dir...
    assert(m.deletes.size == 1)
    // ...but both keys are gone from the merged read, and stay gone
    val ids = ST.read(spark, t).select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L) && !ids.contains(100L) && ids.size == 3001)
    // once the big dir is rewritten too, the delete drops from the manifest
    ST.compact(spark, t)
    assert(ST.manifest(spark, t, c.snapshotId + 1).deletes.isEmpty)
    assert(ST.read(spark, t).count() == 3001)
  }

  test("merge: update/delete/insert clauses land in one atomic commit") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("id", "v", "cnt"), t, statsBy = Seq("id"))
    val source = Seq((2L, "B", 5L), (3L, "C", 7L), (9L, "Z", 99L))
      .toDF("id", "v", "cnt")
    val st = ST.merge(spark, t, source, "id",
      update = Some(Map("v" -> col("src.v"), "cnt" -> (col("tgt.cnt") + col("src.cnt")))),
      deleteIf = Some(col("tgt.id") === 3L),
      batchId = Some("mrg-1"))
    assert((st.updated, st.deleted, st.inserted) == ((1L, 1L, 1L)))
    assert(!st.commit.skippedExisting)
    val rows = ST.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "B", 25L), (4L, "d", 40L), (9L, "Z", 99L)))
    // history shows ONE commit for the whole merge
    assert(ST.latestId(spark, t).contains(1L))
    // exactly-once: the replayed merge skips with zero clause counts
    val retry = ST.merge(spark, t, source, "id",
      update = Some(Map("v" -> col("src.v"))), batchId = Some("mrg-1"))
    assert(retry.commit.skippedExisting && retry.updated == 0L)
    assert(ST.read(spark, t).count() == 4)
  }

  test("merge clause variants: replace mode, conditional update/insert, no-insert") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    // replace mode evolves schema with the source's extra column
    val s1 = Seq((2L, "b2", "x"), (5L, "e", "y")).toDF("id", "v", "extra")
    val st1 = ST.merge(spark, t, s1, "id", update = Some(Map.empty))
    assert((st1.updated, st1.inserted) == ((1L, 1L)))
    val r1 = ST.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(r1 == Seq((1L, "a", None), (2L, "b2", Some("x")), (5L, "e", Some("y"))))
    // conditional update (only id=1) + insertIf filter + partial source:
    // absent 'extra' inserts null
    val s2 = Seq((1L, "A"), (2L, "IGNORED"), (7L, "g"), (8L, "skip"))
      .toDF("id", "v")
    val st2 = ST.merge(spark, t, s2, "id",
      update = Some(Map("v" -> col("src.v"))),
      updateIf = Some(col("tgt.id") === 1L),
      insertIf = Some(col("src.v") =!= "skip"))
    assert((st2.updated, st2.inserted) == ((1L, 1L)))
    val vs = ST.read(spark, t).orderBy("id").collect().map(_.getString(1)).toSeq
    assert(vs == Seq("A", "b2", "e", "g"))
    // delete-only merge with insert disabled
    val st3 = ST.merge(spark, t, Seq(Tuple1(5L)).toDF("id"), "id",
      deleteIf = Some(lit(true)), insert = false)
    assert((st3.updated, st3.deleted, st3.inserted) == ((0L, 1L, 0L)))
    assert(ST.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 7L))
    // changelog recovers the merge's row-level effect
    val cdc = ST.changelogCdc(spark, t, 2, 3)
    assert(cdc.filter(col("_change_type") === "delete").count() == 1)
  }

  test("merge refuses a no-op clause set and unknown assignment targets") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val s = Seq((1L, "x")).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException](
      ST.merge(spark, t, s, "id", insert = false))
    assert(e1.getMessage.contains("no-op"))
    val e2 = intercept[IllegalArgumentException](
      ST.merge(spark, t, s, "id", update = Some(Map("nope" -> lit(1)))))
    assert(e2.getMessage.contains("unknown column 'nope'"))
  }

  test("MOR deletes pending at the fork never reach rows appended on the branch") {
    import spark.implicits._
    val t = tmp()
    ST.append(spark, batch(0 until 5), t)
    ST.deleteKeys(spark, t, Seq(2L).toDF("id"), "id")
    ST.createBranch(spark, t, "re", 1L)
    ST.appendToBranch(spark, Seq((2L, "v2-new")).toDF("id", "v"), t, "re")
    val rows = ST.readBranch(spark, t, "re")
      .filter(col("id") === 2L).select("v").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("v2-new")) // old row deleted, branch row survives
    assert(ST.readBranch(spark, t, "re").count() == 5)
  }
}
