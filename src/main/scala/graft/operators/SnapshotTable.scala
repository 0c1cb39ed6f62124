package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Json

/** Snapshot-chained sink tables: the "Iceberg sink table" surface of the
  * north star — append-only batches committed as numbered snapshots, with
  * time-travel reads, incremental/changelog reads between snapshots,
  * exactly-once batch idempotence, small-file compaction, and snapshot
  * expiry.
  *
  * This is the lake-native generalization of the reference's two durability
  * devices: the persistent queue's checkpoint files — a checkpoint is "a
  * picture of some of the queue state" committed as ONE small file whose
  * write is the commit point (Checkpoint.java:24-44,
  * FileCheckpointIO.java:94-110) — and the DLQ's immutable, rotated segment
  * files (DeadLetterQueueWriter.java). Here every ingested batch is an
  * immutable data directory, and the commit point is the atomic claim of a
  * tiny JSON manifest's name; data files are never the commit.
  *
  * Layout under the table root:
  * {{{
  *   data/snap-000000/            immutable parquet dir per committed batch
  *   _manifests/manifest-000000.json
  * }}}
  *
  * Each manifest records the FULL list of live data dirs (like an Iceberg
  * manifest list), so readers plan entirely from ONE driver-side metadata
  * file: `asOf(k)` lists only snapshot k's live dirs — never the whole
  * table directory. At 100 TB that is the difference between a metadata
  * read and a full-listing of millions of files; it is also what makes
  * REPLACE (compaction) invisible to time travel and changelogs.
  *
  * Concurrency contract: single writer per table, except for
  * [[appendConcurrent]] (the reference pipeline is also the sole writer of
  * its PQ/DLQ dirs). Every commit point (a manifest on the main chain or a
  * branch, a tag, a staged batch) is claimed through [[publishIfAbsent]],
  * so a commit is commit-or-fail-loudly on every filesystem: a second
  * writer that reaches a taken snapshot id fails instead of replacing the
  * first writer's manifest (`link(2)` on `file:`, an exclusive rename
  * elsewhere). The claim guards the metadata only. Two racing single-writer
  * [[append]]s still pick the same `snap-N` data dir and can overwrite each
  * other's files before one of them loses the claim, so concurrent writers
  * use [[appendConcurrent]]: Iceberg's optimistic CAS over uniquely-named
  * data dirs, on the same structure.
  *
  * Crash safety: a data dir written without its manifest is garbage — the
  * next append of that snapshot id overwrites it, and no reader ever lists
  * it (readers only see manifest-referenced dirs).
  */
object SnapshotTable {

  /** One committed snapshot. `operation` is `append` (new rows) or
    * `replace` (compaction — same rows, new files). `live` is the complete
    * data-dir set of the table as of this snapshot; `added` the dirs this
    * snapshot introduced. `batchCommits` is the CUMULATIVE batch-id →
    * snapshot-id ledger carried parent→child, so exactly-once replay
    * detection reads ONE manifest (the latest) and SURVIVES snapshot expiry —
    * an expired snapshot's rows are still in the table (expiry drops history,
    * not data), so its batch id must keep skipping replays. The ledger grows
    * with batch count, not data size (one ingest per minute for a year is
    * ~500k short strings — low MBs of driver-side metadata, the same trade
    * Iceberg's metadata.json snapshot log makes).
    */
  /** Per-data-dir column statistics carried in the manifest — the Iceberg
    * manifest-entry `lower_bounds`/`upper_bounds` analogue. `tpe` is the
    * comparison domain (`long`/`double`/`string`); `min`/`max` are the
    * rendered bounds. Readers prune dirs whose range cannot intersect a
    * predicate BEFORE any file is listed or opened — at 100 TB the scan
    * plan is a driver-side metadata computation, not an IO pass.
    */
  final case class DirStat(dir: String, column: String, tpe: String,
                           min: String, max: String)

  /** A merge-on-read EQUALITY-DELETE file: `dir` holds the deleted key
    * values (one parquet column named `column`), and `seq` is the snapshot
    * id that committed it. Sequence semantics (the Iceberg v2 rule): the
    * delete applies only to data dirs committed BEFORE it — a row with the
    * same key appended later survives. Readers anti-join; nothing is
    * rewritten until [[compact]] materializes. This is the O(delta) delete:
    * removing k rows from a 100 TB table writes k keys, where the
    * copy-on-write [[delete]] rewrites every stats-intersecting dir.
    */
  final case class DeleteFile(dir: String, column: String, seq: Long)

  /** `totalRows` counts PHYSICAL rows in live data dirs; it is the exact
    * net row count only when `deletes` is empty (merge-on-read delete keys
    * subtract at read time; [[compact]] re-trues it) — the same stance as
    * Iceberg's total-records summary.
    */
  final case class Manifest(snapshotId: Long, parentId: Option[Long],
                            operation: String, batchId: Option[String],
                            added: Seq[String], live: Seq[String],
                            addedRows: Long, totalRows: Long,
                            batchCommits: Seq[(String, Long)] = Nil,
                            schemaJson: Option[String] = None,
                            statsCols: Seq[String] = Nil,
                            stats: Seq[DirStat] = Nil,
                            bloomCols: Seq[String] = Nil,
                            blooms: Seq[(String, String)] = Nil,
                            deletes: Seq[DeleteFile] = Nil,
                            commitTimeMs: Long = 0L) {
    /** Table schema AS OF this snapshot (None on pre-schema manifests —
      * readers fall back to parquet footer inference).
      */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  final case class Commit(snapshotId: Long, skippedExisting: Boolean)

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestDir(root: Path) = new Path(root, "_manifests")
  private def dataDir(root: Path) = new Path(root, "data")
  private val ManifestName = "manifest-(\\d{6})\\.json".r
  private def manifestName(id: Long) = f"manifest-$id%06d.json"

  private def idsIn(fs: FileSystem, d: Path): Seq[Long] = {
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).map(_.getPath.getName)
      .collect { case ManifestName(n) => n.toLong }.sorted.toIndexedSeq
  }

  private def manifestIds(fs: FileSystem, root: Path): Seq[Long] =
    idsIn(fs, manifestDir(root))

  def latestId(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, root) = fsOf(spark, dir)
    manifestIds(fs, root).lastOption
  }

  /** Oldest RETAINED snapshot id (expiry moves this forward). */
  def earliestId(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, root) = fsOf(spark, dir)
    manifestIds(fs, root).headOption
  }

  /** Earliest id of the CONTIGUOUS retained manifest suffix ending at the
    * latest snapshot — the incremental-read horizon. A ref-pinned manifest
    * older than an expired gap is reachable for time travel but NOT part
    * of this chain: range reads across the gap would fail loudly, so
    * incremental consumers ([[graft.operators.SnapshotPipe]]) must
    * bootstrap from here, never from [[earliestId]].
    */
  def earliestContiguousId(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, root) = fsOf(spark, dir)
    val ids = manifestIds(fs, root)
    ids.lastOption.map { last =>
      ids.reverse.zipWithIndex
        .takeWhile { case (id, i) => id == last - i }.last._1
    }
  }

  private def render(m: Manifest): String = {
    def strList(xs: Seq[String]) = xs.map(Json.quote).mkString("[", ",", "]")
    s"""{"snapshot_id":${m.snapshotId},""" +
      s""""parent_id":${m.parentId.getOrElse("null")},""" +
      s""""operation":${Json.quote(m.operation)},""" +
      s""""batch_id":${m.batchId.map(Json.quote).getOrElse("null")},""" +
      s""""added_rows":${m.addedRows},"total_rows":${m.totalRows},""" +
      s""""added":${strList(m.added)},"live":${strList(m.live)},""" +
      // '|' is outside the validated batch-id charset, so "bid|snap" is
      // an unambiguous pair encoding
      s""""batch_commits":${strList(m.batchCommits.map { case (b, s) => s"$b|$s" })},""" +
      // base64 keeps the embedded schema JSON out of the regex decoder's way
      s""""schema_b64":${m.schemaJson.map(j => Json.quote(
        java.util.Base64.getEncoder.encodeToString(j.getBytes("UTF-8"))))
        .getOrElse("null")},""" +
      s""""stats_cols":${strList(m.statsCols)},""" +
      // bounds are base64'd (values may contain any character); the other
      // fields are in the constrained charset, so '|' separates unambiguously
      s""""stats":${strList(m.stats.map(st =>
        s"${st.dir}|${st.column}|${st.tpe}|${b64(st.min)}|${b64(st.max)}"))},""" +
      s""""bloom_cols":${strList(m.bloomCols)},""" +
      // column names exclude '|' (validated [A-Za-z0-9_.]+), so splitting on
      // the LAST '|' is unambiguous even for bucket dirs ("snap-N/_b=K")
      s""""blooms":${strList(m.blooms.map { case (d, c) => s"$d|$c" })},""" +
      // dir names and column names exclude '|' (both validated), seq is
      // numeric — a 3-way '|' split decodes exactly
      s""""deletes":${strList(m.deletes.map(d => s"${d.dir}|${d.column}|${d.seq}"))},""" +
      s""""commit_time_ms":${m.commitTimeMs}}"""
  }

  private def b64(s: String) =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String) =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  // Manifest fields are machine-written with constrained values (numeric ids,
  // snap-NNNNNN dir names, batch ids validated to [A-Za-z0-9._:-]), so a
  // regex decode is exact — same stance as Route.latestManifest.
  private def parse(s: String): Manifest = {
    def num(k: String): Option[Long] =
      s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    def str(k: String): Option[String] =
      s"""\"$k\":\"([^\"]*)\"""".r.findFirstMatchIn(s).map(_.group(1))
    def list(k: String): Seq[String] = {
      val body = s"""\"$k\":\\[([^\\]]*)\\]""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      "\"([^\"]*)\"".r.findAllMatchIn(body).map(_.group(1)).toIndexedSeq
    }
    Manifest(
      snapshotId = num("snapshot_id").getOrElse(sys.error(s"bad manifest: $s")),
      parentId = num("parent_id"),
      operation = str("operation").getOrElse("append"),
      batchId = str("batch_id"),
      added = list("added"), live = list("live"),
      addedRows = num("added_rows").getOrElse(0L),
      totalRows = num("total_rows").getOrElse(0L),
      batchCommits = list("batch_commits").map { e =>
        val cut = e.lastIndexOf('|')
        (e.substring(0, cut), e.substring(cut + 1).toLong)
      },
      schemaJson = str("schema_b64").map(unb64),
      statsCols = list("stats_cols"),
      stats = list("stats").map { e =>
        // -1 keeps trailing empties: b64("") is "" (an empty string bound)
        e.split("\\|", -1) match {
          case Array(d, c, t, lo, hi) => DirStat(d, c, t, unb64(lo), unb64(hi))
          case _ => sys.error(s"bad stats entry: $e")
        }
      },
      bloomCols = list("bloom_cols"),
      blooms = list("blooms").map { e =>
        val cut = e.lastIndexOf('|')
        (e.substring(0, cut), e.substring(cut + 1))
      },
      deletes = list("deletes").map { e =>
        e.split("\\|") match {
          case Array(d, c, q) => DeleteFile(d, c, q.toLong)
          case _ => sys.error(s"bad delete entry: $e")
        }
      },
      commitTimeMs = num("commit_time_ms").getOrElse(0L)) // 0 on legacy manifests
  }

  /** Manifest of snapshot `id`; fails loudly when it was never committed or
    * has been expired (the Iceberg "snapshot not found" contract — a reader
    * pinned to an expired snapshot must error, not silently read newer data).
    */
  def manifest(spark: SparkSession, dir: String, id: Long): Manifest = {
    val (fs, root) = fsOf(spark, dir)
    val p = new Path(manifestDir(root), manifestName(id))
    require(fs.exists(p),
      s"snapshot $id of $dir does not exist (never committed, or expired); " +
        s"available: ${manifestIds(fs, root).mkString(",")}")
    readManifestFile(fs, p)
  }

  private def readManifestFile(fs: FileSystem, p: Path): Manifest = parse(readText(fs, p))

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Publish `body` as `intoDir/name` only if no file holds that name yet.
    * This is the one commit point of the table: manifests of the main chain
    * and of branches (fork and fast-forward copies included), tags and
    * staged batches all claim their name here. The bytes go to a
    * writer-unique tmp file first, so racing writers never clobber each
    * other's bytes; [[casClaim]] then claims the name atomically and the tmp
    * file is deleted either way. Returns whether this writer won; a lost
    * claim leaves the existing file byte-for-byte untouched.
    */
  private[graft] def publishIfAbsent(fs: FileSystem, intoDir: Path, name: String,
                                     body: Array[Byte]): Boolean = {
    fs.mkdirs(intoDir)
    val token = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val tmp = new Path(intoDir, s".$name.$token.tmp")
    val out = fs.create(tmp, true)
    try out.write(body) finally out.close()
    val won = casClaim(fs, tmp, new Path(intoDir, name))
    fs.delete(tmp, false)
    won
  }

  /** Atomic claim of `dst` with `src`'s (complete) content. The obvious
    * primitive, a rename that fails when the destination exists, is NOT a
    * CAS on local filesystems: rename(2) silently REPLACES an existing
    * destination, and Hadoop's LocalFileSystem layers a non-atomic
    * exists-check plus a data/crc rename PAIR on top, which two racing
    * writers interleave into a torn commit (observed as manifest checksum
    * errors under a 4-writer race before this switched to link). So on
    * `file:` schemes the claim is a HARD LINK of `src` onto the name —
    * link(2) fails with EEXIST atomically in the kernel, and the linked file
    * is complete the instant the name appears (no partial-content window
    * for readers); a won claim keeps the inode alive through the name. On
    * HDFS, rename-refusing-existing IS namenode-atomic, so other schemes
    * keep fs.rename.
    */
  private def casClaim(fs: FileSystem, src: Path, dst: Path): Boolean =
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else fs.rename(src, dst)

  /** Claim snapshot `m.snapshotId` of the chain in `intoDir` (main's
    * `_manifests` or a branch dir). `restamp` stamps the commit wall-clock
    * time now; a fork copy keeps the stamp of the commit it copies.
    * Monotonicity across commits is NOT assumed anywhere — asOfTimestamp
    * scans, never binary-searches. False when the id is already taken.
    */
  private def claimManifest(fs: FileSystem, intoDir: Path, m: Manifest,
                            restamp: Boolean = true): Boolean = {
    val stamped = if (restamp) m.copy(commitTimeMs = System.currentTimeMillis()) else m
    publishIfAbsent(fs, intoDir, manifestName(m.snapshotId), render(stamped).getBytes("UTF-8"))
  }

  /** [[claimManifest]] on a single-writer path: a taken id fails loudly. */
  private def commitManifestTo(fs: FileSystem, intoDir: Path, m: Manifest,
                               restamp: Boolean = true): Unit =
    require(claimManifest(fs, intoDir, m, restamp),
      s"concurrent commit detected for snapshot ${m.snapshotId} of $intoDir — " +
        "SnapshotTable is single-writer per table (see scaladoc)")

  /** The head of a manifest chain: its retained snapshot ids and its latest
    * manifest (None on a virgin chain). `preLedger` marks a head written
    * before the batch ledger existed — no `batch_commits` key at all, which
    * an empty ledger is not (see [[resolveLedger]]).
    */
  private final case class Head(ids: Seq[Long], latest: Option[Manifest], preLedger: Boolean)

  /** The one read of a chain head: one listing, one manifest read. `upTo`
    * reads the chain as it was at that retained snapshot.
    */
  private def readHead(fs: FileSystem, chain: Path, upTo: Long = Long.MaxValue): Head = {
    val ids = idsIn(fs, chain).filter(_ <= upTo)
    ids.lastOption.map(id => readText(fs, new Path(chain, manifestName(id)))) match {
      case None => Head(ids, None, preLedger = false)
      case Some(text) => Head(ids, Some(parse(text)), !text.contains("\"batch_commits\":"))
    }
  }

  /** The head manifest of table `dir`, for an operation that needs one. */
  private def requireHead(head: Head, dir: String, hint: String = ""): Manifest =
    head.latest.getOrElse(sys.error(s"$dir has no committed snapshot$hint"))

  /** Latest manifest of table `dir` — the read paths' head. */
  private def latest(spark: SparkSession, dir: String, hint: String = ""): Manifest = {
    val (fs, root) = fsOf(spark, dir)
    requireHead(readHead(fs, manifestDir(root)), dir, hint)
  }

  /** Parent side of a commit: the child's snapshot id, the chain head it
    * builds on (None on a virgin table), and the table's stats/bloom
    * columns with this commit's own added.
    */
  private final case class ChildOf(next: Long, parent: Option[Manifest],
                                   statsCols: Seq[String], bloomCols: Seq[String])

  /** What a commit changes on top of its parent: the data dirs it wrote with
    * their rows, stats and Bloom sidecars, and the parent dirs it
    * `replaced`, whose stats and sketches leave with them. `rows` and
    * `replacedRows` are PHYSICAL row counts (the Manifest `totalRows`
    * contract); `rows` is also the reported `addedRows` unless `edit` says
    * otherwise. `edit` states the manifest fields the operation changes
    * beyond that rule (a rewrite adds no rows, a merge-on-read commit adds a
    * delete file, ...). `restore` makes the child's whole state — live set,
    * totals, ledger, schema and properties — that of the chain's head as it
    * was at an earlier snapshot ([[rollback]]).
    */
  private final case class Child(added: Seq[String] = Nil, rows: Long = 0L,
                                 stats: Seq[DirStat] = Nil,
                                 blooms: Seq[(String, String)] = Nil,
                                 replaced: Seq[String] = Nil, replacedRows: Long = 0L,
                                 restore: Option[Head] = None,
                                 edit: Manifest => Manifest = identity)

  /** The empty table state a fresh table or a REPLACE starts from. */
  private val EmptyState = Manifest(-1L, None, "empty", None, Nil, Nil, 0L, 0L)

  /** The one parent→child rule of every commit. It reads the chain head
    * (`needsHead` fails loudly on a virgin table), resolves the batch
    * ledger and skips a replayed batch id (returned as `skippedExisting`,
    * and `stage` never runs), numbers the child, merges the schema and the
    * stats/bloom column properties, and lets `stage` do the operation's
    * work. A stage that finds nothing to do returns None: no commit, the
    * head returns as `skippedExisting`. Otherwise the child keeps the
    * parent's live dirs, stats and sketches minus the ones it replaced plus
    * the ones it added, its totals, ledger and pending merge-on-read
    * deletes; the stage's `edit` then states what else changes, and the
    * child's id is claimed.
    *
    * `schema` is the incoming frame's schema (None: the table keeps its
    * schema). `branch` commits on that branch chain dir instead of main's.
    * `replaceAll` makes the child a new table state (the [[overwrite]] /
    * [[truncate]] REPLACE, and [[create]]): only the schema and the
    * stats/bloom column properties carry over, an incoming schema restamps
    * rather than merges, and the ledger restarts with this batch — ledger
    * invariant: batch id present == that batch's rows are present, and the
    * replace removed every prior batch's rows.
    *
    * A lost claim fails loudly, so the result is always defined for a
    * single writer; only a `contended` caller sees None, and rebases.
    */
  private def commitChild(spark: SparkSession, dir: String, op: String,
                          batchId: Option[String] = None,
                          schema: Option[org.apache.spark.sql.types.StructType] = None,
                          statsBy: Seq[String] = Nil, bloomBy: Seq[String] = Nil,
                          branch: Option[Path] = None, replaceAll: Boolean = false,
                          needsHead: Boolean = false, contended: Boolean = false)
                         (stage: ChildOf => Option[Child]): Option[Commit] = {
    val (fs, root) = fsOf(spark, dir)
    val chain = branch.getOrElse(manifestDir(root))
    val head = readHead(fs, chain)
    require(branch.isEmpty || head.ids.nonEmpty,
      s"branch dir $chain holds no manifests (corrupt branch)")
    val parent = if (needsHead) Some(requireHead(head, dir)) else head.latest
    val ledger = resolveLedger(fs, chain, head, batchId)
    batchId.flatMap(b => ledger.find(_._1 == b)) match {
      case Some((_, snap)) => Some(Commit(snap, skippedExisting = true))
      case None =>
        val next = parent.fold(0L)(_.snapshotId + 1)
        val base = if (replaceAll) None else parent
        // schema evolution: a fresh state stamps the incoming schema, a
        // child merges new columns in. A LEGACY chain (parent without a
        // stamped schema) stays in footer-inference mode — stamping only
        // the new columns would hide the older dirs' columns. Merged before
        // `stage`, so a conflict fails before any data moves.
        val schemaNow = (schema, base) match {
          case (None, _) => parent.flatMap(_.schemaJson)
          case (Some(s), None) => Some(s.json)
          case (Some(s), Some(p)) => p.schema.map(ps => mergeSchemas(ps, s).json)
        }
        // stats/bloom columns are table properties: once requested they are
        // computed on every later commit too, so pruning stays complete
        val to = ChildOf(next, parent,
          (parent.map(_.statsCols).getOrElse(Nil) ++ statsBy).distinct,
          (parent.map(_.bloomCols).getOrElse(Nil) ++ bloomBy).distinct)
        stage(to) match {
          case None => parent.map(p => Commit(p.snapshotId, skippedExisting = true))
          case Some(c) =>
            val gone = c.replaced.toSet
            val b = base.getOrElse(EmptyState)
            // pending MOR deletes carry forward (the copy keeps them): the
            // child's dirs have a newer addSeq than every delete seq, so they
            // provably never touch them
            val state = c.restore.map(r =>
              r.latest.get.copy(batchCommits = resolveLedger(fs, chain, r, None))
            ).getOrElse(b.copy(
              live = b.live.filterNot(gone) ++ c.added,
              totalRows = b.totalRows - c.replacedRows + c.rows,
              batchCommits = (if (replaceAll) Nil else ledger) ++ batchId.map(_ -> next),
              schemaJson = schemaNow,
              statsCols = to.statsCols,
              stats = b.stats.filterNot(st => gone(st.dir)) ++ c.stats,
              bloomCols = to.bloomCols,
              blooms = b.blooms.filterNot(bl => gone(bl._1)) ++ c.blooms))
            val m = c.edit(state.copy(snapshotId = next, parentId = parent.map(_.snapshotId),
              operation = op, batchId = batchId, added = c.added, addedRows = c.rows))
            val won = if (contended) claimManifest(fs, chain, m)
                      else { commitManifestTo(fs, chain, m); true }
            Option.when(won)(Commit(next, skippedExisting = false))
        }
    }
  }

  /** Child of one data dir `name` written from `df` (an existing dir there
    * is an UNCOMMITTED crash leftover, no manifest references it, so
    * writing over it is the recovery path). Row count and stats bounds ride
    * the write job (observed metrics); the sketches reuse the count.
    */
  private def writeChild(spark: SparkSession, fs: FileSystem, root: Path,
                         df: DataFrame, name: String, to: ChildOf): Child = {
    val dataPath = new Path(dataDir(root), name).toString
    val (rows, stats, _) = writeMeasured(df, dataPath, name, to.statsCols)
    Child(Seq(name), rows, stats,
      computeBlooms(spark, fs, root, dataPath, name, to.bloomCols, rowsHint = rows))
  }

  /** Child of one data dir `name` already on disk (adopted streaming files,
    * a published staged batch, a fanned-out sink) holding `rows` rows: its
    * `stats` when the writer observed them, else one stats job; then the
    * sketches.
    */
  private def onDiskChild(spark: SparkSession, fs: FileSystem, root: Path,
                          name: String, rows: Long, to: ChildOf,
                          stats: Option[Seq[DirStat]] = None): Child = {
    val dataPath = new Path(dataDir(root), name).toString
    Child(Seq(name), rows, stats.getOrElse(computeStats(spark, dataPath, name, to.statsCols)),
      computeBlooms(spark, fs, root, dataPath, name, to.bloomCols, rowsHint = rows))
  }

  /** Append `df` as a new snapshot. `batchId` is the exactly-once token: a
    * batch id already committed in the table is skipped (the original
    * snapshot id returned), so a retried/replayed ingest job never
    * duplicates rows — the batch analogue of the PQ's acked-sequence
    * dedup on replay (Checkpoint.java firstUnackedSeqNum). The check reads
    * ONE manifest (the latest, via its cumulative `batchCommits` ledger),
    * so the cost is O(1) regardless of chain length, and a replay is still
    * skipped after the committing snapshot has been EXPIRED — the rows are
    * still in the table, only the history entry is gone.
    *
    * The row count is observed during the write job (at production scale
    * the writer's task metrics would be carried instead, same number).
    */
  def append(spark: SparkSession, df: DataFrame, dir: String,
             batchId: Option[String] = None,
             statsBy: Seq[String] = Nil,
             bloomBy: Seq[String] = Nil): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "append", batchId, Some(df.schema), statsBy, bloomBy) { to =>
      Some(writeChild(spark, fs, root, df, f"snap-${to.next}%06d", to))
    }.get
  }

  /** Optimistic-concurrency append — the MULTI-WRITER variant of [[append]]
    * (Iceberg's commit model: uniquely-named data files + a compare-and-swap
    * on the metadata pointer, here the exclusive claim of
    * `manifest-NNNNNN.json`, which the filesystem refuses when a rival
    * already claimed the id). Many writers may call this against one table
    * simultaneously — the 100 TB ingest fan-in shape (many pipelines, one
    * table). Each attempt rebuilds the manifest from the CURRENT chain head
    * and tries to claim the next snapshot id, so a pure append needs NO
    * conflict validation: its rows were never visible to any rival commit,
    * every field it contributes (live set, row totals, batch ledger, schema
    * merge, carried deletes) is recomputed against the head it actually
    * lands on, and the commit linearizes at the successful claim. Losing a
    * race costs one manifest re-read + a dir rename + stats/sketch jobs over
    * the writer's OWN dir — never a data rewrite, never a row re-shuffle.
    *
    * Mechanics per attempt:
    *  - the data dir is renamed to embed the attempted id
    *    (`snap-NNNNNN-c<token>`): [[addSeq]] derives the commit sequence
    *    from the NAME, and it must be the committed one so later
    *    merge-on-read deletes reach these rows while earlier pending ones
    *    provably don't (the rebase window admits any rival operation —
    *    appends commute with all of them, because live/totals/ledger are
    *    re-read and our own rows predate nothing);
    *  - Bloom sidecars follow the dir name (stale-attempt sidecars are
    *    deleted eagerly); manifest stats relabel to the new name;
    *  - the exactly-once batch ledger re-checks against the current head
    *    each attempt: when a rival committed the same `batchId`, the staged
    *    dir is removed and the rival's commit returns as `skippedExisting`.
    *
    * Crash safety: a writer that dies pre-commit leaves `snap-pending-c*` /
    * renamed-but-uncommitted dirs that no manifest references — [[vacuum]]
    * reaps them. Maintenance operations (compact / expire / vacuum / DML /
    * overwrite) still require a QUIESCED table — vacuum between a rival's
    * staging and commit would reap the in-flight dir; only appends racing
    * appends (and appends racing nothing) are unrestricted.
    *
    * `beforeCommit` is a test seam invoked once per attempt after its data
    * dir, stats and sidecars are staged, right before its claim (default
    * no-op) — deterministic interleaving for specs.
    */
  def appendConcurrent(spark: SparkSession, df: DataFrame, dir: String,
                       batchId: Option[String] = None,
                       statsBy: Seq[String] = Nil,
                       bloomBy: Seq[String] = Nil,
                       maxRetries: Int = 10,
                       beforeCommit: () => Unit = () => ()): Commit = {
    val (fs, root) = fsOf(spark, dir)
    val token = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    // provisional unique name: never referenced by any manifest — a writer
    // that dies here leaves a vacuum-reapable orphan, nothing more
    var name = s"snap-pending-c$token"
    // stats bounds and Bloom sketch CONTENT are dir-name-agnostic — only
    // their labels/sidecar filenames follow the attempt's dir name. Seed
    // the expected column sets from the current head, observe count+bounds
    // during the staged write (one job), build sketches once, and per
    // attempt only RELABEL / re-write sidecar files driver-side. A rival
    // commit that grows the table's stats/bloom column set under rebase
    // (rare) costs one extra job for just the missing columns.
    val seedParent = readHead(fs, manifestDir(root)).latest
    val seedScols = (seedParent.map(_.statsCols).getOrElse(Nil) ++ statsBy).distinct
    val (rows, seedStats, _) = writeMeasured(df,
      new Path(dataDir(root), name).toString, name, seedScols)
    // column -> bounds value (None = all-null/absent, never prunes)
    val statMemo = scala.collection.mutable.Map[String, Option[DirStat]]()
    seedScols.filter(df.columns.contains).foreach { c =>
      statMemo(c) = seedStats.find(_.column == c) }
    val bloomMemo =
      scala.collection.mutable.Map[String, Option[org.apache.spark.util.sketch.BloomFilter]]()
    var sidecarsFor: (String, Seq[String]) = null // (dir name, cols) last written
    def dropSidecars(): Unit = if (sidecarsFor != null) sidecarsFor._2.foreach(c =>
      fs.delete(new Path(bloomDir(root), bloomFileName(sidecarsFor._1, c)), false))
    var attempt = 0
    while (attempt <= maxRetries) {
      commitChild(spark, dir, "append", batchId, Some(df.schema), statsBy, bloomBy,
          contended = true) { to =>
        val newName = f"snap-${to.next}%06d-c$token"
        if (newName != name) {
          require(fs.rename(new Path(dataDir(root), name), new Path(dataDir(root), newName)),
            s"failed to rename staged dir $name -> $newName under $dir")
          // sidecars are keyed by dir name: the old attempt's are now stale
          dropSidecars()
          sidecarsFor = null
          name = newName
        }
        val dataPath = new Path(dataDir(root), name).toString
        // bounds for any column a rival's rebase added since the write
        to.statsCols.filter(c => df.columns.contains(c) && !statMemo.contains(c)) match {
          case Nil =>
          case missing =>
            val computed = computeStats(spark, dataPath, name, missing)
            missing.foreach(c => statMemo(c) = computed.find(_.column == c))
        }
        val dirStats = to.statsCols.flatMap(c => statMemo.getOrElse(c, None))
          .map(_.copy(dir = name))
        val bPresent = to.bloomCols.filter(df.columns.contains)
        bPresent.filterNot(bloomMemo.contains).foreach { c =>
          bloomMemo(c) = buildBloom(spark.read.parquet(dataPath), c, math.max(rows, 1L))
        }
        val dirBlooms = bPresent.flatMap(c => bloomMemo(c).map { bf =>
          if (sidecarsFor == null || sidecarsFor._1 != name || !sidecarsFor._2.contains(c))
            writeBloomSidecar(fs, root, name, c, bf)
          name -> c
        })
        sidecarsFor = (name, dirBlooms.map(_._2))
        beforeCommit()
        Some(Child(Seq(name), rows, dirStats, dirBlooms))
      } match {
        case Some(c) if c.skippedExisting =>
          // a rival committed this very batch: exactly-once wins over our
          // staged bytes — drop them and return the rival's commit
          dropSidecars()
          fs.delete(new Path(dataDir(root), name), true)
          return c
        case Some(c) => return c
        case None => attempt += 1
      }
    }
    sys.error(s"appendConcurrent lost the commit race $maxRetries times on $dir " +
      s"under sustained contention — staged dir $name is uncommitted (vacuum reaps it); " +
      "raise maxRetries or reduce concurrent writers")
  }

  /** Create an EMPTY table: commits snapshot 0 stamping `schema` and the
    * stats/bloom table properties, with no data dirs — the CREATE TABLE
    * analogue (the SQL catalog routes `CREATE TABLE` here). The first
    * append evolves from the stamped schema like any parent, and reads of
    * the empty state return zero rows WITH the schema. Stats/bloom columns
    * are validated eagerly: a non-comparable stats column would otherwise
    * fail only at the first append.
    */
  def create(spark: SparkSession, dir: String,
             schema: org.apache.spark.sql.types.StructType,
             statsBy: Seq[String] = Nil, bloomBy: Seq[String] = Nil): Commit = {
    // a fresh table state: the schema stamps as given, never merges
    commitChild(spark, dir, "create", schema = Some(schema), statsBy = statsBy,
        bloomBy = bloomBy, replaceAll = true) { to =>
      require(to.parent.isEmpty,
        s"$dir already has a committed snapshot — create() only makes virgin tables")
      require(schema.fields.nonEmpty, "create() needs a non-empty schema")
      (statsBy ++ bloomBy).foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          sys.error(s"stats/bloom column '$c' is not in the table schema"))
        statDomain(f.dataType) // fails loudly on non-comparable types
      }
      Some(Child())
    }.get
  }

  /** Replace the table's contents with `df` in ONE commit (the INSERT
    * OVERWRITE / truncate-and-load shape): the live set becomes just the
    * new dir, pending merge-on-read deletes clear (nothing they applied to
    * stays live), and the schema restamps to `df`'s — an overwrite is a
    * REPLACE, not an evolution. History stays append-only (prior snapshots
    * remain time-travelable until expired). The exactly-once batch ledger
    * RESTARTS with this commit's own batch id: every prior batch's rows are
    * gone, so a replay of an older batch re-appends, while a replayed
    * overwrite still skips. Incremental/changelog reads across it fail
    * loudly (row-removing, the [[incremental]] contract); [[changelogCdc]]
    * recovers the row-level diff.
    */
  def overwrite(spark: SparkSession, df: DataFrame, dir: String,
                batchId: Option[String] = None,
                statsBy: Seq[String] = Nil,
                bloomBy: Seq[String] = Nil): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "overwrite", batchId, Some(df.schema), statsBy, bloomBy,
        replaceAll = true) { to =>
      // empty overwrites are legal: the observed count is simply 0
      Some(writeChild(spark, fs, root, df, f"snap-${to.next}%06d", to))
    }.get
  }

  /** TRUNCATE: one metadata-only `overwrite` commit whose live set is
    * empty — no data is read, moved, or rewritten (prior snapshots stay
    * time-travelable until expired; vacuum reclaims their files after
    * expiry). The schema stays stamped, so the empty state still reads and
    * the next append evolves from it normally.
    */
  def truncate(spark: SparkSession, dir: String): Commit =
    // ledger invariant (the rollback precedent): batch id present == that
    // batch's rows are present. Truncate removes every row, so the ledger
    // restarts and every prior batch becomes re-appendable.
    commitChild(spark, dir, "overwrite", replaceAll = true, needsHead = true) { _ =>
      Some(Child())
    }.get

  /** Explicit schema change as ONE metadata-only commit (the ALTER TABLE
    * ADD/DROP COLUMNS analogue — appends also evolve schemas implicitly,
    * this is the declaration-first path): no data is read, moved, or
    * rewritten. Added columns must be nullable (existing rows surface
    * null) and must not collide with a name ANY retained main-chain
    * snapshot has stamped — re-adding a dropped name would shadow the old
    * files' values (possibly of another type) back through the scan; this
    * table format carries no Iceberg-style field ids to disambiguate, so
    * the collision fails loudly (expire the old snapshots first). Dropped
    * columns keep their bytes on disk (time travel still sees them); the
    * stamped schema simply stops projecting them, and their stats/Bloom
    * configuration drops with them. A column keyed by a PENDING
    * merge-on-read delete cannot drop (the anti-join needs it) — compact
    * first. Committed as operation `alter`: contributes nothing to
    * incremental/changelog reads (no rows change).
    */
  def alterSchema(spark: SparkSession, dir: String,
                  add: Seq[org.apache.spark.sql.types.StructField] = Nil,
                  drop: Seq[String] = Nil): Commit = {
    require(add.nonEmpty || drop.nonEmpty, "alterSchema with no changes")
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "alter", needsHead = true) { to =>
      val m = to.parent.get
      val cur = m.schema.getOrElse(sys.error(
        s"alterSchema requires a schema-stamped table (legacy chain at $dir)"))
      val dropSet = drop.toSet
      dropSet.foreach(c => require(cur.fieldNames.contains(c),
        s"cannot drop '$c': not a column of $dir (has ${cur.fieldNames.mkString(", ")})"))
      m.deletes.find(d => dropSet.contains(d.column)).foreach(d => sys.error(
        s"cannot drop '${d.column}': pending merge-on-read delete file ${d.dir} " +
          "is keyed on it — compact() first to materialize the deletes"))
      val everStamped = manifestIds(fs, root).map(manifest(spark, dir, _))
        .flatMap(_.schema).flatMap(_.fieldNames).toSet
      add.foreach { f =>
        require(f.nullable,
          s"added column '${f.name}' must be nullable (existing rows have no value)")
        require(!everStamped.contains(f.name),
          s"column name '${f.name}' was stamped by a retained snapshot of $dir — " +
            "re-adding it would read the old files' values back; expire the old " +
            "snapshots (and compact) first, or pick a fresh name")
      }
      val kept = cur.fields.filterNot(f => dropSet.contains(f.name))
      require(kept.nonEmpty || add.nonEmpty, "cannot drop every column")
      val schemaNow = org.apache.spark.sql.types.StructType(kept ++ add)
      Some(Child(edit = c => c.copy(schemaJson = Some(schemaNow.json),
        statsCols = c.statsCols.filterNot(dropSet),
        stats = c.stats.filterNot(st => dropSet.contains(st.column)),
        bloomCols = c.bloomCols.filterNot(dropSet),
        blooms = c.blooms.filterNot(b => dropSet.contains(b._2)))))
    }.get
  }

  /** Merged read (merge-on-read deletes applied, schema-as-of-`m`)
    * restricted to `dirs` of manifest `m` — the planScan → read seam the
    * SQL catalog's dir-pruning rule composes: prune with [[planScan]] /
    * [[planScanEq]] driver-side, then read only the kept dirs.
    */
  def readSubset(spark: SparkSession, dir: String, m: Manifest,
                 dirs: Seq[String]): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    readMerged(spark, root, m, dirs)
  }

  /** Stage one hidden-partitioned data dir: write `df` partitioned by the
    * rendered transform under `data/<name>`, validate the child dir names
    * (NULL transform values and manifest-unsafe charsets fail loudly —
    * a silently escaped dir name would detach the manifest from the
    * filesystem), and return (manifest dir names, row count). Shared by
    * [[appendPartitioned]] and [[overwritePartitions]].
    */
  private def stagePartitioned(spark: SparkSession, fs: FileSystem, root: Path,
                               df: DataFrame,
                               partition: org.apache.spark.sql.Column,
                               name: String, opName: String)
      : (IndexedSeq[String], Long) = {
    require(!df.columns.contains("_p"),
      s"$opName reserves the column name '_p' for the transform — " +
        "rename the frame's '_p' column first")
    val dataPath = new Path(dataDir(root), name).toString
    // total row count observed during the write (no read-back footer job —
    // which would also re-infer partition types, see partitionedStats)
    val obs = org.apache.spark.sql.Observation()
    df.withColumn("_p", partition)
      .observe(obs, count(lit(1)).as("_rows"))
      .write.mode("overwrite").partitionBy("_p").parquet(dataPath)
    val children = fs.listStatus(new Path(dataPath)).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("_p=")).sorted.toIndexedSeq
    require(children.nonEmpty, s"$opName wrote no partitions (empty frame?)")
    children.foreach { c =>
      require(!c.contains("__HIVE_DEFAULT_PARTITION__"),
        "partition transform produced NULL values — make the transform total")
      require(c.matches("_p=[A-Za-z0-9._+:=-]+"),
        s"partition value dir '$c' is outside the manifest-safe charset — " +
          "render the transform to [A-Za-z0-9._+:-]")
    }
    (children.map(c => s"$name/$c"), obs.get("_rows").asInstanceOf[Long])
  }

  /** Per-child-dir bounds + row counts of one staged hidden-partitioned dir
    * in ONE grouped job (the former per-dir agg/count fan-out — one Spark
    * action per partition value). Children are read by LISTED dir name with
    * an explicit schema of just the needed columns — never via read-back
    * partition-type inference, which canonicalizes numeric-looking strings
    * ('01' -> 1) and would key stats to phantom dir names (the documented
    * pruning hazard). Stats entries keep the old order: dirs ascending,
    * columns in `scols` order.
    */
  private def partitionedStats(spark: SparkSession, root: Path,
                               fullDirs: Seq[String],
                               schema: org.apache.spark.sql.types.StructType,
                               scols: Seq[String], bcols: Seq[String])
      : (Seq[DirStat], Map[String, Long]) = {
    scols.foreach(c => require(c.matches("[A-Za-z0-9_.]+"),
      s"stats column name '$c' must match [A-Za-z0-9_.]+"))
    val presentS = scols.filter(schema.fieldNames.contains)
    val presentB = bcols.filter(schema.fieldNames.contains)
    if (presentS.isEmpty && presentB.isEmpty) return (Nil, Map.empty)
    val needed = (presentS ++ presentB).distinct
    val readSchema = org.apache.spark.sql.types.StructType(
      needed.map(c => schema(c).copy(nullable = true)))
    val domains = presentS.map(c => c -> statDomain(schema(c).dataType)).toMap
    val u = fullDirs.map { d =>
      spark.read.schema(readSchema)
        .parquet(new Path(dataDir(root), d).toString)
        .withColumn("_dir", lit(d))
    }.reduce(_ unionByName _)
    val aggs = count(lit(1)) +: presentS.flatMap(c => Seq(min(col(c)), max(col(c))))
    val rows = u.groupBy(col("_dir")).agg(aggs.head, aggs.tail: _*)
      .collect().toIndexedSeq.sortBy(_.getString(0))
    val stats = rows.flatMap { row =>
      val d = row.getString(0)
      presentS.zipWithIndex.flatMap { case (c, i) =>
        (Option(row.get(2 * i + 2)), Option(row.get(2 * i + 3))) match {
          case (Some(lo), Some(hi)) =>
            Some(DirStat(d, c, domains(c), lo.toString, hi.toString))
          case _ => None
        }
      }
    }
    (stats, rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Child of the hidden-partition dirs `dirs` (holding `rows` rows) just
    * written by [[stagePartitioned]]: one grouped job for every dir's bounds
    * and counts, then per-dir sketches sized by those counts. Stats are
    * computed PER LISTED CHILD DIR, never by grouping read-back `_p`
    * values: Spark's partition-type inference canonicalizes numeric-looking
    * strings ('01' -> 1), which would key stats to phantom dir names and
    * silently disable pruning.
    */
  private def partitionedChild(spark: SparkSession, fs: FileSystem, root: Path,
                               dirs: Seq[String], rows: Long,
                               schema: org.apache.spark.sql.types.StructType,
                               to: ChildOf): Child = {
    val (stats, dirCounts) =
      partitionedStats(spark, root, dirs, schema, to.statsCols, to.bloomCols)
    Child(dirs, rows, stats, dirs.flatMap(d =>
      computeBlooms(spark, fs, root, new Path(dataDir(root), d).toString, d, to.bloomCols,
        rowsHint = dirCounts.getOrElse(d, -1L))))
  }

  /** Append with HIDDEN PARTITIONING: `partition` is a transform computed
    * from the row (a day truncation, a bucket, an identity column — the
    * Iceberg partition-spec analogue), and the batch commits ONE LIVE DIR
    * PER DISTINCT TRANSFORM VALUE, each with its own manifest stats and
    * Bloom sidecars. Readers stay transform-oblivious: per-dir bounds are
    * tight on whatever the transform clusters, so the EXISTING
    * `planScan`/`readWhere` pruning removes provably-empty partitions
    * driver-side — the ingest-time layout a log table wants (daily
    * partitions prune time ranges without waiting for a compaction pass).
    * Same exactly-once batch ledger as [[append]]. Transform values must
    * render into a path- and manifest-safe charset and be non-null (fail
    * loudly — a silently escaped dir name would detach the manifest from
    * the filesystem).
    */
  def appendPartitioned(spark: SparkSession, df: DataFrame, dir: String,
                        partition: org.apache.spark.sql.Column,
                        batchId: Option[String] = None,
                        statsBy: Seq[String] = Nil,
                        bloomBy: Seq[String] = Nil): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "append", batchId, Some(df.schema), statsBy, bloomBy) { to =>
      val (dirs, rows) = stagePartitioned(spark, fs, root, df, partition,
        f"snap-${to.next}%06d", "partitioned append")
      Some(partitionedChild(spark, fs, root, dirs, rows, df.schema, to))
    }.get
  }

  /** DYNAMIC PARTITION OVERWRITE (Iceberg `overwritePartitions` / Spark's
    * `partitionOverwriteMode=dynamic`): replace EXACTLY the hidden
    * partitions the incoming frame produces values for, in one atomic
    * commit — untouched partitions carry over with their stats, Bloom
    * sidecars, and pending merge-on-read deletes intact. The daily-restate
    * shape a log table wants: recompute yesterday's partition and swap it
    * in without rewriting (or even reading) the rest of the table; cost ∝
    * the replaced partitions plus the new data, never table size.
    *
    * Soundness gate: every live dir must carry the `_p=` hidden-partition
    * layout — a replaced value's rows hiding in an UNPARTITIONED dir (a
    * plain append, or a compaction output: [[compact]] destroys the
    * layout) would silently survive the overwrite, so a mixed-layout table
    * fails loudly. Replacement keys on the RENDERED transform value
    * (`_p=<v>` dir names), so the caller must keep using the same
    * transform the table was built with — same contract as Iceberg's
    * table-level partition spec, which this format does not stamp.
    *
    * Ledger: like [[deleteWhere]]/[[update]] (intentional row removal),
    * the batch ledger carries forward plus this commit's own id — a replay
    * of an OLD ingest must keep skipping (re-appending it would resurrect
    * data this overwrite deliberately replaced). Committed as operation
    * `dynoverwrite`: row-removing for incremental purposes (insert-only
    * incremental/changelog reads across it fail loudly);
    * [[changelogCdc]]'s generic dir-diff recovers exactly
    * delete(replaced-partition rows) + insert(new rows), identical
    * re-writes cancelling.
    */
  def overwritePartitions(spark: SparkSession, df: DataFrame, dir: String,
                          partition: org.apache.spark.sql.Column,
                          batchId: Option[String] = None,
                          statsBy: Seq[String] = Nil,
                          bloomBy: Seq[String] = Nil): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "dynoverwrite", batchId, Some(df.schema), statsBy, bloomBy) { to =>
      val live = to.parent.toSeq.flatMap(_.live)
      // the layout gate sits AFTER the replay lookup: a batch committed
      // before a later compact() destroyed the layout must still SKIP
      // idempotently on replay, like every other committing path
      live.find(!_.contains("/_p=")).foreach(d => sys.error(
        s"dynamic partition overwrite needs a fully partition-clustered table, " +
          s"but live dir '$d' of $dir is not hidden-partitioned — ingest with " +
          "appendPartitioned only (compact() also destroys the layout)"))
      val (newDirs, rows) = stagePartitioned(spark, fs, root, df, partition,
        f"snap-${to.next}%06d", "partitioned overwrite")
      // replacement keys on the rendered value: a live dir whose _p=
      // segment matches an incoming value is replaced wholesale
      val newVals = newDirs.map(_.split('/').last).toSet
      def valOf(d: String): String =
        d.split('/').find(_.startsWith("_p=")).getOrElse("")
      val replaced = live.filter(d => newVals.contains(valOf(d)))
      // the replaced dirs subtract at their RAW count — pending MOR delete
      // keys keep subtracting at read time, exactly as they did before the
      // swap (mor-delete/update precedent), and still apply to the
      // untouched dirs
      val replacedRows =
        if (replaced.isEmpty) 0L
        else readDirs(spark, root, replaced, to.parent.flatMap(_.schema)).count()
      Some(partitionedChild(spark, fs, root, newDirs, rows, df.schema, to)
        .copy(replaced = replaced, replacedRows = replacedRows))
    }.get
  }

  /** ADOPT already-written parquet files as a new append snapshot — the
    * commit half of the DSv2 streaming sink
    * ([[graft.sources.SnapshotStreamSource]]): executors wrote the files
    * into a staging area with Spark's own parquet writer
    * ([[Route.parquetWriterFactory]], the writer [[append]]'s files come
    * from), the driver renames exactly the COMMITTED tasks' files into
    * `data/snap-NNNNNN/` and commits one manifest (speculative / aborted
    * task files are never listed, so they never enter the table). Same
    * exactly-once batch ledger, schema evolution, and table-property
    * stats/bloom computation as [[append]]; a replayed batch id deletes the
    * staged files and skips. `rows` is the writers' own count of the rows
    * they wrote (no re-scan job at commit). `files` must be non-empty.
    */
  private[graft] def adoptFiles(spark: SparkSession, dir: String,
                                files: Seq[String], rows: Long,
                                batchId: Option[String],
                                writeSchema: org.apache.spark.sql.types.StructType): Commit = {
    require(files.nonEmpty, "adoptFiles with no files — skip the commit instead")
    val (fs, root) = fsOf(spark, dir)
    val c = commitChild(spark, dir, "append", batchId, Some(writeSchema)) { to =>
      val name = f"snap-${to.next}%06d"
      val dest = new Path(dataDir(root), name)
      // an existing dir here is an uncommitted crash leftover (no manifest
      // references it) — clearing it is the recovery path, like append's
      // overwrite mode
      if (fs.exists(dest)) fs.delete(dest, true)
      fs.mkdirs(dest)
      files.foreach { f =>
        val p = new Path(f)
        require(fs.rename(p, new Path(dest, p.getName)),
          s"adopt: rename of staged file $f into $dest failed")
      }
      Some(onDiskChild(spark, fs, root, name, rows, to))
    }.get
    if (c.skippedExisting) files.foreach(f => fs.delete(new Path(f), false))
    c
  }

  /** Batch-id → snapshot-id ledger as of the chain head `head` of `chain`
    * (main's `_manifests` or a branch dir) — the ONE copy of the
    * exactly-once machinery: only [[commitChild]] calls it, so every commit
    * (the batch-id writers, [[deleteKeys]], [[applyChanges]], [[merge]],
    * and the maintenance operations) inherits the same ledger.
    *
    * Legacy migration: a chain written before the ledger existed carries
    * per-snapshot batch_id but no cumulative ledger (no `batch_commits` key
    * at all — an EMPTY ledger is a real state, e.g. after [[truncate]], and
    * is never rebuilt). On such a head the ledger is reconstructed from the
    * retained manifests (exactly what the old full-chain replay scan read);
    * the child manifest, with or without a batch id, then carries it
    * forward, so this costs O(chain) at most once per table. Batch ids of
    * legacy snapshots that were ALREADY expired are unrecoverable (the old
    * format never persisted them cumulatively).
    */
  private def resolveLedger(fs: FileSystem, chain: Path, head: Head,
                            batchId: Option[String]): Seq[(String, Long)] = {
    batchId.foreach { b =>
      require(b.matches("[A-Za-z0-9._:-]+"),
        s"batch id '$b' must match [A-Za-z0-9._:-]+")
    }
    if (head.preLedger)
      head.ids.map(id => readManifestFile(fs, new Path(chain, manifestName(id))))
        .flatMap(m => m.batchId.map(_ -> m.snapshotId))
    else head.latest.map(_.batchCommits).getOrElse(Nil)
  }

  private def readDirs(spark: SparkSession, root: Path, dirs: Seq[String],
                       schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    require(dirs.nonEmpty, s"snapshot of $root has no data dirs")
    // Schema comes from the MANIFEST (schema-as-of-snapshot): data dirs
    // written before a column was added simply read it as null, no parquet
    // footer scan or mergeSchema pass is ever needed, and time travel sees
    // the schema the table had THEN. Pre-schema (legacy) manifests fall
    // back to footer inference.
    val reader = schema.map(spark.read.schema).getOrElse(spark.read)
    reader.parquet(dirs.map(n => new Path(dataDir(root), n).toString): _*)
  }

  /** Commit sequence a data dir was added at, recovered from its name —
    * every dir is named for its committing snapshot (`snap-NNNNNN`,
    * `snap-NNNNNN/_b=K`, `snap-NNNNNN-src`, branch appends
    * `br-<name>-NNNNNN`), so no per-dir metadata entry is needed.
    * Merge-on-read deletes compare against this: a delete at seq s applies
    * only to dirs with addSeq < s. Branch dirs number from the fork id + 1,
    * so deletes pending AT the fork provably never reach rows appended on
    * the branch — the same rule an ordinary append enjoys.
    */
  private val DirSeq = "snap-(\\d{6}).*".r
  // greedy prefix: the LAST -NNNNNN run is the sequence (branch names may
  // themselves contain digits or dashes)
  private val BrDirSeq = "br-.*-(\\d{6}).*".r
  private def addSeq(dirName: String): Long = dirName match {
    case DirSeq(n) => n.toLong
    case BrDirSeq(n) => n.toLong
    case _ => sys.error(s"cannot derive commit sequence from dir name '$dirName'")
  }

  /** Read `dirs` of snapshot `m` with its merge-on-read equality deletes
    * APPLIED: dirs are grouped by which delete files reach them (seq >
    * addSeq), each group anti-joins the union of its applicable delete
    * keys per key column. Delete-key frames ride a broadcast hint — MOR
    * deletes are delta-sized by design (a table-scale predicate belongs to
    * the copy-on-write [[delete]]). NULL-keyed rows never match a delete
    * key (SQL equality), same retention stance as the CoW range delete.
    */
  private def readMerged(spark: SparkSession, root: Path, m: Manifest,
                         dirs: Seq[String],
                         schemaOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val schema = schemaOverride.orElse(m.schema)
    if (dirs.isEmpty && schema.nonEmpty)
      // an EMPTY table state (a [[create]]d table before its first append,
      // or a truncate) still reads: zero rows with the stamped schema
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema.get)
    else if (m.deletes.isEmpty) readDirs(spark, root, dirs, schema)
    else {
      require(dirs.nonEmpty, s"snapshot of $root has no data dirs")
      val groups = dirs.groupBy(d => m.deletes.filter(_.seq > addSeq(d)))
      groups.toSeq.sortBy(_._2.head).map { case (applicable, ds) =>
        val base = readDirs(spark, root, ds, schema)
        applicable.groupBy(_.column).toSeq.sortBy(_._1)
          .foldLeft(base) { case (df, (c, files)) =>
            // delete files hold one column of the table key's (stable)
            // type — pass the schema so the read skips footer inference
            // (a per-action driver cost on every merged read; r6)
            val reader = schema.flatMap(s =>
                s.fields.find(_.name == c).map(f =>
                  spark.read.schema(org.apache.spark.sql.types.StructType(
                    Seq(f.copy(nullable = true))))))
              .getOrElse(spark.read)
            val keys = reader.parquet(
              files.map(f => new Path(dataDir(root), f.dir).toString): _*)
            df.join(broadcast(keys), Seq(c), "left_anti")
          }
      }.reduce(_ unionByName _)
    }
  }

  /** Evolved table schema: existing columns keep their types (a type
    * change fails loudly — this surface models Iceberg ADD COLUMN, not
    * type promotion), new columns append, everything nullable (old files
    * have no values for new columns).
    */
  private def mergeSchemas(parent: org.apache.spark.sql.types.StructType,
                           incoming: org.apache.spark.sql.types.StructType) = {
    val byName = parent.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { pf =>
        require(pf.dataType.catalogString == f.dataType.catalogString,
          s"schema evolution cannot change column '${f.name}' from " +
            s"${pf.dataType.catalogString} to ${f.dataType.catalogString}")
      }
    }
    org.apache.spark.sql.types.StructType(
      parent.fields.map(_.copy(nullable = true)) ++
        incoming.fields.filterNot(f => byName.contains(f.name)).map(_.copy(nullable = true)))
  }

  /** Comparison domain for manifest stats: integral → long, fractional →
    * double, string → string; anything else is unsupported (fail loudly —
    * stats on a non-comparable column would silently never prune).
    */
  private def statDomain(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case FloatType | DoubleType => "double"
      case StringType => "string"
      case other => sys.error(s"stats unsupported for column type ${other.catalogString}")
    }
  }

  // ---- one-pass commit metrics (optimization round 6) -------------------
  //
  // Every committing path used to re-read its just-written dir up to three
  // times: a footer row count, a min/max stats agg, and a bloom-sizing
  // count. At gate scale each of those is a fixed-latency Spark action
  // (~40 ms of job plus ~40 ms of driver-side planning, measured with a
  // job listener — pipe_snap_mirror ran 86 jobs, half of its wall in
  // inter-job driver gaps); at 100 TB they are extra full passes over
  // freshly written data. The write pass itself can compute the row count
  // and the min/max bounds via CollectMetrics (`Dataset.observe`) — the
  // SAME Spark aggregates over the SAME rows, so the recorded values are
  // identical, with zero extra jobs (guide §1.2 "remove passes", §2.4
  // "remove shuffles/actions outright"). Bloom sketches still need their
  // own narrow job (partial sketches are sized by the row count, which must
  // be known first), but they reuse the observed count instead of
  // re-counting.

  /** Write `df` to `dataPath` (overwrite) and return (rows, min/max
    * DirStats for `cols`) computed DURING the write job via observed
    * metrics. Matches [[computeStats]] exactly: same Spark min/max
    * aggregate semantics, absent or all-null columns yield no entry,
    * unsupported stat domains fail loudly before anything is written.
    */
  private def writeMeasured(df: DataFrame, dataPath: String, dirName: String,
                            cols: Seq[String],
                            extra: Seq[org.apache.spark.sql.Column] = Nil)
      : (Long, Seq[DirStat], Map[String, Any]) = {
    val present = statColumns(df.schema, cols)
    val obs = org.apache.spark.sql.Observation()
    val aggs = (count(lit(1)).as("_rows") +: present.zipWithIndex.flatMap {
      case ((c, _), i) => Seq(min(col(c)).as(s"_lo_$i"), max(col(c)).as(s"_hi_$i")) }) ++ extra
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(dataPath)
    val row = obs.get
    val stats = present.zipWithIndex.flatMap { case ((c, tpe), i) =>
      dirStat(dirName, c, tpe, row(s"_lo_$i"), row(s"_hi_$i"))
    }
    (row("_rows").asInstanceOf[Long], stats, row)
  }

  /** The `cols` that `schema` holds, each with its stats domain. A malformed
    * name or a non-comparable type fails here, before anything is written.
    */
  private def statColumns(schema: org.apache.spark.sql.types.StructType,
                          cols: Seq[String]): Seq[(String, String)] = {
    cols.foreach(c => require(c.matches("[A-Za-z0-9_.]+"),
      s"stats column name '$c' must match [A-Za-z0-9_.]+"))
    cols.filter(schema.fieldNames.contains).map(c => c -> statDomain(schema(c).dataType))
  }

  /** Stats entry of column `c` of dir `dirName` from its min/max; none when
    * the column holds no non-null value (absent stats never prune).
    */
  private def dirStat(dirName: String, c: String, tpe: String,
                      lo: Any, hi: Any): Option[DirStat] =
    for (l <- Option(lo); h <- Option(hi)) yield DirStat(dirName, c, tpe, l.toString, h.toString)

  /** Min/max bounds of `cols` over one just-written data dir — a single
    * narrow agg job over files that are already hot (at production scale
    * the writer's parquet footer stats carry the same numbers for free).
    * All-null/empty columns yield no entry (absent stats never prune).
    * Committing paths that still write through a plain `df.write` prefer
    * [[writeMeasured]] (no re-read); this remains for already-on-disk dirs
    * (staged publish, adopted streaming files, racing-append relabels).
    */
  private def computeStats(spark: SparkSession, dataPath: String, dirName: String,
                           cols: Seq[String]): Seq[DirStat] = {
    if (cols.isEmpty) return Nil
    val df = spark.read.parquet(dataPath)
    val present = statColumns(df.schema, cols)
    if (present.isEmpty) return Nil
    val aggs = present.flatMap { case (c, _) => Seq(min(col(c)), max(col(c))) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    present.zipWithIndex.flatMap { case ((c, tpe), i) =>
      dirStat(dirName, c, tpe, row.get(2 * i), row.get(2 * i + 1))
    }
  }

  // ---- per-dir Bloom sketches (point-lookup pruning) -------------------
  //
  // Min/max bounds cannot prune POINT lookups when every dir spans the full
  // key range (arrival-interleaved appends — the production norm). A per-dir
  // Bloom filter proves "key definitely absent" for such dirs. Sketches live
  // as SIDECAR files under `_manifests/bloom/` (the Iceberg puffin-file
  // trade: a 1%-fpp sketch is ~1.2 B/key, far too big to inline in the JSON
  // manifest at millions of keys/dir); the manifest's `blooms` list is the
  // authoritative record of which (dir, column) sketches exist. Readers load
  // only the sketches of live dirs for the probed column — driver-side
  // metadata, like planScan. A dir without a sketch is never bloom-pruned.

  private def bloomDir(root: Path) = new Path(manifestDir(root), "bloom")

  private def bloomFileName(dirName: String, column: String): String =
    s"${dirName.replace('/', '~')}.$column.bloom"

  private val BloomFpp = 0.01

  /** Build + persist sidecar sketches for `cols` over one just-written data
    * dir. One narrow job per dir: partial blooms per partition (identical
    * (expectedItems, fpp) so they merge), OR-merged driver-side — the same
    * shape Spark's own DataFrameStatFunctions.bloomFilter uses. Long and
    * string key domains; other types fail loudly (a sketch that can never
    * prune is a silent no-op). At production scale the writer's tasks would
    * emit these alongside the parquet footers for free.
    */
  private def computeBlooms(spark: SparkSession, fs: FileSystem, root: Path,
                            dataPath: String, dirName: String,
                            cols: Seq[String],
                            rowsHint: Long = -1L): Seq[(String, String)] = {
    if (cols.isEmpty) return Nil
    cols.foreach(c => require(c.matches("[A-Za-z0-9_.]+"),
      s"bloom column name '$c' must match [A-Za-z0-9_.]+"))
    val df = spark.read.parquet(dataPath)
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return Nil
    // a committing path that just wrote the dir passes its observed row
    // count; only already-on-disk dirs pay the (metadata-only) footer count
    val rows = math.max(if (rowsHint >= 0L) rowsHint else df.count(), 1L)
    present.flatMap { c =>
      buildBloom(df, c, rows).map { merged =>
        writeBloomSidecar(fs, root, dirName, c, merged)
        dirName -> c
      }
    }
  }

  /** Merged Bloom sketch of one column over `df` (one narrow job; partial
    * per-partition sketches OR-merged driver-side) — the build half of
    * [[computeBlooms]], separated so a racing append can build once and
    * re-write sidecars per rename attempt without re-running the job.
    * Returns None for a zero-partition frame (no sketch, never pruned).
    */
  private def buildBloom(df: DataFrame, c: String,
                         rows: Long): Option[org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.util.sketch.BloomFilter
    val tpe = statDomain(df.schema(c).dataType)
    require(tpe != "double",
      s"bloom sketches need an exact key domain; column '$c' is fractional")
    val partials: Array[Array[Byte]] = (tpe match {
      case "long" =>
        df.select(col(c).cast("long")).na.drop()
          .map(_.getLong(0))(org.apache.spark.sql.Encoders.scalaLong)
          .mapPartitions { it =>
            val bf = BloomFilter.create(rows, BloomFpp)
            it.foreach(bf.putLong)
            Iterator.single(serBloom(bf))
          }(org.apache.spark.sql.Encoders.BINARY)
      case _ =>
        df.select(col(c).cast("string")).na.drop()
          .map(_.getString(0))(org.apache.spark.sql.Encoders.STRING)
          .mapPartitions { it =>
            val bf = BloomFilter.create(rows, BloomFpp)
            it.foreach(bf.putString)
            Iterator.single(serBloom(bf))
          }(org.apache.spark.sql.Encoders.BINARY)
    }).collect()
    if (partials.isEmpty) None // zero-partition dir: no sketch, never pruned
    else Some(partials.map(b => BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(b))).reduce { (a, b) => a.mergeInPlace(b); a })
  }

  private def writeBloomSidecar(fs: FileSystem, root: Path, dirName: String,
                                c: String,
                                bf: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val p = new Path(bloomDir(root), bloomFileName(dirName, c))
    fs.mkdirs(bloomDir(root))
    val out = fs.create(p, true)
    try bf.writeTo(out) finally out.close()
  }

  private def serBloom(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos); bos.toByteArray
  }

  private def loadBloom(fs: FileSystem, root: Path, dirName: String,
                        column: String): org.apache.spark.util.sketch.BloomFilter = {
    val in = fs.open(new Path(bloomDir(root), bloomFileName(dirName, column)))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
  }

  /** Delete sidecar sketches not referenced by any retained manifest (expiry
    * / vacuum hygiene — sketch files follow their data dirs' lifecycle).
    */
  private def cleanBlooms(spark: SparkSession, fs: FileSystem, root: Path,
                          tableDir: String): Unit = {
    val bd = bloomDir(root)
    if (!fs.exists(bd)) return
    val referenced = (manifestIds(fs, root).map(manifest(spark, tableDir, _)) ++
      branchManifestsAll(fs, root))
      .flatMap(_.blooms)
      .map { case (d, c) => bloomFileName(d, c) }.toSet
    fs.listStatus(bd).map(_.getPath.getName).filterNot(referenced)
      .foreach(n => fs.delete(new Path(bd, n), false))
  }

  /** A one-column range predicate that both renders as a Catalyst filter
    * and binds against manifest stats for dir-level pruning — the minimal
    * honest slice of Iceberg's expression-to-bounds evaluation. `None`
    * bounds are open.
    */
  final case class KeyRange(column: String, lo: Option[Any] = None,
                            hi: Option[Any] = None) {
    def toColumn: org.apache.spark.sql.Column = {
      val c = col(column)
      (lo.map(v => c >= lit(v)).toSeq ++ hi.map(v => c <= lit(v)).toSeq)
        .reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  private def statIntersects(st: DirStat, r: KeyRange): Boolean = {
    def cmp(a: String, b: String): Int = st.tpe match {
      case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
      case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
      case _        => a.compareTo(b)
    }
    r.hi.forall(h => cmp(st.min, h.toString) <= 0) &&
      r.lo.forall(l => cmp(st.max, l.toString) >= 0)
  }

  /** Scan plan for `range` over snapshot `m`: (kept, pruned) data dirs.
    * A dir is pruned only when its manifest stats PROVE no row can match;
    * dirs without stats on the column are always kept. Pure driver-side
    * metadata — no file is listed or opened.
    */
  def planScan(m: Manifest, range: KeyRange): (Seq[String], Seq[String]) = {
    val byDir = m.stats.filter(_.column == range.column).map(s => s.dir -> s).toMap
    m.live.partition(d => byDir.get(d).forall(statIntersects(_, range)))
  }

  /** Pruned read: only stats-intersecting dirs are planned, then the exact
    * residual filter applies (and pushes down to parquet row groups within
    * the kept files). Result is identical to `read(...).filter(range)` —
    * stats only remove provably-empty IO.
    */
  def readWhere(spark: SparkSession, dir: String, range: KeyRange): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val m = latest(spark, dir)
    val (kept, _) = planScan(m, range)
    if (kept.isEmpty) readMerged(spark, root, m, m.live).limit(0)
    else readMerged(spark, root, m, kept).filter(range.toColumn)
  }

  /** Scan plan for a POINT lookup `column == value`: min/max bounds prune
    * first, then per-dir Bloom sketches prune dirs that provably lack the
    * key — the case bounds cannot touch when arrival-interleaved appends
    * make every dir span the full key range. A false positive only KEEPS a
    * dir (the residual filter stays exact); a dir without a sketch is never
    * bloom-pruned. Pure driver-side metadata: bounds from the manifest,
    * sketches from config-sized sidecar reads.
    */
  def planScanEq(spark: SparkSession, dir: String, m: Manifest,
                 column: String, value: Any): (Seq[String], Seq[String]) =
    planScanIn(spark, dir, m, column, Seq(value))

  /** The column's comparison domain for driver-side probe normalization:
    * the recorded stat domain when stats exist, else the stamped schema's
    * type. None = unknowable (legacy chain, unsupported type) — callers
    * must not prune at all.
    */
  private def probeDomain(m: Manifest, column: String): Option[String] =
    m.stats.find(_.column == column).map(_.tpe)
      .orElse(m.schema.flatMap(_.fields.find(_.name == column))
        .flatMap(f => scala.util.Try(statDomain(f.dataType)).toOption))

  /** Normalize a caller's probe value into the column's domain — the
    * domain the write side built stats AND Bloom sketches in (a Long
    * probed against a string-built sketch would false-negative, i.e.
    * prune unsafely). None = the value is null or cannot be represented
    * in the domain, so no stored row can equal it — it contributes no
    * kept dirs and no pruning.
    */
  private def normalizeProbe(domain: String, v: Any): Option[Any] = v match {
    case null => None
    case _ => domain match {
      case "long" => v match {
        case n: Long  => Some(n)
        case n: Int   => Some(n.toLong)
        case n: Short => Some(n.toLong)
        case n: Byte  => Some(n.toLong)
        case n: java.lang.Number => // whole-valued fractionals can match
          val d = n.doubleValue()
          if (d == math.floor(d) && !d.isInfinite) Some(n.longValue()) else None
        case s: String => scala.util.Try(s.trim.toLong).toOption
        case _ => None
      }
      case "double" => v match {
        case n: java.lang.Number => Some(n.doubleValue())
        case s: String => scala.util.Try(s.trim.toDouble).toOption
        case _ => None
      }
      case _ => Some(v.toString) // string domain: everything renders
    }
  }

  /** Scan plan for a KEY-SET lookup `column IN values` — the runtime
    * (dimension-driven) partition-pruning analogue for the native read
    * path: a dir survives only if AT LEAST ONE key intersects its
    * min/max bounds AND (when sketched) its Bloom sidecar might contain
    * that key. Driver-side metadata arithmetic — |dirs| × |keys| bound
    * probes + sidecar-sized Bloom reads — so `values` must be
    * config-sized (a filtered dimension's keys, not a fact column).
    * Probe values normalize into the column's recorded domain first
    * (stats and sketches were built in that domain — see
    * [[normalizeProbe]]); null and domain-unrepresentable values match
    * no stored row and drop out. A false positive only KEEPS a dir;
    * unsketched dirs are never Bloom-pruned; an unknowable domain
    * (legacy chain) disables pruning entirely — never prune unsafely.
    */
  def planScanIn(spark: SparkSession, dir: String, m: Manifest,
                 column: String, values: Seq[Any]): (Seq[String], Seq[String]) = {
    val (fs, root) = fsOf(spark, dir)
    probeDomain(m, column) match {
      case None => (m.live, Nil) // unknowable domain: keep everything
      case Some(domain) =>
        val normalized = values.flatMap(normalizeProbe(domain, _)).distinct
        val sketched = m.blooms.filter(_._2 == column).map(_._1).toSet
        val byDir = m.stats.filter(_.column == column).map(s => s.dir -> s).toMap
        val bloomCache =
          scala.collection.mutable.Map.empty[String, org.apache.spark.util.sketch.BloomFilter]
        def mightContain(d: String, v: Any): Boolean =
          !sketched(d) || {
            val bf = bloomCache.getOrElseUpdate(d, loadBloom(fs, root, d, column))
            (domain, v) match {
              case ("long", n: Long)     => bf.mightContainLong(n)
              case ("string", s: String) => bf.mightContainString(s)
              case _                     => true // double domain has no sketches
            }
          }
        m.live.partition { d =>
          normalized.exists { v =>
            byDir.get(d).forall(statIntersects(_, KeyRange(column, Some(v), Some(v)))) &&
              mightContain(d, v)
          }
        }
    }
  }

  /** Pruned point-lookup read: only dirs the bounds AND sketches keep are
    * planned, then the exact equality filter applies. Identical result to
    * `read(...).filter(col === value)`.
    */
  def readWhereEq(spark: SparkSession, dir: String, column: String, value: Any): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val m = latest(spark, dir)
    val (kept, _) = planScanEq(spark, dir, m, column, value)
    if (kept.isEmpty) readMerged(spark, root, m, m.live).limit(0)
    else readMerged(spark, root, m, kept).filter(col(column) === lit(value))
  }

  /** Pruned key-set read: only dirs [[planScanIn]] keeps are planned, then
    * the exact IN filter applies. Identical result to
    * `read(...).filter(col.isin(values))`.
    */
  def readWhereIn(spark: SparkSession, dir: String,
                  column: String, values: Seq[Any]): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val m = latest(spark, dir)
    val (kept, _) = planScanIn(spark, dir, m, column, values)
    if (kept.isEmpty) readMerged(spark, root, m, m.live).limit(0)
    else readMerged(spark, root, m, kept).filter(col(column).isin(values: _*))
  }

  /** STAR JOIN with runtime scan pruning (the dynamic-partition-pruning
    * shape for snapshot tables): join this table to a FILTERED DIMENSION
    * on `key`, reading only the data dirs that can contain a dimension
    * key. The dimension's distinct keys are collected driver-side
    * (bounded by `maxKeys` — fail loudly rather than silently degrade to
    * an unbounded collect), dirs prune via bounds + Bloom sidecars, then
    * the join itself broadcasts the dimension. At 100 TB this is the
    * "read three days out of three years" plan: the fact scan touches
    * only dirs the dimension's keys reach, decided from manifest
    * metadata before any fact IO happens.
    */
  def joinPruned(spark: SparkSession, dir: String, dim: DataFrame,
                 key: String, maxKeys: Int = 100000): DataFrame = {
    // null dim keys never match an equi-join — drop them BEFORE the
    // distinct/limit (advice r05: a null landing inside the limited sample
    // of an over-sized dimension made the non-null count equal maxKeys,
    // passing the guard on a TRUNCATED key set — silently dropping rows)
    val keys = dim.select(col(key)).where(col(key).isNotNull)
      .distinct().limit(maxKeys + 1)
      .collect().map(_.get(0)).toSeq
    require(keys.length <= maxKeys,
      s"joinPruned dimension has more than $maxKeys distinct '$key' keys — " +
        "not a config-sized dimension; join the full read instead")
    readWhereIn(spark, dir, key, keys)
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq(key))
  }

  /** Time-travel read: the table exactly as of snapshot `id`, planned from
    * that snapshot's manifest alone — later appends, compactions and (not
    * yet expired) history are invisible.
    */
  def asOf(spark: SparkSession, dir: String, id: Long): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val m = manifest(spark, dir, id)
    readMerged(spark, root, m, m.live)
  }

  /** Current table = latest snapshot. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val m = latest(spark, dir)
    readMerged(spark, root, m, m.live)
  }

  /** Commit lineage + metrics as a queryable DataFrame — the persisted
    * per-commit accumulator record the north star asks for ("per-partition
    * lineage + metric accumulators persisted"): one row per RETAINED
    * snapshot with its parent link, operation, batch id, and row counters.
    * Iceberg's `snapshots` metadata table analogue. Driver-side manifest
    * reads only — cost ∝ retained-chain length, never data size.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    manifestIds(fs, root).map(manifest(spark, dir, _)).map { m =>
      (m.snapshotId, m.parentId, m.operation, m.batchId,
        m.addedRows, m.totalRows, m.live.size, m.commitTimeMs)
    }.toDF("snapshot_id", "parent_id", "operation", "batch_id",
      "added_rows", "total_rows", "n_live_dirs", "commit_time_ms")
  }

  /** Live-file metadata as a queryable DataFrame — Iceberg's `files`
    * metadata table analogue: one row per (live data dir × stats column)
    * of the CURRENT snapshot, with the manifest min/max bounds and
    * whether a Bloom sidecar covers the column. Dirs with no stats
    * surface once with null column/bounds (they are never pruned).
    * Driver-side manifest read only — the scan-planning view a 100 TB
    * operator inspects to see WHY dirs were kept or pruned.
    */
  def files(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = latest(spark, dir)
    val statDirs = m.stats.map(_.dir).toSet
    val bloomKeys = m.blooms.toSet
    val liveSet = m.live.toSet
    val withStats = m.stats.filter(st => liveSet.contains(st.dir)).map(st =>
      (st.dir, Option(st.column), Option(st.tpe), Option(st.min), Option(st.max),
        bloomKeys.contains((st.dir, st.column))))
    val bare = m.live.filterNot(statDirs).map(d =>
      (d, None: Option[String], None: Option[String], None: Option[String],
        None: Option[String], false))
    (withStats ++ bare)
      .toDF("dir", "column", "tpe", "min", "max", "has_bloom")
  }

  /** Per-partition planning view — Iceberg's `partitions` metadata table
    * analogue: one row per (hidden-partition value × stats column) of the
    * CURRENT snapshot, with dir counts and the manifest bounds AGGREGATED
    * across that partition's live dirs. Dirs without a partition component
    * (plain appends, compaction output) surface under a null partition.
    * Driver-side manifest read only. Partition-spec EVOLUTION falls out of
    * the per-dir layout: dirs written under different transforms coexist,
    * each pruned by its own bounds — this view shows them side by side.
    */
  def partitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = latest(spark, dir)
    def partOf(d: String): Option[String] =
      d.split('/').find(_.startsWith("_p=")).map(_.stripPrefix("_p="))
    val statsByDir = m.stats.groupBy(_.dir)
    val groups = m.live.groupBy(partOf)
    groups.toSeq.flatMap { case (p, dirs) =>
      val sts = dirs.flatMap(d => statsByDir.getOrElse(d, Nil))
      if (sts.isEmpty) Seq((p, dirs.size, None: Option[String], None: Option[String],
        None: Option[String], None: Option[String]))
      else sts.groupBy(st => (st.column, st.tpe)).toSeq.map { case ((c, tpe), g) =>
        // bounds aggregate in the column's comparison domain, not lexically
        val (lo, hi) = tpe match {
          case "long" => (g.map(_.min.toLong).min.toString, g.map(_.max.toLong).max.toString)
          case "double" => (g.map(_.min.toDouble).min.toString, g.map(_.max.toDouble).max.toString)
          case _ => (g.map(_.min).min, g.map(_.max).max)
        }
        (p, dirs.size, Option(c), Option(tpe), Option(lo), Option(hi))
      }
    }.toDF("partition", "n_dirs", "column", "tpe", "min", "max")
  }

  /** Time travel by WALL-CLOCK time: the state of the table at `tsMs` =
    * the latest retained snapshot committed at or before it (Iceberg's
    * `FOR SYSTEM_TIME AS OF`). Fails loudly when every retained snapshot
    * is newer — same contract as an expired-id read. Commit times are
    * stamped by [[claimManifest]]; the scan is linear over retained
    * manifests (no monotonicity assumption — clock skew between commits
    * cannot mis-resolve, the max qualifying id wins).
    */
  def asOfTimestamp(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    asOf(spark, dir, idAsOfTimestamp(spark, dir, tsMs))

  /** Snapshot id the table had at wall-clock `tsMs` — the resolution half
    * of [[asOfTimestamp]], exposed for the SQL catalog's TIMESTAMP AS OF.
    */
  def idAsOfTimestamp(spark: SparkSession, dir: String, tsMs: Long): Long = {
    val (fs, root) = fsOf(spark, dir)
    val ms = manifestIds(fs, root).map(manifest(spark, dir, _))
    // legacy (pre-commit_time_ms) manifests decode as 0 — they must not
    // silently qualify for ANY timestamp, so only stamped manifests
    // resolve, and an all-legacy chain fails loudly
    val stamped = ms.filter(_.commitTimeMs > 0)
    require(stamped.nonEmpty,
      s"$dir has no commit timestamps (legacy chain, or no snapshot) — " +
        "wall-clock time travel needs at least one post-upgrade commit")
    val at = stamped.filter(_.commitTimeMs <= tsMs)
    require(at.nonEmpty,
      s"no retained snapshot of $dir at or before timestamp $tsMs " +
        s"(earliest stamped commit: ${stamped.map(_.commitTimeMs).min})")
    at.map(_.snapshotId).max
  }

  // ---- named refs (tags): pin snapshots against expiry, read by name ----

  private def refsDir(root: Path) = new Path(manifestDir(root), "refs")
  private val RefName = "[A-Za-z0-9._-]+".r

  /** Tag snapshot `id` with `name` — a named, immutable pointer (Iceberg
    * tag). Tagged snapshots are PINNED: [[expire]] keeps their manifest
    * and live dirs until the ref is dropped. Re-tagging an existing name
    * fails loudly (drop it first) — tags are audit points, not branches.
    */
  def tag(spark: SparkSession, dir: String, name: String, id: Long): Unit = {
    require(RefName.matches(name), s"bad ref name '$name' (use [A-Za-z0-9._-]+)")
    val (fs, root) = fsOf(spark, dir)
    manifest(spark, dir, id) // fails loudly on a never-committed/expired id
    val p = new Path(refsDir(root), name)
    require(!fs.exists(p), s"ref '$name' already exists on $dir (drop it first)")
    // claimed like a manifest: a truncated ref file would poison refs() —
    // and expire(), which reads refs() for the pin set — until hand-deleted
    require(publishIfAbsent(fs, refsDir(root), name, id.toString.getBytes("UTF-8")),
      s"concurrent tag detected for '$name' on $dir")
  }

  /** All refs on the table: name → snapshot id. */
  def refs(spark: SparkSession, dir: String): Map[String, Long] = {
    val (fs, root) = fsOf(spark, dir)
    val d = refsDir(root)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d)
      .filterNot(_.getPath.getName.startsWith(".")) // crash-leftover tmps
      .map { st =>
        val in = fs.open(st.getPath)
        val id = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
        st.getPath.getName -> id
      }.toMap
  }

  /** Drop a ref; its snapshot becomes expirable again. */
  def dropRef(spark: SparkSession, dir: String, name: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val p = new Path(refsDir(root), name)
    require(fs.exists(p), s"ref '$name' does not exist on $dir")
    fs.delete(p, false)
  }

  /** Read the table as of the named ref. */
  def asOfRef(spark: SparkSession, dir: String, name: String): DataFrame = {
    val id = refs(spark, dir).getOrElse(name,
      sys.error(s"ref '$name' does not exist on $dir"))
    asOf(spark, dir, id)
  }

  // ---- branches: writable named forks (the Iceberg branch-ref model) ----
  //
  // A branch is a SELF-CONTAINED manifest chain under
  // `_manifests/branches/<name>/`, seeded with a verbatim copy of the fork
  // snapshot's manifest. Because every manifest carries the table's full
  // state (live dirs, stats, blooms, pending deletes, batch ledger), branch
  // readers and writers never consult main's chain again — main may expire
  // the fork's history out from under a live branch without breaking it
  // (expire/vacuum treat branch-referenced dirs as pinned). Branch appends
  // write data dirs named `br-<name>-NNNNNN` numbered from the fork id + 1:
  // unique across branches, and their addSeq keeps the merge-on-read
  // sequence rule sound for deletes pending at the fork. Branch snapshot
  // ids continue the fork numbering, so a FAST-FORWARD publish is a
  // verbatim manifest copy into main — commit times, ledger, and lineage
  // survive exactly, and it only succeeds while main's head is still the
  // fork point (the Iceberg fast_forward ancestry requirement; anything
  // else fails loudly toward re-creating the branch from the new head).
  // Branches are append-only: MOR deletes / compaction / rollback stay
  // main-chain operations — an audit-and-promote workflow (the reason
  // branches exist) needs exactly ingest + read + publish.

  private def branchesDir(root: Path) = new Path(manifestDir(root), "branches")
  private def branchDir(root: Path, name: String) = new Path(branchesDir(root), name)

  private def branchHead(fs: FileSystem, bd: Path): Manifest =
    readHead(fs, bd).latest.getOrElse(
      sys.error(s"branch dir $bd holds no manifests (corrupt branch)"))

  /** Every manifest of every live branch — the pin set expire/vacuum/bloom
    * hygiene must honor (driver-side metadata reads only).
    */
  private def branchManifestsAll(fs: FileSystem, root: Path): Seq[Manifest] = {
    val bs = branchesDir(root)
    if (!fs.exists(bs)) Nil
    else fs.listStatus(bs).filter(_.isDirectory).toIndexedSeq.flatMap { st =>
      idsIn(fs, st.getPath).map(id =>
        readManifestFile(fs, new Path(st.getPath, manifestName(id))))
    }
  }

  /** Create branch `name` forked at snapshot `fromId`. Tags and branches
    * are separate namespaces (a tag is an immutable audit point; a branch
    * is a writable chain).
    */
  def createBranch(spark: SparkSession, dir: String, name: String, fromId: Long): Unit = {
    require(RefName.matches(name), s"bad branch name '$name' (use [A-Za-z0-9._-]+)")
    val (fs, root) = fsOf(spark, dir)
    val bd = branchDir(root, name)
    // a dir with no committed manifest is a crashed createBranch leftover
    // (tmp only) — re-creating over it is the recovery path
    require(!fs.exists(bd) || idsIn(fs, bd).isEmpty,
      s"branch '$name' already exists on $dir")
    val m = manifest(spark, dir, fromId) // fails loudly on never-committed/expired
    // verbatim copy (restamp=false): the fork entry is main's commit, not a
    // new one — its wall-clock stamp and lineage are preserved
    commitManifestTo(fs, bd, m, restamp = false)
  }

  /** Live branches: name → (fork snapshot id, branch head snapshot id). */
  def branches(spark: SparkSession, dir: String): Map[String, (Long, Long)] = {
    val (fs, root) = fsOf(spark, dir)
    val bs = branchesDir(root)
    if (!fs.exists(bs)) Map.empty
    else fs.listStatus(bs).filter(_.isDirectory)
      .map(st => st.getPath.getName -> idsIn(fs, st.getPath))
      .collect { case (n, ids) if ids.nonEmpty => n -> (ids.head, ids.last) }
      .toMap
  }

  /** Read the branch head (merge-on-read deletes pending at the fork apply,
    * branch-appended rows provably escape them — see [[addSeq]]).
    */
  def readBranch(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val bd = branchDir(root, name)
    require(fs.exists(bd), s"branch '$name' does not exist on $dir")
    val m = branchHead(fs, bd)
    readMerged(spark, root, m, m.live)
  }

  /** Head manifest of a branch — the SQL catalog's `VERSION AS OF
    * 'branch:<name>'` resolution (branch manifests are self-contained, so
    * the same planScan pruning and manifest-aggregate shortcuts apply to
    * branch reads as to main-chain reads).
    */
  def branchHeadManifest(spark: SparkSession, dir: String, name: String): Manifest = {
    val (fs, root) = fsOf(spark, dir)
    val bd = branchDir(root, name)
    require(fs.exists(bd), s"branch '$name' does not exist on $dir")
    branchHead(fs, bd)
  }

  /** Append to a branch — same contract as [[append]] (exactly-once batch
    * ledger, schema evolution, table-property stats/bloom columns), commits
    * on the branch chain only; main readers never see branch rows until
    * [[fastForward]].
    */
  def appendToBranch(spark: SparkSession, df: DataFrame, dir: String, name: String,
                     batchId: Option[String] = None,
                     statsBy: Seq[String] = Nil,
                     bloomBy: Seq[String] = Nil): Commit = {
    val (fs, root) = fsOf(spark, dir)
    val bd = branchDir(root, name)
    require(fs.exists(bd), s"branch '$name' does not exist on $dir")
    // the fork copy carries main's cumulative ledger, so the replay check
    // is one manifest read
    commitChild(spark, dir, "append", batchId, Some(df.schema), statsBy, bloomBy,
        branch = Some(bd)) { to =>
      Some(writeChild(spark, fs, root, df, f"br-$name-${to.next}%06d", to))
    }.get
  }

  /** Publish a branch onto main by FAST-FORWARD: every branch commit past
    * the fork is copied verbatim into main's chain (raw bytes — commit
    * times, ledger, lineage preserved), then the branch is dropped. Only
    * legal while main's head is still the fork point; a crashed
    * fast-forward resumes exactly (already-copied ids must be byte-equal —
    * a DIFFERENT manifest at the same id means main diverged and fails
    * loudly). Returns the new main head.
    */
  def fastForward(spark: SparkSession, dir: String, name: String): Commit = {
    val (fs, root) = fsOf(spark, dir)
    val bd = branchDir(root, name)
    require(fs.exists(bd), s"branch '$name' does not exist on $dir")
    val bids = idsIn(fs, bd)
    val forkId = bids.head
    val mainHead = manifestIds(fs, root).last
    def bytesOf(p: Path): Array[Byte] = {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
    // resume-from-crash is only legal when main's head IS this branch's
    // commit (byte-equal — an id match alone could be main's own append)
    val resumable = mainHead > forkId && bids.contains(mainHead) &&
      java.util.Arrays.equals(
        bytesOf(new Path(manifestDir(root), manifestName(mainHead))),
        bytesOf(new Path(bd, manifestName(mainHead))))
    require(mainHead == forkId || resumable,
      s"cannot fast-forward $dir to branch '$name': main head $mainHead is not " +
        s"the fork point $forkId — main diverged; re-create the branch from " +
        "the current head and re-apply its batches (their ids replay exactly-once)")
    bids.filter(_ > forkId).foreach { id =>
      val src = new Path(bd, manifestName(id))
      val dst = new Path(manifestDir(root), manifestName(id))
      val body = bytesOf(src)
      if (fs.exists(dst)) {
        // the resumable precondition pinned the head; every copied id below
        // it must match too (defense against manual surgery)
        require(java.util.Arrays.equals(bytesOf(dst), body),
          s"main snapshot $id differs from branch '$name' commit $id — " +
            "main diverged mid-fast-forward; resolve manually")
      } else {
        require(publishIfAbsent(fs, manifestDir(root), dst.getName, body),
          s"concurrent commit detected for snapshot $id of $root")
      }
    }
    fs.delete(bd, true)
    Commit(bids.last, skippedExisting = false)
  }

  /** Drop a branch without publishing. Its data dirs become orphans —
    * [[vacuum]] reaps them.
    */
  def dropBranch(spark: SparkSession, dir: String, name: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val bd = branchDir(root, name)
    require(fs.exists(bd), s"branch '$name' does not exist on $dir")
    fs.delete(bd, true)
  }

  // ---- write-audit-publish: staged commits (the Iceberg WAP pattern) ----
  //
  // An ingest job STAGES its batch: the data dir is written and described
  // by a staged manifest, but no snapshot references it — readers of the
  // table cannot see it. An AUDIT job reads table ∪ staged and runs its
  // quality gates. PUBLISH then commits the staged dir as the next
  // snapshot ON THE CURRENT HEAD (cherry-pick semantics: appends that
  // landed between stage and publish are kept), metadata-only except the
  // stats/bloom jobs over the one staged dir; DISCARD removes a failed
  // batch without ever having exposed it. Exactly-once carries through:
  // publishing a batch id the ledger already holds skips and cleans up.

  private def stageDirName(token: String) = s"stage-$token"
  private def stagedManifestPath(root: Path, token: String) =
    new Path(manifestDir(root), s"staged-$token.json")
  private val StagedName = "staged-([A-Za-z0-9._-]+)\\.json".r

  /** Stage `df` under `token` (unique per in-flight batch). The data is
    * written and durable, but invisible to every reader until
    * [[publishStaged]]. Fails loudly on a token already staged.
    */
  def stage(spark: SparkSession, df: DataFrame, dir: String, token: String,
            batchId: Option[String] = None): Unit = {
    require(token.matches("[A-Za-z0-9._-]+"),
      s"bad stage token '$token' (use [A-Za-z0-9._-]+)")
    batchId.foreach { b =>
      require(b.matches("[A-Za-z0-9._:-]+"),
        s"batch id '$b' must match [A-Za-z0-9._:-]+")
    }
    val (fs, root) = fsOf(spark, dir)
    val sm = stagedManifestPath(root, token)
    require(!fs.exists(sm), s"stage token '$token' already in flight on $dir")
    val dataPath = new Path(dataDir(root), stageDirName(token)).toString
    // an existing dir is an uncommitted crash leftover — overwrite recovers;
    // the row count rides the write job (observed metric, no re-read)
    val (rows, _, _) = writeMeasured(df, dataPath, stageDirName(token), Nil)
    val body = s"""{"token":${Json.quote(token)},""" +
      s""""batch_id":${batchId.map(Json.quote).getOrElse("null")},""" +
      s""""rows":$rows,""" +
      s""""schema_b64":${Json.quote(b64(df.schema.json))}}"""
    require(publishIfAbsent(fs, manifestDir(root), sm.getName, body.getBytes("UTF-8")),
      s"concurrent stage detected for '$token' on $dir")
  }

  /** Tokens of all in-flight staged batches. */
  def stagedTokens(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, root) = fsOf(spark, dir)
    val d = manifestDir(root)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).map(_.getPath.getName)
      .collect { case StagedName(t) => t }.sorted.toIndexedSeq
  }

  private case class Staged(token: String, batchId: Option[String], rows: Long,
                            schema: org.apache.spark.sql.types.StructType)

  private def stagedMeta(spark: SparkSession, dir: String, token: String): Staged = {
    val (fs, root) = fsOf(spark, dir)
    val p = stagedManifestPath(root, token)
    require(fs.exists(p), s"no staged batch '$token' on $dir " +
      s"(in flight: ${stagedTokens(spark, dir).mkString(",")})")
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def str(k: String) = s"""\"$k\":\"([^\"]*)\"""".r.findFirstMatchIn(s).map(_.group(1))
    val rows = "\"rows\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong)
      .getOrElse(sys.error(s"bad staged manifest: $s"))
    Staged(token, str("batch_id"), rows,
      org.apache.spark.sql.types.DataType.fromJson(unb64(str("schema_b64")
        .getOrElse(sys.error(s"bad staged manifest: $s"))))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Audit view: the table AS IF the staged batch were published — current
    * head ∪ staged rows (just the staged rows on a virgin table). Quality
    * gates run here; nothing is committed.
    */
  def auditStaged(spark: SparkSession, dir: String, token: String): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val st = stagedMeta(spark, dir, token)
    val staged = spark.read.schema(st.schema)
      .parquet(new Path(dataDir(root), stageDirName(token)).toString)
    readHead(fs, manifestDir(root)).latest match {
      case None => staged
      case Some(m) =>
        readMerged(spark, root, m, m.live).unionByName(staged, allowMissingColumns = true)
    }
  }

  /** Publish the staged batch as the next snapshot of the CURRENT head.
    * The data dir is renamed into the snapshot namespace (an atomic
    * driver-side metadata move on HDFS-like stores), stats/bloom sidecars
    * are computed for it under the table's existing properties, and the
    * manifest commits as an ordinary `append` — incremental consumers see
    * a published batch exactly like a direct one. A batch id already in
    * the ledger skips (exactly-once across the WAP path) and cleans up its
    * staging debris.
    */
  def publishStaged(spark: SparkSession, dir: String, token: String): Commit = {
    val (fs, root) = fsOf(spark, dir)
    val st = stagedMeta(spark, dir, token)
    val stagePath = new Path(dataDir(root), stageDirName(token))
    require(fs.exists(stagePath),
      s"staged batch '$token' on $dir has a manifest but no data dir — a " +
        "previous publish crashed between its rename and its commit; vacuum " +
        "the orphaned dir, drop the staged manifest, and re-stage the batch")
    val c = commitChild(spark, dir, "append", st.batchId, Some(st.schema)) { to =>
      val name = f"snap-${to.next}%06d"
      val dataPath = new Path(dataDir(root), name)
      // an existing dest is an UNCOMMITTED crash leftover (no manifest
      // references snapshot `next` yet) — deleting it is the recovery
      // path, and without this an HDFS-semantics rename would move the
      // stage dir INSIDE it and commit the orphan's rows
      if (fs.exists(dataPath)) fs.delete(dataPath, true)
      require(fs.rename(stagePath, dataPath),
        s"publish of '$token' on $dir could not move ${stagePath.getName} " +
          s"to ${dataPath.getName}")
      Some(onDiskChild(spark, fs, root, name, st.rows, to))
    }.get
    if (c.skippedExisting) discardStaged(spark, dir, token) // replayed batch: rows already present
    else fs.delete(stagedManifestPath(root, token), false)
    c
  }

  /** Drop a staged batch that failed its audit — nothing was ever visible.
    * The staged manifest goes first so a crash mid-discard leaves only an
    * orphan data dir (vacuum's bread and butter), never a manifest
    * pointing at missing data.
    */
  def discardStaged(spark: SparkSession, dir: String, token: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val p = stagedManifestPath(root, token)
    require(fs.exists(p), s"no staged batch '$token' on $dir")
    fs.delete(p, false)
    fs.delete(new Path(dataDir(root), stageDirName(token)), true)
  }

  private def appendedIn(spark: SparkSession, dir: String,
                         fromExclusive: Long, toInclusive: Long): Seq[Manifest] = {
    require(fromExclusive <= toInclusive,
      s"bad incremental range ($fromExclusive, $toInclusive]")
    val ms = ((fromExclusive + 1) to toInclusive)
      .map(manifest(spark, dir, _)) // fails loudly on an expired id in range
    // row-level delete/overwrite snapshots REMOVE rows — an insert-only
    // incremental/changelog read across one would be silently wrong, so it
    // fails loudly (the Iceberg "cannot do incremental scan on snapshot of
    // type overwrite" contract); read asOf the endpoint instead
    ms.find(x => x.operation == "delete" || x.operation == "overwrite" ||
        x.operation == "dynoverwrite" || x.operation == "rollback" ||
        x.operation == "mor-delete" ||
        x.operation == "mor-upsert" || x.operation == "update").foreach(x =>
      sys.error(s"incremental range ($fromExclusive, $toInclusive] crosses " +
        s"row-removing ${x.operation} snapshot ${x.snapshotId} — not insert-only; " +
        "use changelogCdc for row-level diffs"))
    ms.filter(_.operation == "append") // replace = same rows, not a change
  }

  /** Streaming-read planning (used by [[graft.sources.SnapshotStreamSource]]):
    * the parquet FILES appended in (from, to], with their lengths,
    * flat-listed from the range's `added` dirs — driver-side metadata + one
    * listing per new dir, cost ∝ delta. Same insert-only contract as
    * [[incremental]] (row-removing snapshots in range fail loudly). Files are
    * returned per committing snapshot so admission control can cut on commit
    * boundaries.
    */
  def incrementalFiles(spark: SparkSession, dir: String,
                       fromExclusive: Long, toInclusive: Long)
      : Seq[(Long, Seq[(String, Long)])] = {
    val (fs, root) = fsOf(spark, dir)
    def parquetFiles(p: Path): Seq[(String, Long)] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toIndexedSeq.flatMap { st =>
        if (st.isDirectory) parquetFiles(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath.toString -> st.getLen)
        else Nil
      }
    appendedIn(spark, dir, fromExclusive, toInclusive).map { m =>
      m.snapshotId -> m.added.flatMap(d => parquetFiles(new Path(dataDir(root), d)))
    }
  }

  /** The latest snapshot's stamped schema — the fixed schema a streaming
    * read plans with. Legacy (footer-inference) chains fail loudly: a
    * stream's schema must come from metadata, not from scanning files.
    */
  def latestSchema(spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType = {
    latest(spark, dir,
      " — streaming reads need one (or pass an explicit schema)").schema.getOrElse(
      sys.error(s"$dir is a legacy chain with no stamped schema — " +
        "append once post-upgrade, or pass an explicit schema"))
  }

  /** Incremental read: rows ADDED in snapshots (from, to] — only the new
    * data dirs are listed or scanned, so the cost scales with the delta,
    * not the table. `replace` snapshots (compaction) contribute nothing:
    * they rewrite files, not rows.
    */
  def incremental(spark: SparkSession, dir: String,
                  fromExclusive: Long, toInclusive: Long): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val dirs = appendedIn(spark, dir, fromExclusive, toInclusive).flatMap(_.added)
    if (dirs.isEmpty) asOf(spark, dir, toInclusive).limit(0)
    // rows surface with the range-END's schema: deltas written before a
    // column was added read it as null, like any other read as of `to`
    else readDirs(spark, root, dirs, manifest(spark, dir, toInclusive).schema)
  }

  /** Changelog read: incremental rows tagged with the `_snapshot_id` that
    * committed them (insert-only CDC over the snapshot chain).
    */
  def changelog(spark: SparkSession, dir: String,
                fromExclusive: Long, toInclusive: Long): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val toSchema = manifest(spark, dir, toInclusive).schema
    val parts = appendedIn(spark, dir, fromExclusive, toInclusive).map { m =>
      readDirs(spark, root, m.added, toSchema)
        .withColumn("_snapshot_id", lit(m.snapshotId))
    }
    parts.reduceOption(_ unionByName _).getOrElse(
      asOf(spark, dir, toInclusive).limit(0).withColumn("_snapshot_id", lit(-1L)))
  }

  /** Roll the table back to ancestor snapshot `toId` by committing a NEW
    * `rollback` snapshot whose state — live dir set, schema, stats,
    * blooms, row totals AND the batch ledger — mirrors `toId` exactly.
    * History stays append-only (the rolled-back-away snapshots remain
    * time-travelable until expired), like Iceberg's rollback_to_snapshot.
    * Restoring the LEDGER is the correctness-critical half: replay
    * detection must keep meaning "this batch's rows are present", so a
    * batch committed after `toId` becomes re-appendable (its rows are
    * gone) while the restored prefix keeps skipping replays. Metadata-only
    * commit — no data is read, moved, or rewritten; the restored dirs are
    * still on disk because every retained manifest pins its live set
    * (expire/vacuum only drop dirs no retained snapshot references).
    * Downstream note: [[SnapshotPipe]] is insert-driven, so a source
    * rollback makes dependent incremental reads fail loudly (like
    * delete/overwrite) — re-bootstrap the sinks.
    */
  def rollback(spark: SparkSession, dir: String, toId: Long): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "rollback", needsHead = true) { to =>
      val last = to.parent.get.snapshotId
      Option.when(toId != last) {
        require(toId < last,
          s"cannot roll $dir forward to $toId (latest is $last)")
        manifest(spark, dir, toId) // fails loudly if expired
        Child(restore = Some(readHead(fs, manifestDir(root), upTo = toId)))
      }
    }.get
  }

  /** Row-level CDC over ANY snapshot chain, including the row-removing
    * commits the insert-only [[changelog]] refuses: every NET row change
    * in `(fromExclusive, toInclusive]`, tagged `_change_type`
    * (`insert` | `delete`) and the `_snapshot_id` that committed it. The
    * diff is dir-local copy-on-write arithmetic — a commit's inserts are
    * `rows(live \ parentLive) exceptAll rows(parentLive \ live)` and its
    * deletes the reverse — so survivors rewritten into new files cancel
    * and the cost scales with the dirs the commit actually REWROTE
    * (bounded by manifest-stats pruning at write time), never with table
    * size. `replace` (compaction) is provably row-preserving and
    * contributes nothing. Net-change semantics: an upsert rewriting a row
    * to an identical value emits nothing; a changed row emits
    * delete(old) + insert(new) — the `create_changelog_view` analogue
    * without pre/post update images (the table carries no row ids to pair
    * them by). Rows surface with the range-end schema.
    */
  /** Both directions of a multiset diff from ONE tagged aggregation:
    * returns (a exceptAll r, r exceptAll a). The former exceptAll pair
    * evaluated each input subtree twice (once per direction) and ran two
    * whole-row aggregations; here one +1/-1-tagged count aggregation
    * feeds both directions, and because both outputs share the identical
    * aggregation exchange, exchange reuse executes the inputs once in the
    * final plan (r6). Same null-safe whole-row grouping semantics as
    * exceptAll; a net multiplicity n replicates via sequence() — CDC
    * diffs are delta-sized, and a single row duplicated millions of times
    * would be the place to swap back to exceptAll's streaming
    * ReplicateRows.
    */
  private def diffBoth(a: DataFrame, r: DataFrame): (DataFrame, DataFrame) = {
    val cols = a.columns.toSeq
    val cnt = "__cdc_cnt"
    require(!cols.contains(cnt), s"changelogCdc reserves the column name $cnt")
    val net = a.withColumn(cnt, lit(1L))
      .unionByName(r.select(cols.map(col): _*).withColumn(cnt, lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum(col(cnt)).as(cnt))
    def rep(side: DataFrame, n: org.apache.spark.sql.Column) = side
      .select(cols.map(col) :+ explode(sequence(lit(1L), n)).as("__cdc_i"): _*)
      .drop("__cdc_i")
    (rep(net.filter(col(cnt) > 0), col(cnt)),
     rep(net.filter(col(cnt) < 0), -col(cnt)))
  }

  def changelogCdc(spark: SparkSession, dir: String,
                   fromExclusive: Long, toInclusive: Long): DataFrame = {
    require(fromExclusive <= toInclusive,
      s"bad CDC range ($fromExclusive, $toInclusive]")
    val (_, root) = fsOf(spark, dir)
    val toSchema = manifest(spark, dir, toInclusive).schema
    def tag(df: DataFrame, id: Long, tpe: String) =
      df.withColumn("_snapshot_id", lit(id)).withColumn("_change_type", lit(tpe))
    val parts = ((fromExclusive + 1) to toInclusive).flatMap { id =>
      val m = manifest(spark, dir, id)
      if (m.operation == "replace") Nil // compaction: same rows, new files
      else if (m.operation == "rollback") {
        // the dir-diff shortcut is UNSOUND for rollback: it can change the
        // merge-on-read delete set without touching the live list
        // (resurrecting keys with zero dir movement), and the dirs it
        // restores keep their OLD addSeq — still reachable by carried
        // deletes, unlike every other commit's added dirs. Rollback is
        // rare and row-exactness is the spec property, so diff the two
        // full merged states.
        val p = manifest(spark, dir, m.parentId.get)
        val a = readMerged(spark, root, m, m.live, toSchema)
        val r = readMerged(spark, root, p, p.live, toSchema)
        val (ins, del) = diffBoth(a, r)
        Seq(tag(ins, id, "insert"), tag(del, id, "delete"))
      }
      else if (m.operation == "mor-delete" || m.operation == "mor-upsert") {
        // the delete file committed at this id names exactly the retracted
        // keys: the removed ROWS are the parent view's matches. Scan only
        // data dirs the delete-file key bounds (recorded in THIS commit's
        // stats) can touch, read them under the PARENT's merged view (a
        // key deleted twice emits only once), semi-join the keys. A
        // mor-upsert additionally inserted its data dir: net-change
        // exceptAll pairs the two sides so identical replacements cancel.
        val df = m.deletes.last
        require(df.seq == id, s"${m.operation} manifest $id names delete seq ${df.seq}")
        val p = manifest(spark, dir, m.parentId.get)
        val kept = m.stats.find(st => st.dir == df.dir && st.column == df.column) match {
          case Some(b) => planScan(p, KeyRange(df.column, Some(b.min), Some(b.max)))._1
          case None => p.live
        }
        def removedRows = {
          // explicit key schema: skips per-manifest footer inference (r6)
          val reader = toSchema.flatMap(s =>
              s.fields.find(_.name == df.column).map(f =>
                spark.read.schema(org.apache.spark.sql.types.StructType(
                  Seq(f.copy(nullable = true))))))
            .getOrElse(spark.read)
          val keys = reader.parquet(new Path(dataDir(root), df.dir).toString)
          readMerged(spark, root, p, kept, toSchema)
            .join(broadcast(keys), Seq(df.column), "left_semi")
        }
        if (m.operation == "mor-delete") {
          if (kept.isEmpty) Nil else Seq(tag(removedRows, id, "delete"))
        } else {
          val a = readDirs(spark, root, m.added, toSchema)
          if (kept.isEmpty) Seq(tag(a, id, "insert"))
          else {
            val (ins, del) = diffBoth(a, removedRows)
            Seq(tag(ins, id, "insert"), tag(del, id, "delete"))
          }
        }
      } else {
        val pm = m.parentId.map(p => manifest(spark, dir, p))
        val parentLive = pm.map(_.live).getOrElse(Nil)
        val addedDirs = m.live.filterNot(parentLive.toSet)
        val removedDirs = parentLive.filterNot(m.live.toSet)
        // added dirs carry this commit's addSeq — no delete file can reach
        // them; removed dirs read under the PARENT's merged view so rows a
        // pending MOR delete already removed are not re-reported
        def removedRead = readMerged(spark, root, pm.get, removedDirs, toSchema)
        (addedDirs.nonEmpty, removedDirs.nonEmpty) match {
          case (false, false) => Nil
          case (true, false) =>
            Seq(tag(readDirs(spark, root, addedDirs, toSchema), id, "insert"))
          case (false, true) =>
            Seq(tag(removedRead, id, "delete"))
          case (true, true) =>
            val (ins, del) =
              diffBoth(readDirs(spark, root, addedDirs, toSchema), removedRead)
            Seq(tag(ins, id, "insert"), tag(del, id, "delete"))
        }
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse(
      asOf(spark, dir, toInclusive).limit(0)
        .withColumn("_snapshot_id", lit(-1L))
        .withColumn("_change_type", lit("")))
  }

  /** Small-file compaction: rewrite the live file set into `targetFiles`
    * files committed as a `replace` snapshot — row set provably unchanged
    * (counted and required equal), invisible to time travel and changelogs,
    * and every later read plans over the compacted files. The ingest-side
    * answer to many-small-batch appends.
    *
    * `sortBy` additionally CLUSTERS the rewrite: range-partition on the
    * keys, sort within each bucket, and commit ONE DATA DIR PER RANGE
    * BUCKET — each with its own manifest min/max stats. Later point/range
    * predicates then prune whole dirs from the scan plan driver-side
    * (`planScan`/`readWhere`) before parquet footer skipping even starts —
    * the OPTIMIZE-with-sort + manifest-stats analogue, and the 100 TB
    * reason compaction exists at all (append order is arrival order, which
    * clusters nothing). The bucketed write is one job: the range exchange's
    * partition id becomes the write-partition column, and the explicit
    * `sortWithinPartitions(_b, keys)` already satisfies the writer's
    * required ordering on `_b`, so no second sort is inserted.
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1,
              sortBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil): Commit = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are mutually exclusive")
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      "zorderBy needs >= 2 columns (one column is just sortBy)")
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "replace", statsBy = sortBy ++ zorderBy, needsHead = true) { to =>
      val m = to.parent.get
      Option.when(m.live.size > targetFiles || sortBy.nonEmpty || zorderBy.nonEmpty ||
          m.deletes.nonEmpty) { // pending MOR deletes still need materializing
        val name = f"snap-${to.next}%06d"
        val dataPath = new Path(dataDir(root), name).toString
        // compaction MATERIALIZES merge-on-read deletes: the rewrite reads the
        // merged view, so the new files carry only surviving rows and the new
        // manifest's delete list is empty (totalRows re-trues to the net count)
        val base = readMerged(spark, root, m, m.live)
        if (sortBy.nonEmpty || zorderBy.nonEmpty)
          Seq("_b", "_z").foreach(c => require(!base.columns.contains(c),
            s"clustered compaction reserves the column name '$c'"))
        // the rewritten row count is observed during the write itself — the
        // former post-write footer count job (and, for pending-MOR-delete
        // materialization, a whole extra pre-pass over the merged view) is gone
        val (dirs, stats, rows, rowsByDir) =
          if (sortBy.isEmpty && zorderBy.isEmpty) {
            val (n, st, _) = writeMeasured(base.coalesce(targetFiles), dataPath,
              name, to.statsCols)
            (Seq(name), st, n, Map(name -> n))
          } else {
            val keyed = if (zorderBy.isEmpty) base
              else base.withColumn("_z", zValue(base, zorderBy))
            val rangeCols = if (zorderBy.isEmpty) sortBy.map(col) else Seq(col("_z"))
            // observe ABOVE the range exchange, BELOW the final sort: the range
            // partitioner SAMPLES its child to pick boundaries, so a metric
            // below the exchange double-counts; one above the sort could hide
            // the ordering from the writer and reinsert a sort
            val obs = org.apache.spark.sql.Observation()
            keyed.repartitionByRange(targetFiles, rangeCols: _*)
              .observe(obs, count(lit(1)).as("_rows"))
              .withColumn("_b", spark_partition_id())
              .sortWithinPartitions(col("_b") +: rangeCols: _*)
              .drop("_z")
              .write.mode("overwrite").partitionBy("_b").parquet(dataPath)
            val buckets = fs.listStatus(new Path(dataPath)).filter(_.isDirectory)
              .map(_.getPath.getName).filter(_.startsWith("_b=")).sorted.toIndexedSeq
            val (st, counts) = bucketStats(spark, dataPath, name, to.statsCols)
            (buckets.map(b => s"$name/$b"), st,
              obs.get("_rows").asInstanceOf[Long], counts)
          }
        if (m.deletes.isEmpty)
          require(rows == m.totalRows,
            s"compaction row mismatch: rewrote $rows rows, expected ${m.totalRows}")
        // rebuild sidecar sketches per rewritten dir (clustered: one per bucket)
        val blooms = dirs.flatMap(d => computeBlooms(spark, fs, root,
          new Path(dataDir(root), d).toString, d, to.bloomCols,
          rowsHint = rowsByDir.getOrElse(d, -1L)))
        // every dir is rewritten: nothing of the parent's file state survives
        Child(dirs, rows, stats, blooms, rewrittenAround(m, keep = Nil), m.totalRows,
          edit = _.copy(addedRows = 0L, deletes = Nil))
      }
    }.get
  }

  /** BINPACK (partial) compaction — Iceberg `rewrite_data_files`' small-file
    * strategy: rewrite ONLY the live dirs whose on-disk size is under
    * `maxBytes` into one new dir, leaving every big dir untouched. This is
    * the maintenance pass a streaming sink needs: one-dir-per-epoch ingest
    * accretes thousands of tiny dirs, and [[compact]] would rewrite the
    * whole 100 TB table to fix a few GB of smalls — here the rewrite cost
    * is ∝ the smalls alone (size probe = driver-side listing, O(live dirs)).
    *
    * Merge-on-read deletes are MATERIALIZED for the rewritten dirs (the
    * rewrite reads their merged view, exactly the deletes with
    * seq > addSeq(dir)); untouched dirs keep their pending deletes, and a
    * delete file no remaining dir can reach is dropped from the manifest
    * (the file itself stays for older snapshots until expiry). Committed as
    * `replace` — same logical rows, so incremental/streaming reads pass
    * through silently. Skips (no commit) when fewer than `minInputDirs`
    * dirs qualify.
    */
  def compactSmall(spark: SparkSession, dir: String, maxBytes: Long,
                   minInputDirs: Int = 2, targetFiles: Int = 1): Commit = {
    require(maxBytes > 0L && minInputDirs >= 2,
      "compactSmall needs maxBytes > 0 and minInputDirs >= 2 " +
        "(rewriting a single dir into itself is churn, not compaction)")
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "replace", needsHead = true) { to =>
      val m = to.parent.get
      val small = m.live.filter(d =>
        fs.getContentSummary(new Path(dataDir(root), d)).getLength < maxBytes)
      Option.when(small.size >= minInputDirs) {
        val name = f"snap-${to.next}%06d"
        val dataPath = new Path(dataDir(root), name).toString
        // merged view of the smalls: their applicable pending deletes
        // materialize into the rewrite (and only theirs)
        val base = readMerged(spark, root, m, small)
        // rewritten count + stats bounds observed during the write job
        val (rows, newStats, _) = writeMeasured(base.coalesce(targetFiles),
          dataPath, name, to.statsCols)
        val raw = readDirs(spark, root, small, m.schema).count()
        val remaining = m.live.filterNot(small.contains)
        // a delete no remaining OLD dir can reach is dropped from the working
        // set (the new dir's addSeq is newer than every delete seq); the file
        // stays on disk for older snapshots' readers until expiry
        val keepDeletes = m.deletes.filter(df => remaining.exists(d => df.seq > addSeq(d)))
        Child(Seq(name), rows, newStats,
          computeBlooms(spark, fs, root, dataPath, name, to.bloomCols, rowsHint = rows),
          replaced = small, replacedRows = raw,
          edit = _.copy(addedRows = 0L, deletes = keepDeletes))
      }
    }.get
  }

  /** Z-VALUE of `cols` (2+ numeric columns): each column is mapped to a
    * 4-bit empirical-quantile bucket (boundaries from ONE driver-side
    * `approxQuantile` pass — the same sample-then-assign trade Spark's own
    * RangePartitioner makes), and the bucket bits are interleaved
    * round-robin into one integer. Range-partitioning on that integer
    * clusters the rewrite in EVERY keyed dimension at once, so per-dir
    * manifest stats stay tight on all of them — the OPTIMIZE ZORDER
    * analogue, where a plain sort clusters only its leading column. Pure
    * column arithmetic (when-chain + shifts), fully codegen'd; NULLs land
    * in bucket 0.
    */
  private def zValue(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.NumericType
    cols.foreach(c => require(df.schema(c).dataType.isInstanceOf[NumericType],
      s"zorderBy column '$c' must be numeric (is ${df.schema(c).dataType.catalogString})"))
    val bits = 4
    val nb = (1 << bits) - 1 // 15 boundaries -> 16 buckets per column
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    val bounds = df.stat.approxQuantile(cols.toArray, probs, 0.01)
    val buckets = cols.zip(bounds).map { case (c, bs) =>
      if (bs.isEmpty) lit(0) // all-null column: one bucket
      else {
        val head = when(col(c).isNull || col(c) <= lit(bs(0)), lit(0))
        bs.toIndexedSeq.tail.zipWithIndex.foldLeft(head) { case (acc, (b, i)) =>
          acc.when(col(c) <= lit(b), lit(i + 1))
        }.otherwise(lit(bs.length))
      }
    }
    val k = cols.size
    (0 until bits).flatMap { i =>
      buckets.zipWithIndex.map { case (bc, ci) =>
        shiftleft(shiftright(bc, i).bitwiseAND(lit(1)), i * k + (k - 1 - ci))
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Per-partition-dir stats of a clustered/partitioned write in ONE
    * grouped job (the write-partition column reads back from the dir
    * names).
    */
  private def bucketStats(spark: SparkSession, dataPath: String, name: String,
                          cols: Seq[String], partCol: String = "_b")
      : (Seq[DirStat], Map[String, Long]) = {
    cols.foreach(c => require(c.matches("[A-Za-z0-9_.]+"),
      s"stats column name '$c' must match [A-Za-z0-9_.]+"))
    val df = spark.read.parquet(dataPath)
    val present = cols.filter(df.columns.contains)
    val domains = present.map(c => c -> statDomain(df.schema(c).dataType)).toMap
    // per-dir row counts ride the same grouped pass (they size the Bloom
    // sidecar rebuilds, which previously re-counted each dir)
    val aggs = count(lit(1)) +: present.flatMap(c => Seq(min(col(c)), max(col(c))))
    val rows = df.groupBy(partCol).agg(aggs.head, aggs.tail: _*).collect().toIndexedSeq
    val stats = rows.flatMap { row =>
      val d = s"$name/$partCol=${row.get(0)}"
      present.zipWithIndex.flatMap { case (c, i) =>
        (Option(row.get(2 * i + 2)), Option(row.get(2 * i + 3))) match {
          case (Some(lo), Some(hi)) =>
            Some(DirStat(d, c, domains(c), lo.toString, hi.toString))
          case _ => None
        }
      }
    }
    val counts = rows.map(r =>
      s"$name/$partCol=${r.get(0)}" -> r.getLong(1)).toMap
    (stats, counts)
  }

  /** Row-level DELETE, copy-on-write: rows where `range` matches are
    * removed. Only data dirs whose manifest stats INTERSECT the range are
    * read and rewritten (into one consolidated dir); provably-unaffected
    * dirs are carried into the new snapshot untouched — at 100 TB a delete
    * of one doc-id band rewrites that band's dirs, not the table. Rows
    * where the range column is NULL never match (SQL predicate semantics)
    * and are retained. Committed as operation `delete`; incremental/
    * changelog reads across it fail loudly (not insert-only).
    */
  def delete(spark: SparkSession, dir: String, range: KeyRange,
             exact: Option[org.apache.spark.sql.Column] = None): Commit =
    deleteRows(spark, dir, exact.getOrElse(range.toColumn), m => Some(planScan(m, range)._1))

  /** Row-level DELETE by an ARBITRARY predicate, copy-on-write — the
    * [[delete]] generalization the SQL DML rule lowers `DELETE FROM ...
    * WHERE <anything>` onto: rows where `cond` IS TRUE are removed (NULL
    * conditions retain, SQL semantics). `affectedHint` is a provably-sound
    * superset of the dirs holding matching rows (manifest-stats/Bloom
    * pruning — [[graft.sources.SnapshotPrune]] derives it from the
    * predicate's conjuncts; None = all live dirs); only those dirs are
    * read and rewritten, untouched dirs carry over with their stats,
    * Blooms, and pending MOR deletes intact.
    */
  def deleteWhere(spark: SparkSession, dir: String,
                  cond: org.apache.spark.sql.Column,
                  affectedHint: Option[Seq[String]] = None): Commit =
    deleteRows(spark, dir, cond, _ => affectedHint)

  /** [[delete]] / [[deleteWhere]] against the head `m`, with `hint(m)` the
    * affected-dir superset. The predicate may be SHARPER than the hint's
    * pruning hull (SQL strict bounds: DELETE WHERE k > 5 prunes on the hull
    * k >= 5 but must remove only k > 5) — the caller guarantees every
    * matching row is hint-contained, which pruning soundness requires.
    */
  private def deleteRows(spark: SparkSession, dir: String,
                         cond: org.apache.spark.sql.Column,
                         hint: Manifest => Option[Seq[String]]): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "delete", needsHead = true) { to =>
      val m = to.parent.get
      require(m.schema.nonEmpty,
        s"row-level delete requires a schema-stamped table (legacy chain at $dir)")
      val affected = hint(m).getOrElse(m.live)
      require(affected.forall(m.live.contains),
        s"delete hint names dirs outside the live set of $dir@${m.snapshotId}")
      // keep rows where the predicate is NOT TRUE (null-safe: null keys stay)
      Option.when(affected.nonEmpty)(rewriteChild(spark, fs, root, to, affected)(
        _.filter(!coalesce(cond, lit(false)))))
    }.get
  }

  /** Every dir `m` records — its live dirs and the dirs its stats and
    * sketches name (a delete file's key bounds among them) — except `keep`.
    * A copy-on-write rewrite replaces exactly these: only the dirs it left
    * untouched keep their entries.
    */
  private def rewrittenAround(m: Manifest, keep: Seq[String]): Seq[String] =
    (m.live ++ m.stats.map(_.dir) ++ m.blooms.map(_._1)).distinct.filterNot(keep.toSet)

  /** Child of a copy-on-write rewrite of the head's `affected` dirs into
    * one dir `snap-N`: `rewrite` maps their MERGED view (pending MOR
    * deletes applicable to them materialize, never resurrect) to the rows
    * that stay. Count and stats bounds ride the write job. Untouched dirs
    * carry over with their stats, Blooms and pending MOR deletes (their old
    * addSeq; the rewritten dir's newer addSeq provably escapes them). An
    * empty rewrite commits no dir unless nothing else stays live. A rewrite
    * adds no rows.
    */
  private def rewriteChild(spark: SparkSession, fs: FileSystem, root: Path, to: ChildOf,
                           affected: Seq[String])(rewrite: DataFrame => DataFrame): Child = {
    val m = to.parent.get
    val untouched = m.live.filterNot(affected.toSet)
    val name = f"snap-${to.next}%06d"
    val dataPath = new Path(dataDir(root), name).toString
    val (keptRows, keptStats, _) = writeMeasured(
      rewrite(readMerged(spark, root, m, affected)), dataPath, name, to.statsCols)
    val untouchedRows =
      if (untouched.isEmpty) 0L
      else readDirs(spark, root, untouched, m.schema).count() // metadata-only
    val kept = keptRows > 0
    Child(added = if (kept || untouched.isEmpty) Seq(name) else Nil, rows = keptRows,
      stats = if (kept) keptStats else Nil,
      blooms = if (kept)
        computeBlooms(spark, fs, root, dataPath, name, to.bloomCols, rowsHint = keptRows)
      else Nil,
      replaced = rewrittenAround(m, untouched), replacedRows = m.totalRows - untouchedRows,
      edit = _.copy(addedRows = 0L))
  }

  /** Row-level UPDATE, copy-on-write: rows where `cond` IS TRUE get the
    * `assigns` expressions applied (other columns and non-matching rows —
    * including NULL-condition rows, SQL semantics — pass through verbatim).
    * Only `affected` dirs are read and rewritten (into one consolidated
    * dir); the caller passes a PROVABLY-SOUND superset of the dirs holding
    * matching rows (manifest-stats pruning — [[graft.sources.SnapshotDmlRule]]
    * derives it from the WHERE clause's conjuncts; None = all live dirs).
    * Pending merge-on-read deletes on the affected dirs are materialized by
    * the rewrite (never resurrected); untouched dirs keep theirs. Committed
    * as operation `update` — row-removing for incremental purposes (an
    * updated row's old image disappears), so insert-only incremental/
    * changelog reads across it fail loudly; [[changelogCdc]]'s dir-diff
    * recovers exactly delete(old)+insert(new) for the changed rows.
    */
  def update(spark: SparkSession, dir: String,
             cond: org.apache.spark.sql.Column,
             assigns: Map[String, org.apache.spark.sql.Column],
             affectedHint: Option[Seq[String]] = None): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "update", needsHead = true) { to =>
      val m = to.parent.get
      require(m.schema.nonEmpty,
        s"row-level update requires a schema-stamped table (legacy chain at $dir)")
      val schema = m.schema.get
      require(assigns.nonEmpty, "update with no assignments is a no-op")
      assigns.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"update assignment targets unknown column '$c'"))
      val affected = affectedHint.getOrElse(m.live)
      require(affected.forall(m.live.contains),
        s"update hint names dirs outside the live set of $dir@${m.snapshotId}")
      val hit = coalesce(cond, lit(false))
      Option.when(affected.nonEmpty)(rewriteChild(spark, fs, root, to, affected)(
        _.select(schema.fieldNames.map(f => assigns.get(f)
          .map(a => when(hit, a.cast(schema(f).dataType)).otherwise(col(f)).as(f))
          .getOrElse(col(f))).toIndexedSeq: _*)))
    }.get
  }

  /** Row-level DELETE, merge-on-read (Iceberg v2 equality deletes): the
    * distinct non-null `key` values of `keys` are written as a small
    * DELETE FILE and committed as a `mor-delete` snapshot — NO data dir is
    * read or rewritten, so deleting k rows from a 100 TB table costs O(k)
    * regardless of table size (the copy-on-write [[delete]] rewrites every
    * stats-intersecting dir; use it for table-scale predicates, this for
    * point/delta deletes — GDPR erasure, dedup verdicts, retractions).
    * Readers anti-join the delete keys against data dirs OLDER than the
    * delete (sequence rule: a same-key row appended later survives);
    * [[compact]] materializes and clears. Zero-key deletes skip. Like the
    * CoW paths, incremental/changelog reads across it fail loudly (not
    * insert-only) — use [[changelogCdc]], which recovers exactly the rows
    * the delete removed.
    */
  def deleteKeys(spark: SparkSession, dir: String, keys: DataFrame, key: String,
                 batchId: Option[String] = None): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "mor-delete", batchId, needsHead = true) { to =>
      val m = to.parent.get
      require(m.schema.nonEmpty,
        s"merge-on-read delete requires a schema-stamped table (legacy chain at $dir)")
      require(key.matches("[A-Za-z0-9_.]+"),
        s"delete key column name '$key' must match [A-Za-z0-9_.]+")
      val schema = m.schema.get
      require(schema.fieldNames.contains(key), s"table at $dir has no column '$key'")
      val name = f"snap-${to.next}%06d-del"
      val delPath = new Path(dataDir(root), name).toString
      // key bounds of the delete file ride in the commit's manifest stats
      // (keyed by the delete dir's name): changelogCdc prunes which data dirs
      // it scans to recover the removed rows. Unsupported key domains just
      // skip the entry — absent stats never prune. Count + bounds are
      // observed during the write (one job for all three).
      val delCols =
        if (scala.util.Try(statDomain(schema(key).dataType)).isSuccess) Seq(key) else Nil
      val (n, delStats, _) = writeMeasured(
        keys.select(col(key).cast(schema(key).dataType)).na.drop().distinct(),
        delPath, name, delCols)
      if (n == 0L) fs.delete(new Path(delPath), true)
      Option.when(n > 0L)(Child(stats = delStats,
        edit = c => c.copy(deletes = c.deletes :+ DeleteFile(name, key, to.next))))
    }.get
  }

  /** Row-level MERGE (upsert), merge-on-read: ONE commit writes the source
    * rows as a new data dir AND their keys as a delete file — O(delta) at
    * any table size, even when the keys stride every data dir (the
    * copy-on-write [[upsert]]'s worst case, where it rewrites the whole
    * table). The new dir's addSeq EQUALS the delete's seq and the sequence
    * rule is strict (seq > addSeq), so the retraction provably never
    * reaches the replacement rows it rides with — replace and insert
    * commit atomically. Source keys must be unique and non-null (same
    * contract as [[upsert]]); new source columns evolve the schema;
    * [[compact]] materializes. Committed as `mor-upsert` — not
    * insert-only, so incremental/changelog reads across it fail loudly;
    * [[changelogCdc]] recovers net delete(old)/insert(new) pairs, and a
    * row replaced by an identical copy emits nothing.
    */
  def upsertKeys(spark: SparkSession, dir: String, source: DataFrame, key: String,
                 batchId: Option[String] = None): Commit =
    applyChanges(spark, dir, source, None, key, batchId)

  /** Atomic row-level CHANGE application, merge-on-read: ONE commit that
    * retracts `extraDeleteKeys` (when given) AND upserts `ups` — the write
    * half of a CDC consumer ([[SnapshotPipe.runCdc]]): a chunk's net
    * deletes and net upserts land together or not at all, under an
    * optional exactly-once `batchId`. The single delete file carries the
    * union of the upserted rows' keys and the extra keys; same sequence
    * rule, pruning stats, and compaction/CDC behavior as
    * [[deleteKeys]]/[[upsertKeys]]. With an empty `ups`, commits a pure
    * `mor-delete`; with both sides empty, skips.
    */
  def applyChanges(spark: SparkSession, dir: String, ups: DataFrame,
                   extraDeleteKeys: Option[DataFrame], key: String,
                   batchId: Option[String] = None): Commit =
    commitChild(spark, dir, "mor-upsert", batchId, needsHead = true) { to =>
      changesChild(spark, dir, to, ups, extraDeleteKeys, key)
    }.get

  /** Child of [[applyChanges]] on the head: the upserted rows as a new data
    * dir plus one delete file of their keys ∪ `extraDeleteKeys`. The
    * upserted rows evolve the schema. None when both sides are empty.
    */
  private def changesChild(spark: SparkSession, dir: String, to: ChildOf, ups: DataFrame,
                           extraDeleteKeys: Option[DataFrame], key: String): Option[Child] = {
    val (fs, root) = fsOf(spark, dir)
    val m = to.parent.get
    require(m.schema.nonEmpty,
      s"merge-on-read upsert requires a schema-stamped table (legacy chain at $dir)")
    require(key.matches("[A-Za-z0-9_.]+"),
      s"upsert key column name '$key' must match [A-Za-z0-9_.]+")
    val name = f"snap-${to.next}%06d"
    val dataPath = new Path(dataDir(root), name).toString
    // ONE pass writes the delta and observes: row count, non-null key count
    // (null validation) and the table's stats bounds for the new dir —
    // the former write + validation agg + stats agg trio.
    val (srcRows, upsStats, upsObs) = writeMeasured(ups, dataPath, name,
      to.statsCols, extra = Seq(count(col(key)).as("_nkey")))
    if (srcRows > 0L)
      require(upsObs("_nkey").asInstanceOf[Long] == srcRows,
        s"upsert source has null '$key' keys")
    val src = spark.read.schema(ups.schema).parquet(dataPath)
    val schemaNow = mergeSchemas(m.schema.get, ups.schema)
    val delName = s"$name-del"
    val delPath = new Path(dataDir(root), delName).toString
    val keyCol = col(key).cast(schemaNow(key).dataType)
    // the delete file is the distinct source-key set (∪ extra retraction
    // keys); the observed count of the distinct SOURCE keys doubles as the
    // key-uniqueness validation — srcRows unique non-null keys iff it
    // equals srcRows — so the former count_distinct agg job rides the
    // delete-file write instead.
    val srcKeyObs = org.apache.spark.sql.Observation()
    val srcKeys = src.select(keyCol).na.drop().distinct()
      .observe(srcKeyObs, count(lit(1)).as("_n"))
    val delFrame = extraDeleteKeys.map(x =>
        srcKeys.unionByName(x.select(keyCol)).na.drop().distinct())
      .getOrElse(srcKeys)
    val delCols =
      if (scala.util.Try(statDomain(schemaNow(key).dataType)).isSuccess) Seq(key) else Nil
    // key bounds of the delete file for changelogCdc pruning (see deleteKeys)
    val (nDel, delStats, _) = writeMeasured(delFrame, delPath, delName, delCols)
    if (srcRows > 0L) {
      val distinctKeys = srcKeyObs.get("_n").asInstanceOf[Long]
      require(distinctKeys == srcRows,
        s"upsert source has duplicate '$key' keys ($distinctKeys distinct of $srcRows)")
    }
    val upserted = srcRows > 0L
    if (!upserted) fs.delete(new Path(dataPath), true)
    if (!upserted && nDel == 0L) { fs.delete(new Path(delPath), true); None }
    else Some(Child(if (upserted) Seq(name) else Nil, srcRows,
      (if (upserted) upsStats else Nil) ++ delStats,
      if (upserted)
        computeBlooms(spark, fs, root, dataPath, name, to.bloomCols, rowsHint = srcRows)
      else Nil,
      edit = c => c.copy(operation = if (upserted) "mor-upsert" else "mor-delete",
        schemaJson = Some(schemaNow.json),
        deletes = c.deletes :+ DeleteFile(delName, key, to.next))))
  }

  /** Per-clause row counts of a [[merge]], plus its commit. */
  final case class MergeStats(commit: Commit, updated: Long, deleted: Long,
                              inserted: Long)

  /** MERGE INTO (the Delta/Iceberg `MERGE` statement re-expressed as a
    * library call), merge-on-read: join `source` onto the table by `key`
    * and apply, in ONE atomic commit,
    *
    *   - WHEN MATCHED AND `deleteIf`  THEN DELETE
    *   - WHEN MATCHED AND `updateIf`  THEN UPDATE SET `update` assignments
    *     (delete wins when both conditions hold; `update = Some(Map.empty)`
    *     means replace the whole row with the source row; `None` = no
    *     update clause)
    *   - WHEN NOT MATCHED AND `insertIf` THEN INSERT (`insert = false`
    *     drops the clause; in assignment mode the insert takes the TABLE's
    *     columns from the source — absent ones null, extra source columns
    *     are assignment inputs only; in replace mode whole source rows
    *     insert and new columns evolve the schema)
    *
    * Conditions and assignment expressions see two struct columns: `tgt`
    * (the current table row) and `src` (the source row) — e.g.
    * `col("tgt.cnt") + col("src.cnt")`.
    *
    * Scale: the target scan is PRUNED by the source's key min/max against
    * manifest stats (every affected table row provably lives in a kept
    * dir), the delta-sized source is broadcast into the match join, and the
    * not-matched anti-join broadcasts the matched key set — no shuffle
    * touches the table side. The commit itself is [[applyChanges]]: new
    * rows + one retraction delete file, O(delta) at any table size.
    * Contract inherited from [[upsertKeys]]: source keys unique + non-null,
    * and the table key-unique on the merged keys (a second table row with a
    * matched key would double the replacement — fails loudly). Committed as
    * `mor-upsert`/`mor-delete`; [[changelogCdc]] recovers the row-level
    * effect; `batchId` makes the whole merge exactly-once under replay.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame, key: String,
            update: Option[Map[String, org.apache.spark.sql.Column]] = None,
            updateIf: Option[org.apache.spark.sql.Column] = None,
            deleteIf: Option[org.apache.spark.sql.Column] = None,
            insert: Boolean = true,
            insertIf: Option[org.apache.spark.sql.Column] = None,
            insertAssign: Option[Map[String, org.apache.spark.sql.Column]] = None,
            batchId: Option[String] = None): MergeStats = {
    val (_, root) = fsOf(spark, dir)
    // (updated, deleted, inserted) rows of the committed merge
    var counts = (0L, 0L, 0L)
    // the builder's replay skip runs BEFORE any join work
    val commit = commitChild(spark, dir, "mor-upsert", batchId, needsHead = true) { to =>
      val m = to.parent.get
      require(m.schema.nonEmpty,
        s"merge requires a schema-stamped table (legacy chain at $dir)")
      val schema = m.schema.get
      require(schema.fieldNames.contains(key), s"table at $dir has no column '$key'")
      require(update.nonEmpty || deleteIf.nonEmpty || insert,
        "merge with no clauses (update=None, deleteIf=None, insert=false) is a no-op")
      update.foreach(_.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"merge update assignment targets unknown column '$c'")))
      require(source.columns.contains(key), s"merge source has no key column '$key'")
      val src = source.persist()
      try {
        val keyDt = schema(key).dataType
        // ONE agg: emptiness check + key bounds (prune: every source key
        // lies in [min,max], so every table row a clause can touch provably
        // lives in a bounds-kept dir)
        val b = src.agg(count(lit(1)),
          min(col(key).cast(keyDt)), max(col(key).cast(keyDt))).collect()(0)
        if (b.getLong(0) == 0L) None else {
          val (kept, _) = planScan(m, KeyRange(key, Option(b.get(1)), Option(b.get(2))))
          val target =
            if (kept.isEmpty) readMerged(spark, root, m, m.live).limit(0)
            else readMerged(spark, root, m, kept)
          val tS = target.select(struct(target.columns.map(col): _*).as("tgt"))
          val sS = src.select(struct(src.columns.map(col): _*).as("src"))
          val matched = tS.join(broadcast(sS),
            col("tgt")(key) === col("src")(key).cast(keyDt), "inner").persist()
          try {
            val delCond = coalesce(deleteIf.getOrElse(lit(false)), lit(false))
            val updCond = update.map(_ =>
              coalesce(updateIf.getOrElse(lit(true)), lit(false))).getOrElse(lit(false))
            val deletedKeys = matched.filter(delCond)
              .select(col("tgt")(key).as(key)).distinct()
            val updBase = matched.filter(!delCond && updCond)
            val updatedRows = update match {
              case Some(as) if as.isEmpty => // whole-row replace by source
                updBase.select(src.columns.map(f => col("src")(f).as(f)): _*)
              case Some(as) =>
                updBase.select(schema.fieldNames.map(f =>
                  as.getOrElse(f, col("tgt")(f)).as(f)): _*)
              case None =>
                updBase.limit(0).select(schema.fieldNames.map(f =>
                  col("tgt")(f).as(f)): _*)
            }
            // not-matched = source minus the matched key set (delta-sized →
            // broadcast); sound because pruning never drops a dir that could
            // hold a source key
            val matchedKeys = matched.select(col("src")(key).as(key)).distinct()
            val insBase =
              if (!insert) sS.limit(0)
              else {
                val anti = src.select(struct(src.columns.map(col): _*).as("src"),
                    col("src")(key).as("_mk"))
                  .join(broadcast(matchedKeys.withColumnRenamed(key, "_mk")),
                    Seq("_mk"), "left_anti").select(col("src"))
                insertIf.map(c => anti.filter(coalesce(c, lit(false)))).getOrElse(anti)
              }
            val insRows = (insertAssign, update) match {
              case (Some(as), _) =>
                // SQL INSERT (cols) VALUES (exprs): assignment expressions see
                // the source row as `src`; unassigned table columns insert null
                as.keys.foreach(c => require(schema.fieldNames.contains(c),
                  s"merge insert assignment targets unknown column '$c'"))
                insBase.select(schema.fields.map(f =>
                  as.get(f.name).map(_.cast(f.dataType))
                    .getOrElse(lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
              case (None, Some(as)) if as.isEmpty =>
                insBase.select(src.columns.map(f => col("src")(f).as(f)): _*)
              case _ =>
                // align to the TABLE schema: absent source columns insert null
                val have = src.columns.toSet
                insBase.select(schema.fields.map(f =>
                  (if (have(f.name)) col("src")(f.name).cast(f.dataType)
                   else lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
            }
            val ups = updatedRows.unionByName(insRows).persist()
            try {
              // nUpd derives from the commit: its added rows ARE the ups row
              // count (observed during its write), so only the insert and
              // delete clauses need their own (persisted-scan) counts
              val nIns = insRows.count()
              val nDel = deletedKeys.count()
              val c = changesChild(spark, dir, to, ups, Some(deletedKeys), key)
              c.foreach(c => counts = (c.rows - nIns, nDel, nIns))
              c
            } finally ups.unpersist(blocking = false)
          } finally matched.unpersist(blocking = false)
        }
      } finally src.unpersist(blocking = false)
    }.get
    MergeStats(commit, counts._1, counts._2, counts._3)
  }

  /** Row-level MERGE (upsert), copy-on-write: every table row whose `key`
    * appears in `source` is replaced by the source row; source rows with
    * new keys are inserted. Pruning: the source's key min/max bound the
    * affected dirs via manifest stats, so a delta touching one key band
    * rewrites only that band's dirs (anti-join on the delta's keys — AQE
    * broadcasts a small delta). Source keys must be unique and non-null —
    * duplicate keys make "the" replacement row undefined, so they fail
    * loudly. New source columns evolve the schema like `append`. Committed
    * as operation `overwrite` (not insert-only, like `delete`).
    */
  def upsert(spark: SparkSession, dir: String, source: DataFrame, key: String): Commit = {
    val (fs, root) = fsOf(spark, dir)
    commitChild(spark, dir, "overwrite", schema = Some(source.schema), needsHead = true) { to =>
      val m = to.parent.get
      require(m.schema.nonEmpty,
        s"upsert requires a schema-stamped table (legacy chain at $dir)")
      val name = f"snap-${to.next}%06d"
      val srcPath = new Path(dataDir(root), s"$name-src").toString
      // materialize the delta first: ONE scan of the source observes the row
      // count, the null-key check, the key bounds AND the table's stats
      // bounds for the new dir (the former separate validation agg + stats
      // agg). Only the exact-distinct uniqueness check still needs its own
      // narrow agg (distinct aggregates cannot ride observed metrics), over
      // the tiny just-written delta.
      val (srcRows, srcStats, srcObs) = writeMeasured(source, srcPath,
        s"$name-src", to.statsCols,
        extra = Seq(count(col(key)).as("_nkey"),
          min(col(key)).as("_klo"), max(col(key)).as("_khi")))
      if (srcRows == 0L) fs.delete(new Path(srcPath), true)
      Option.when(srcRows > 0L) {
        require(srcObs("_nkey").asInstanceOf[Long] == srcRows,
          s"upsert source has null '$key' keys")
        // explicit schema: an empty source writes zero part files to infer from
        val src = spark.read.schema(source.schema).parquet(srcPath)
        val distinctKeys = src.agg(count_distinct(col(key))).collect()(0).getLong(0)
        require(distinctKeys == srcRows,
          s"upsert source has duplicate '$key' keys ($distinctKeys distinct of $srcRows)")
        val range = KeyRange(key, Option(srcObs("_klo")), Option(srcObs("_khi")))
        val (affected, untouched) = planScan(m, range)
        val rwPath = new Path(dataDir(root), s"$name-rw").toString
        val (rwRows, rwStats) = if (affected.isEmpty) (0L, Nil) else {
          // merged view: pending MOR deletes on the affected dirs materialize
          // into the rewrite instead of resurrecting
          val (n, st, _) = writeMeasured(
            readMerged(spark, root, m, affected)
              .join(src.select(col(key)), Seq(key), "left_anti"),
            rwPath, s"$name-rw", to.statsCols)
          (n, st)
        }
        val untouchedRows =
          if (untouched.isEmpty) 0L
          else readDirs(spark, root, untouched, m.schema).count() // metadata-only
        val rw = rwRows > 0
        val blooms =
          (if (rw) computeBlooms(spark, fs, root, rwPath, s"$name-rw",
            to.bloomCols, rowsHint = rwRows) else Nil) ++
            computeBlooms(spark, fs, root, srcPath, s"$name-src", to.bloomCols,
              rowsHint = srcRows)
        if (!rw && affected.nonEmpty) fs.delete(new Path(rwPath), true)
        // pending MOR deletes still reach the untouched dirs' old addSeq
        Child((if (rw) Seq(s"$name-rw") else Nil) :+ s"$name-src", rwRows + srcRows,
          (if (rw) rwStats else Nil) ++ srcStats, blooms,
          rewrittenAround(m, untouched), m.totalRows - untouchedRows,
          edit = _.copy(addedRows = srcRows))
      }
    }.get
  }

  /** Expire all but the last `keepLast` snapshots: their manifest files are
    * deleted (time travel to them now fails loudly) and data dirs referenced
    * by NO retained snapshot are physically removed. Returns the deleted
    * data-dir names. The retention analogue of the DLQ's age/size policies —
    * bounded metadata + storage under continuous ingest.
    */
  def expire(spark: SparkSession, dir: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val (fs, root) = fsOf(spark, dir)
    val ids = manifestIds(fs, root)
    // ref-tagged snapshots are PINNED: their manifest and live dirs stay
    // until the ref is dropped (the Iceberg tag-retention contract). Note
    // a pinned old snapshot leaves a HOLE in the retained chain — range
    // reads across the hole (incremental/changelogCdc) fail loudly, and
    // incremental consumers bootstrap from earliestContiguousId, never
    // from the pinned tag (SnapshotPipe does).
    val pinned = refs(spark, dir).values.toSet
    val drop = ids.dropRight(keepLast).filterNot(pinned)
    if (drop.isEmpty) return Nil
    val keep = ids.filterNot(drop.toSet)
    // MOR delete files follow the same lifecycle as data dirs: referenced
    // by any retained manifest → kept, else physically removed with their
    // expired history
    def allDirs(m: Manifest): Seq[String] = m.live ++ m.deletes.map(_.dir)
    // live BRANCHES pin every dir their manifests reference: a branch chain
    // is self-contained, but its fork-era dirs live under main's data/ —
    // expiring main's history must not pull them out from under the branch
    val keepDirs = keep.flatMap(id => allDirs(manifest(spark, dir, id))).toSet ++
      branchManifestsAll(fs, root).flatMap(allDirs)
    val dropDirs = drop.flatMap(id => allDirs(manifest(spark, dir, id))).toSet -- keepDirs
    dropDirs.toSeq.sorted.foreach { n =>
      fs.delete(new Path(dataDir(root), n), true)
    }
    drop.foreach { id =>
      fs.delete(new Path(manifestDir(root), manifestName(id)), false)
    }
    cleanBlooms(spark, fs, root, dir) // sketches follow their dirs' lifecycle
    dropDirs.toSeq.sorted
  }

  /** Orphan cleanup: delete data dirs referenced by NO retained manifest —
    * crash leftovers (a dir written whose commit never happened) and any
    * debris under `data/`. Never touches referenced dirs; safe between
    * operations under the single-writer contract (the Delta VACUUM
    * analogue, with zero retention delay because a concurrent reader of an
    * uncommitted dir cannot exist — readers only plan from manifests).
    * Returns the deleted dir names.
    */
  def vacuum(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, root) = fsOf(spark, dir)
    // clustered-compaction dirs are referenced as "snap-N/_b=K" — the
    // top-level child "snap-N" is live when ANY of its buckets is; MOR
    // delete files and staged (write-audit-publish) dirs are referenced too
    val referenced = (manifestIds(fs, root).map(manifest(spark, dir, _)) ++
      branchManifestsAll(fs, root))
      .flatMap(m => m.live ++ m.deletes.map(_.dir))
      .map(_.split('/')(0)).toSet ++
      stagedTokens(spark, dir).map(stageDirName)
    val dd = dataDir(root)
    if (!fs.exists(dd)) return Nil
    val orphans = fs.listStatus(dd).map(_.getPath.getName)
      .filterNot(referenced).sorted.toIndexedSeq
    orphans.foreach(n => fs.delete(new Path(dd, n), true))
    cleanBlooms(spark, fs, root, dir)
    // crash debris: a writer that died between its claim and tmp cleanup
    // leaves .<name>.<token>.tmp (+ .crc sidecars) in the manifest dir
    // forever — never referenced once a commit is decided (advice r05)
    val md = manifestDir(root)
    if (fs.exists(md))
      fs.listStatus(md).map(_.getPath.getName)
        .filter(n => n.startsWith(".") && (n.endsWith(".tmp") || n.endsWith(".tmp.crc")))
        .foreach(n => fs.delete(new Path(md, n), false))
    orphans
  }

  /** Route integration: append every sink's routed frame
    * ([[Route.sinkFrame]]) to its own snapshot table under
    * `tableRoot/<sink>`, all under one batch id — the north star's
    * "conditional fan-out routing to multiple Iceberg sink tables",
    * exactly-once per sink.
    *
    * Every sink table's head and ledger are read on the driver first. A sink
    * that already holds `batchId` returns that commit as `skippedExisting`
    * and costs no Spark job, so a replayed batch starts none, and a retry
    * after a crash between sink commits appends only the missing sinks.
    * Each pending sink's schema is merged with its table's before anything
    * is written, so a type conflict in any sink fails the whole call with
    * nothing committed. The pending sinks are then written by
    * [[Route.fanOut]]: one pass over the trunk per payload schema, each
    * sink's decorator run inside its pass, and each sink's row count and its
    * table's stats bounds observed in that same job. When every pending
    * sink shares one pass (no decorator adds a column) nothing is
    * persisted; with more passes the flagged trunk is persisted for the
    * call, so every sink reads the same rows. Each staged dir is
    * then committed through [[commitChild]] as its table's next `snap-N`,
    * with Bloom sketches as the table asks for them. The staging dir sits
    * under the first pending sink table's `data/`, unreferenced, so
    * [[vacuum]] reaps it after a killed JVM; a failed call removes it itself.
    */
  def appendSinks(spark: SparkSession, trunk: DataFrame, sinks: Seq[Route.SinkSpec],
                  tableRoot: String, batchId: String): Map[String, Commit] = {
    Route.requirePlainSinks(sinks, "SnapshotTable.appendSinks")
    final case class Sink(spec: Route.SinkSpec, dir: String, fs: FileSystem, root: Path,
                          head: Head, held: Option[Long])
    val tables = sinks.map { s =>
      val dir = s"$tableRoot/${s.name}"
      val (fs, root) = fsOf(spark, dir)
      val head = readHead(fs, manifestDir(root))
      Sink(s, dir, fs, root, head, resolveLedger(fs, manifestDir(root), head, Some(batchId))
        .collectFirst { case (`batchId`, snap) => snap })
    }
    val done = tables.collect { case Sink(s, _, _, _, _, Some(snap)) =>
      s.name -> Commit(snap, skippedExisting = true) }.toMap
    val pending = tables.filter(_.held.isEmpty)
    if (pending.isEmpty) return done
    val plan = new Route.FanPlan(Route.withSinkFlags(trunk, pending.map(_.spec)),
      pending.map(t => Route.FanTarget(col(Route.flagCol(t.spec.name)), t.spec.decorator)))
    val schemas = plan.schemas
    pending.zip(schemas).foreach { case (t, schema) =>
      t.head.latest.flatMap(_.schema).foreach(mergeSchemas(_, schema)) }
    val stats = pending.zip(schemas).map { case (t, schema) =>
      statColumns(schema, t.head.latest.map(_.statsCols).getOrElse(Nil)) }
    val staging = new Path(dataDir(pending.head.root),
      s"fanstage-${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}")
    Route.fanOut(plan, staging, stats.map(_.map(_._1))) { staged =>
      done ++ pending.indices.map { k =>
        val t = pending(k)
        val f = staged(k)
        t.spec.name -> commitChild(spark, t.dir, "append", Some(batchId), Some(schemas(k))) { to =>
          val name = f"snap-${to.next}%06d"
          val dest = new Path(dataDir(t.root), name)
          // an existing dest is an uncommitted crash leftover (see publishStaged)
          if (t.fs.exists(dest)) t.fs.delete(dest, true)
          t.fs.mkdirs(dataDir(t.root))
          require(t.fs.rename(f.dir, dest), s"appendSinks could not move ${f.dir} to $dest")
          val observed = stats(k).flatMap { case (c, tpe) =>
            dirStat(name, c, tpe, f.bounds(c)._1, f.bounds(c)._2) }
          Some(onDiskChild(spark, t.fs, t.root, name, f.rows, to, Some(observed)))
        }.get
      }
    }
  }
}
