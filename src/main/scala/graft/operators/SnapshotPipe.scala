package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental table-to-table materialization over [[SnapshotTable]] chains —
  * the "streaming read of an Iceberg table" surface, built as a resumable
  * batch pipe rather than a Structured Streaming query on purpose: the SINK
  * TABLE'S OWN batch-commit ledger is the checkpoint, so there is no
  * checkpoint dir to keep beside the tables, and the transform sees the
  * sink's history, which a streaming query's per-batch function does not.
  * Every chunk is an ordinary `incremental(a, b]` DataFrame planned through
  * the native parquet scan. A streaming read of a snapshot table
  * (`readStream`) is [[graft.sources.SnapshotStreamSource]].
  *
  * Exactly-once by construction, with ZERO extra state files: chunk
  * `(a, b]` commits under batch id `incr-<src>-<b>` (`<src>` = a hash of
  * the source table path, so two pipes feeding one sink from different
  * sources keep independent cursors); resume reads the max committed upper
  * bound for THIS source back out of the sink's ledger
  * ([[SnapshotTable.Manifest.batchCommits]], one driver-side manifest
  * read). A crash BEFORE the commit leaves no ledger entry — the rerun
  * re-processes the chunk; a crash AFTER leaves the entry — the rerun's
  * append is skipped. This is the same recovery contract as the
  * reference's PQ `firstUnackedSeqNum` replay (Checkpoint.java:24-44),
  * with the sink commit as the ack.
  *
  * Source expiry: a virgin sink against a source whose early history was
  * expired BOOTSTRAPS from the earliest retained snapshot — the first
  * chunk is that snapshot's FULL table state (`asOf`, the Delta/Iceberg
  * "initial snapshot" of a streaming read), and incremental chunks follow.
  * A non-virgin sink whose cursor has fallen behind the retained horizon
  * fails loudly (the missed deltas are physically gone — silently skipping
  * them would drop data), as does a cursor AHEAD of the source's latest
  * snapshot (the source was wiped or the path points at a different
  * table).
  *
  * The transform sees the chunk's delta AND the sink's history frame
  * (`None` on a virgin sink), so incremental corpus maintenance composes
  * directly: quality-gate the new shard, dedup it against everything
  * already curated ([[graft.functions.Dedup.incrementalNew]] is the
  * scale-shaped partner — bloom-gated, broadcast-only), append survivors.
  * Cost per run scales with the DELTA (only the new snapshots' data dirs
  * are listed or scanned) plus whatever the transform reads of history —
  * never with the table size by construction.
  */
object SnapshotPipe {

  /** Stable 8-hex-char token identifying a source table path inside the
    * sink ledger's batch ids.
    */
  private[graft] def srcToken(srcDir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(srcDir.getBytes("UTF-8"))
    d.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Upper bound (source snapshot id) of the last chunk committed into
    * `sinkDir` FROM `srcDir`, recovered from the sink ledger; None for a
    * virgin sink or one never written by a pipe over this source.
    */
  def lastProcessed(spark: SparkSession, sinkDir: String,
                    srcDir: String): Option[Long] = {
    val bounds = processedBounds(spark, sinkDir, srcDir)
    if (bounds.isEmpty) None else Some(bounds.max)
  }

  /** EVERY chunk upper bound committed into `sinkDir` from `srcDir` — the
    * sink's full cursor history, recovered from one manifest read (the
    * cumulative ledger). [[runSinks]] force-aligns its chunk edges to these
    * so a rerun with a different chunk size can never cut a chunk through
    * the middle of a span some sink already committed.
    */
  private[graft] def processedBounds(spark: SparkSession, sinkDir: String,
                                     srcDir: String): Seq[Long] = {
    val re = s"incr-${srcToken(srcDir)}-(\\d+)".r
    SnapshotTable.latestId(spark, sinkDir).toSeq.flatMap { id =>
      SnapshotTable.manifest(spark, sinkDir, id).batchCommits
        .collect { case (re(b), _) => b.toLong }
    }
  }

  /** Process every source snapshot not yet materialized into `sinkDir`, in
    * chunks of at most `maxSnapshotsPerChunk` source snapshots (admission
    * control — the `max_bytes_per_trigger` analogue: bound each run's
    * working set under a backlog instead of swallowing it whole). Returns
    * the commits made, in order; empty when already caught up.
    *
    * `transform(delta, history)` maps one chunk's incremental rows (plus
    * the sink-so-far, `None` when the sink is empty) to the rows to
    * append. Chunks run strictly in snapshot order, so arrival order is
    * preserved across crashes and reruns.
    */
  def run(spark: SparkSession, srcDir: String, sinkDir: String,
          maxSnapshotsPerChunk: Int = Int.MaxValue)
         (transform: (DataFrame, Option[DataFrame]) => DataFrame): Seq[SnapshotTable.Commit] = {
    require(maxSnapshotsPerChunk >= 1, "chunk size must be >= 1")
    val latest = SnapshotTable.latestId(spark, srcDir).getOrElse(
      return Nil) // virgin source: nothing to do
    // the CONTIGUOUS horizon: a ref-pinned manifest beyond an expired gap
    // is time-travelable but not incrementally readable — bootstrapping
    // from it would fail loudly on the first chunk past the gap
    val earliest = SnapshotTable.earliestContiguousId(spark, srcDir).get
    val tok = srcToken(srcDir)
    val cursor = lastProcessed(spark, sinkDir, srcDir)
    require(cursor.forall(_ <= latest),
      s"sink $sinkDir is ahead of source $srcDir (cursor ${cursor.get} > " +
        s"latest $latest): the source was recreated or the path points at " +
        "a different table — refusing to silently re-baseline")
    require(cursor.forall(_ >= earliest - 1),
      s"sink $sinkDir resumes at snapshot ${cursor.get} but source history " +
        s"before $earliest was expired — the missed deltas are gone; " +
        "re-bootstrap into a fresh sink or widen source retention")

    def history(): Option[DataFrame] =
      if (SnapshotTable.latestId(spark, sinkDir).isEmpty) None
      else Some(SnapshotTable.read(spark, sinkDir))

    // Bootstrap: a virgin cursor against a partially-expired source takes
    // snapshot `earliest`'s FULL state as the first chunk (incremental
    // history before it no longer exists; its live set is the complete
    // table as of that snapshot).
    val boot: Seq[SnapshotTable.Commit] =
      if (cursor.isEmpty && earliest > 0)
        Seq(SnapshotTable.append(spark,
          transform(SnapshotTable.asOf(spark, srcDir, earliest), history()),
          sinkDir, Some(s"incr-$tok-$earliest")))
      else Nil
    val from = if (boot.nonEmpty) earliest else cursor.getOrElse(-1L)

    // chunk boundaries over (from, latest], each at most K snapshots wide
    val bounds = (from until latest by maxSnapshotsPerChunk.toLong) :+ latest
    boot ++ bounds.sliding(2).collect { case Seq(a, b) if a < b =>
      val delta = SnapshotTable.incremental(spark, srcDir, a, b)
      SnapshotTable.append(spark, transform(delta, history()), sinkDir,
        Some(s"incr-$tok-$b"))
    }.toSeq
  }

  /** Bounds committed by a CDC pipe ([[runCdc]]) — separate id prefix so a
    * CDC pipe and an insert-only pipe into one sink keep distinct cursors.
    */
  private[graft] def cdcProcessedBounds(spark: SparkSession, sinkDir: String,
                                        srcDir: String): Seq[Long] = {
    val re = s"cdc-${srcToken(srcDir)}-(\\d+)".r
    SnapshotTable.latestId(spark, sinkDir).toSeq.flatMap { id =>
      SnapshotTable.manifest(spark, sinkDir, id).batchCommits
        .collect { case (re(b), _) => b.toLong }
    }
  }

  /** CDC-DRIVEN incremental materialization: mirror a ROW-WISE transform of
    * a snapshot table into a sink through row-level changes — the pipe for
    * sources that delete and update ([[SnapshotTable.deleteKeys]]/
    * [[SnapshotTable.upsertKeys]]/CoW `delete`/`upsert`/`rollback`), which
    * the insert-only [[run]] refuses to cross. Each chunk `(a, b]` reads
    * [[SnapshotTable.changelogCdc]], NETS it per key (the latest change
    * wins — a key inserted then deleted inside one chunk lands absent, a
    * deleted-then-reinserted key lands at its newest row; within an upsert
    * commit the insert image outranks its paired delete image), and
    * applies atomically via [[SnapshotTable.applyChanges]]: retract every
    * net-touched key, upsert the transformed net inserts — ONE sink commit
    * per chunk under batch id `cdc-<src>-<b>`, so the sink ledger is the
    * checkpoint and recovery is exactly-once like [[run]].
    *
    * `transform` must be row-wise (filter/project) and must PRESERVE the
    * `key` column (require()d): retraction keys are taken from the net
    * change set BEFORE the transform, so an update that moves a row out of
    * the sink's filter scope still retracts it from the sink. Chunks whose
    * CDC nets to nothing (pure compaction spans) commit nothing — the
    * cursor simply stays put and the rerun re-nets the empty span, a
    * no-op. Cost per run scales with the CHANGED rows (changelogCdc's
    * dir-local diffs + one delta-sized window), never table size.
    */
  def runCdc(spark: SparkSession, srcDir: String, sinkDir: String, key: String,
             maxSnapshotsPerChunk: Int = Int.MaxValue)
            (rowTransform: DataFrame => DataFrame = identity): Seq[SnapshotTable.Commit] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(maxSnapshotsPerChunk >= 1, "chunk size must be >= 1")
    val latest = SnapshotTable.latestId(spark, srcDir).getOrElse(
      return Nil) // virgin source: nothing to do
    val earliest = SnapshotTable.earliestContiguousId(spark, srcDir).get
    val tok = srcToken(srcDir)
    val bounds = cdcProcessedBounds(spark, sinkDir, srcDir)
    val cursor = if (bounds.isEmpty) None else Some(bounds.max)
    require(cursor.forall(_ <= latest),
      s"sink $sinkDir is ahead of source $srcDir (cursor ${cursor.getOrElse(-1L)} " +
        s"> latest $latest): the source was recreated or the path points at " +
        "a different table — refusing to silently re-baseline")
    require(cursor.forall(_ >= earliest - 1),
      s"sink $sinkDir resumes at snapshot ${cursor.getOrElse(-1L)} but source " +
        s"history before $earliest was expired — the missed changes are gone; " +
        "re-bootstrap into a fresh sink or widen source retention")

    // Bootstrap a virgin sink from the earliest retained snapshot's FULL
    // state (asOf already nets every change before it — cheaper and exact)
    val boot: Seq[SnapshotTable.Commit] =
      if (cursor.isEmpty) {
        val state = rowTransform(SnapshotTable.asOf(spark, srcDir, earliest))
        require(state.columns.contains(key),
          s"runCdc transform must preserve the key column '$key'")
        Seq(SnapshotTable.append(spark, state, sinkDir,
          Some(s"cdc-$tok-$earliest")))
      } else Nil
    val from = if (boot.nonEmpty) earliest else cursor.get
    if (from >= latest) return boot

    val pts = (from until latest by maxSnapshotsPerChunk.toLong) :+ latest
    boot ++ pts.sliding(2).collect { case Seq(a, b) if a < b =>
      val delta = SnapshotTable.changelogCdc(spark, srcDir, a, b)
      // net per key: latest (_snapshot_id, _change_type) wins — 'insert'
      // sorts above 'delete', so an upsert commit's new image outranks its
      // paired retraction
      val w = Window.partitionBy(col(key))
        .orderBy(col("_snapshot_id").desc, col("_change_type").desc)
      val net = delta.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      val ups = rowTransform(net.filter(col("_change_type") === "insert")
        .drop("_snapshot_id", "_change_type"))
      require(ups.columns.contains(key),
        s"runCdc transform must preserve the key column '$key'")
      // retract EVERY net-touched key: pure deletes, replaced rows, and
      // rows the transform filtered OUT of the sink's scope
      SnapshotTable.applyChanges(spark, sinkDir, ups,
        Some(net.select(col(key))), key, Some(s"cdc-$tok-$b"))
    }.toSeq
  }

  /** Incremental parse→enrich→route materialization into MULTIPLE sink
    * snapshot tables — the north star's "conditional fan-out routing to
    * multiple Iceberg sink tables", resumable, exactly-once PER SINK.
    * Each chunk `(a, b]` of source snapshots is transformed once into a
    * trunk, written by [[SnapshotTable.appendSinks]] in one fan-out pass, and
    * appended to every sink whose condition-matched subset it carries,
    * under the shared batch id `incr-<src>-<b>` in each sink's own ledger.
    *
    * Per-sink cursors can diverge by one in-flight chunk (a crash between
    * two sinks' commits of the same chunk). Resume is safe against BOTH
    * that and a changed `maxSnapshotsPerChunk`, by two rules that together
    * guarantee no row is ever double-appended:
    *
    *  1. '''Edge alignment''': chunk edges are the regular K-grid from the
    *     minimum cursor UNIONED with every bound any sink has already
    *     committed ([[processedBounds]]) — so a sink's committed span is
    *     never cut through the middle, and for any chunk `(a, b]` with
    *     `b > cursor(S)` we get `a >= cursor(S)` (the cursor itself is an
    *     edge).
    *  2. '''Coverage skip''': a sink's committed coverage is always the
    *     contiguous prefix `(…, cursor(S)]` (chunks commit in ascending
    *     order), so any chunk with `b <= cursor(S)` is already fully
    *     contained in S and is skipped for S without consulting batch ids.
    *
    * A virgin sink against a partially-expired source bootstraps from
    * `asOf(earliest)` full state like [[run]] — but ONLY the virgin sinks
    * receive the bootstrap chunk (an existing sink already holds those
    * rows); a non-virgin sink still at `earliest-1` processes its
    * `(earliest-1, earliest]` delta normally (per-sink ledgers are
    * independent, so sharing the bound id with the bootstrap chunk is not
    * a collision).
    *
    * `transform` maps a chunk's incremental rows to the routed trunk
    * (parse + enrich); routing itself is the sinks' conditions. It is
    * deliberately stateless (no sink-history argument): fan-out routing is
    * row-wise, so `route(union of deltas) == union of route(delta)` — the
    * property that makes per-sink replay skipping sound.
    *
    * Returns `(chunkBound, commits)` per chunk, where the map covers only
    * the sinks the chunk was appended to (coverage-skipped sinks are
    * absent; `skippedExisting` marks a ledger-level batch-id replay).
    * Per-sink lineage + metrics (added/total row counts per chunk) are
    * persisted in each sink's manifests — see [[SnapshotTable.history]].
    */
  def runSinks(spark: SparkSession, srcDir: String, tableRoot: String,
               sinks: Seq[Route.SinkSpec],
               maxSnapshotsPerChunk: Int = Int.MaxValue)
              (transform: DataFrame => DataFrame = identity)
      : Seq[(Long, Map[String, SnapshotTable.Commit])] = {
    require(sinks.nonEmpty, "runSinks needs at least one sink")
    require(maxSnapshotsPerChunk >= 1, "chunk size must be >= 1")
    val latest = SnapshotTable.latestId(spark, srcDir).getOrElse(
      return Nil) // virgin source: nothing to do
    // the CONTIGUOUS horizon — a ref-pinned manifest beyond an expired gap
    // is not incrementally readable (see SnapshotTable.earliestContiguousId)
    val earliest = SnapshotTable.earliestContiguousId(spark, srcDir).get
    val tok = srcToken(srcDir)
    def dirOf(name: String) = s"$tableRoot/$name"
    // ONE ledger read per sink: the full bound history yields the cursor
    // (its max) AND the alignment edges below
    val boundsOf: Map[String, Seq[Long]] =
      sinks.map(s => s.name -> processedBounds(spark, dirOf(s.name), srcDir)).toMap
    val cursors: Map[String, Option[Long]] =
      boundsOf.map { case (n, bs) => n -> (if (bs.isEmpty) None else Some(bs.max)) }
    cursors.foreach { case (n, c) =>
      require(c.forall(_ <= latest),
        s"sink ${dirOf(n)} is ahead of source $srcDir (cursor ${c.getOrElse(-1L)} " +
          s"> latest $latest): the source was recreated or the path points at " +
          "a different table — refusing to silently re-baseline")
      require(c.forall(_ >= earliest - 1),
        s"sink ${dirOf(n)} resumes at snapshot ${c.getOrElse(-1L)} but source " +
          s"history before $earliest was expired — the missed deltas are gone; " +
          "re-bootstrap into a fresh sink or widen source retention")
    }

    // Bootstrap ONLY the virgin sinks from the earliest retained snapshot's
    // full state; sinks already past it must not receive it again. A
    // non-virgin sink still at earliest-1 is fine: its (earliest-1,
    // earliest] delta commits under the same bound id in ITS OWN ledger —
    // per-sink ledgers are independent, so there is no collision.
    val virgins = sinks.filter(s => cursors(s.name).isEmpty)
    val boot: Seq[(Long, Map[String, SnapshotTable.Commit])] =
      if (earliest > 0 && virgins.nonEmpty)
        Seq(earliest -> SnapshotTable.appendSinks(spark,
          transform(SnapshotTable.asOf(spark, srcDir, earliest)), virgins,
          tableRoot, s"incr-$tok-$earliest"))
      else Nil

    // Post-boot cursors (virgins now sit at `earliest` when boot ran).
    var cur: Map[String, Long] = sinks.map { s =>
      val booted = boot.nonEmpty && virgins.exists(_.name == s.name)
      s.name -> (if (booted) earliest else cursors(s.name).getOrElse(-1L))
    }.toMap
    val effFrom = cur.values.min
    if (effFrom >= latest) return boot // every sink caught up

    // Chunk edges: K-grid from the minimum cursor, force-aligned with every
    // bound any sink has already committed (rule 1 above).
    val committed = (boundsOf.values.flatten ++ boot.map(_._1)).toSeq.distinct
    val pts = ((effFrom until latest by maxSnapshotsPerChunk.toLong) ++
      committed.filter(b => b > effFrom && b < latest)).distinct.sorted :+ latest
    val incr = pts.sliding(2).collect { case Seq(a, b) if a < b =>
      val active = sinks.filter(s => cur(s.name) < b) // rule 2: coverage skip
      val commits =
        if (active.isEmpty) Map.empty[String, SnapshotTable.Commit]
        else {
          val trunk = transform(SnapshotTable.incremental(spark, srcDir, a, b))
          SnapshotTable.appendSinks(spark, trunk, active, tableRoot,
            s"incr-$tok-$b")
        }
      cur = cur ++ active.map(_.name -> b)
      b -> commits
    }.toSeq
    boot ++ incr
  }
}
