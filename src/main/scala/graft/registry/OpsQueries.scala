package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StandardPipeline
import graft.conditions._
import graft.operators.Mutate

/** Queries pinning the conditional-operator semantics (SURVEY.md §2.6) and
  * the remaining small mutate/codec operators, each with a DuckDB oracle that
  * spells out the same reference semantics explicitly.
  */
object OpsQueries {

  /** LSCL config text for the lscl_route gate: the whole pipeline — branch
    * chain, tag/field decorators, regex condition, env-var default, and an
    * if/else-gated output section — is declared as CONFIG TEXT and must
    * reproduce the handwritten oracle SQL below exactly.
    */
  val LsclRouteConfig: String =
    """# graft lscl_route gate pipeline
      |filter {
      |  if [severity] == "ERROR" and [tier] == "${LSCL_TIER:prod}" {
      |    mutate { add_tag => ["err_prod"] }
      |  } else if [severity] == "WARN" and [n_tok] > 64 {
      |    mutate { add_tag => ["warn_big"] }
      |  } else {
      |    mutate { add_tag => ["other"] }
      |  }
      |  if [team] in ["team-0", "team-1"] {
      |    mutate { add_tag => ["teamA"] }
      |  }
      |  if [source] =~ /[13579]$/ {
      |    mutate { add_field => { "odd_src" => "%{source}-odd" } }
      |  }
      |}
      |output {
      |  if "err_prod" in [tags] { sink { id => "lscl_errors" } }
      |  else if "warn_big" in [tags] { sink { id => "lscl_warn" } }
      |  else { sink { id => "lscl_rest" } }
      |}
      |""".stripMargin

  /** Complete config for the lscl_e2e gate: generator INPUT (DSv2 source),
    * json filter, branch decorators, if/else-gated outputs — the whole
    * `bin/logstash -f pipeline.conf` surface as text.
    */
  val LsclE2eConfig: String =
    """input {
      |  generator {
      |    count => 9000
      |    lines => ['{"lvl": "ERROR", "n": 80}', '{"lvl": "WARN", "n": 99}', '{"lvl": "INFO", "n": 5}']
      |  }
      |}
      |filter {
      |  json { source => "message" }
      |  if [lvl] == "ERROR" { mutate { add_tag => ["bad"] } }
      |  else if [n] > 50 { mutate { add_tag => ["big"] } }
      |}
      |output {
      |  if "bad" in [tags] { sink { id => "errors" } }
      |  else if "big" in [tags] { sink { id => "warnbig" } }
      |  else { sink { id => "rest" } }
      |}
      |""".stripMargin

  /** The reference benchmark-cli apache case's FILTER section, byte-for-byte
    * (tools/benchmark-cli/src/main/resources/org/logstash/benchmark/cli/cases/apache.cfg:5-24):
    * grok combined-log extraction, Joda-format date parse, geoip without an
    * explicit database (session default mmdb), useragent with target prefix.
    */
  val ApacheCfgFilter: String =
    """filter {
      |  grok {
      |    match => {
      |      "message" => '%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] "%{WORD:verb} %{DATA:request} HTTP/%{NUMBER:httpversion}" %{NUMBER:response:int} (?:-|%{NUMBER:bytes:int}) %{QS:referrer} %{QS:agent}'
      |    }
      |  }
      |
      |  date {
      |    match => [ "timestamp", "dd/MMM/YYYY:HH:mm:ss Z" ]
      |    locale => en
      |  }
      |
      |  geoip {
      |    source => "clientip"
      |  }
      |
      |  useragent {
      |    source => "agent"
      |    target => "useragent"
      |  }
      |}
      |""".stripMargin

  /** Snapshot-table fixture shared by the pipe_snap_* gates: append batch 1
    * (doc_id%3 != 0) then batch 2 (%3 == 0), REPLAY batch 2's batch id (must
    * be skipped — exactly-once), then compact (a replace snapshot). Chain:
    * snap 0 = batch 1, snap 1 = batch 2, snap 2 = compaction.
    */
  private def snapshotFixture(s: SparkSession, dir: String): String = {
    import graft.operators.{SnapshotTable => ST}
    val t = java.nio.file.Files.createTempDirectory("graft_snaptbl").toString
    val raw = graft.model.Tok.rawSequences(s.read.parquet(s"$dir/documents.parquet"))
      .select(col("doc_id"), col("source"),
        graft.model.Tok.tokStr(col("tokens")).as("tok_str"))
    ST.append(s, raw.filter(col("doc_id").cast("long") % 3 =!= 0), t, Some("batch-1"))
    ST.append(s, raw.filter(col("doc_id").cast("long") % 3 === 0), t, Some("batch-2"))
    ST.append(s, raw.filter(col("doc_id").cast("long") % 3 === 0), t, Some("batch-2"))
    ST.compact(s, t)
    t
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // snapshot time travel: snapshot 0 is batch 1 alone — the later append,
    // the replayed batch and the compaction are all invisible to asOf(0)
    "pipe_snap_asof" -> ((s, dir) => {
      graft.operators.SnapshotTable.asOf(s, snapshotFixture(s, dir), 0)
        .orderBy("doc_id")
    }),

    // snapshot changelog (0, latest]: exactly batch 2's rows ONCE, tagged
    // with the snapshot that committed them — the replayed batch id created
    // no snapshot and the compaction's replace is not a row change
    "pipe_snap_incr" -> ((s, dir) => {
      graft.operators.SnapshotTable.changelog(s, snapshotFixture(s, dir), 0, 2)
        .orderBy("doc_id")
    }),

    // snapshot read-after-expiry: expire all history (keepLast=1 retains the
    // compacted replace snapshot), then read the table — the full row set
    // survives compaction + physical deletion of the pre-compaction dirs
    "pipe_snap_read" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = snapshotFixture(s, dir)
      ST.expire(s, t, keepLast = 1)
      ST.read(s, t).orderBy("doc_id")
    }),

    // optimistic multi-writer appends: 4 concurrent writers each commit one
    // quarter (doc_id % 4) through the CAS+rebase path; the final table must
    // equal the whole corpus regardless of which writer won which snapshot
    // id, the chain must be contiguous (ids 0..3), and a replayed batch must
    // skip via the MERGED ledger — exactly-once survives contention.
    "pipe_snap_conc" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val t = java.nio.file.Files.createTempDirectory("graft_snapconc").toString
      val raw = graft.model.Tok.rawSequences(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("source"),
          graft.model.Tok.tokStr(col("tokens")).as("tok_str"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence((0 until 4).map { b =>
        Future(ST.appendConcurrent(s, raw.filter(col("doc_id").cast("long") % 4 === b),
          t, batchId = Some(s"writer-$b"), maxRetries = 64))
      }), 300.seconds) finally pool.shutdown()
      require(ST.latestId(s, t).contains(3L), "4 contended commits -> ids 0..3")
      require(ST.appendConcurrent(s, raw.limit(1), t, batchId = Some("writer-2"))
        .skippedExisting, "replayed batch must skip under the merged ledger")
      ST.read(s, t).orderBy("doc_id")
    }),

    // incremental table-to-table materialization: documents arrive as three
    // snapshot appends (batch k = doc_id%3 == k); SnapshotPipe curates each
    // chunk IN ARRIVAL ORDER — quality gate, dedup within the chunk, then
    // anti-join the sink history — so the surviving copy of a duplicated
    // text is the min-(batch, doc_id) one, NOT the global min doc_id (the
    // order-sensitivity is what distinguishes the pipe from a batch dedup).
    // Run 1 sees only batch 0; the rest arrive later and run chunked (K=1);
    // a final rerun must be a no-op (ledger-resumed exactly-once).
    "pipe_snap_pipe" -> ((s, dir) => {
      import graft.operators.{SnapshotPipe, SnapshotTable => ST}
      val src = java.nio.file.Files.createTempDirectory("graft_sppipe_src").toString
      val sink = java.nio.file.Files.createTempDirectory("graft_sppipe_sink").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // duplicates BY CONSTRUCTION (raw texts are near-unique at small SF):
      // every 7th doc gets a clone at doc_id+10000, which lands in batch
      // (d+1)%3 — so for d%3==2 the CLONE (the higher id) arrives first and
      // must win, which is exactly what separates arrival-order curation
      // from a batch-insensitive min-doc_id dedup
      val docs = base.unionByName(
        base.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000))
      def curate(delta: DataFrame, hist: Option[DataFrame]): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("h").orderBy("doc_id")
        val dd = delta.filter(length(col("text")) >= 40)
          .withColumn("h", md5(col("text")))
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select("doc_id", "h")
        hist.fold(dd)(hf => dd.join(hf.select("h").distinct(), Seq("h"), "left_anti"))
      }
      ST.append(s, docs.filter(col("doc_id") % 3 === 0), src, Some("b0"))
      SnapshotPipe.run(s, src, sink)(curate)
      ST.append(s, docs.filter(col("doc_id") % 3 === 1), src, Some("b1"))
      ST.append(s, docs.filter(col("doc_id") % 3 === 2), src, Some("b2"))
      SnapshotPipe.run(s, src, sink, maxSnapshotsPerChunk = 1)(curate)
      require(SnapshotPipe.run(s, src, sink)(curate).isEmpty,
        "caught-up pipe must be a no-op")
      ST.read(s, sink).select("doc_id", "h").orderBy("doc_id")
    }),

    // incremental CONDITIONAL FAN-OUT into multiple sink snapshot tables —
    // the north star's route-to-multiple-Iceberg-sinks loop, end to end:
    // documents arrive as three snapshot appends (batch k = doc_id%3 == k),
    // each chunk is tokenized (parse), projected (enrich), routed by sink
    // conditions, and appended exactly-once PER SINK under the chunk's
    // batch id. Run 1 sees batch 0; runs 2-3 arrive chunked (K=1); a final
    // rerun must be a no-op. Routed-row sets per sink must equal routing
    // the whole corpus at once (row-wise routing commutes with arrival).
    "pipe_snap_route" -> ((s, dir) => {
      import graft.operators.{Route, SnapshotPipe, SnapshotTable => ST}
      val src = java.nio.file.Files.createTempDirectory("graft_sproute_src").toString
      val root = java.nio.file.Files.createTempDirectory("graft_sproute_sinks").toString
      val raw = graft.model.Tok.rawSequences(s.read.parquet(s"$dir/documents.parquet"))
      val sinks = Seq(
        Route.SinkSpec("big", Gte("n_tok", 8)),
        Route.SinkSpec("small", Lt("n_tok", 8)),
        Route.SinkSpec("all", Truthy("doc_id")))
      def trunkOf(delta: DataFrame): DataFrame =
        delta.select(col("doc_id"), col("n_tok"), col("source"),
          graft.model.Tok.tokStr(col("tokens")).as("tok_str"))
      ST.append(s, raw.filter(col("doc_id").cast("long") % 3 === 0), src, Some("b0"))
      SnapshotPipe.runSinks(s, src, root, sinks)(trunkOf)
      ST.append(s, raw.filter(col("doc_id").cast("long") % 3 === 1), src, Some("b1"))
      ST.append(s, raw.filter(col("doc_id").cast("long") % 3 === 2), src, Some("b2"))
      SnapshotPipe.runSinks(s, src, root, sinks, maxSnapshotsPerChunk = 1)(trunkOf)
      require(SnapshotPipe.runSinks(s, src, root, sinks)(trunkOf).isEmpty,
        "caught-up routed pipe must be a no-op")
      sinks.map(sp => ST.read(s, s"$root/${sp.name}").withColumn("sink", lit(sp.name)))
        .reduce(_ unionByName _)
        .select("sink", "doc_id", "n_tok", "source", "tok_str")
        .orderBy("sink", "doc_id")
    }),

    // persisted per-commit lineage + metrics: after the same three-batch
    // routed pipe (K=1 — one sink snapshot per source batch), each sink's
    // manifest chain IS the metrics record: per-chunk routed-row counts
    // (added_rows) and the running total, recoverable from metadata alone —
    // including zero-row chunks, which still commit (a gap would be
    // indistinguishable from an unprocessed chunk).
    "pipe_snap_hist" -> ((s, dir) => {
      import graft.operators.{Route, SnapshotPipe, SnapshotTable => ST}
      val src = java.nio.file.Files.createTempDirectory("graft_sphist_src").toString
      val root = java.nio.file.Files.createTempDirectory("graft_sphist_sinks").toString
      val raw = graft.model.Tok.rawSequences(s.read.parquet(s"$dir/documents.parquet"))
      val sinks = Seq(
        Route.SinkSpec("big", Gte("n_tok", 8)),
        Route.SinkSpec("small", Lt("n_tok", 8)))
      def trunkOf(delta: DataFrame): DataFrame =
        delta.select(col("doc_id"), col("n_tok"), col("source"))
      (0 to 2).foreach(k => ST.append(s,
        raw.filter(col("doc_id").cast("long") % 3 === k), src, Some(s"b$k")))
      SnapshotPipe.runSinks(s, src, root, sinks, maxSnapshotsPerChunk = 1)(trunkOf)
      sinks.map(sp => ST.history(s, s"$root/${sp.name}").withColumn("sink", lit(sp.name)))
        .reduce(_ unionByName _)
        .select(col("sink"), col("snapshot_id"), col("operation"),
          regexp_extract(col("batch_id"), "incr-[0-9a-f]+-(\\d+)", 1)
            .cast("long").as("src_snap"),
          col("added_rows"), col("total_rows"))
        .orderBy("sink", "snapshot_id")
    }),

    // manifest-stats scan pruning: interleaved appends (arrival order
    // clusters nothing), then a CLUSTERED compaction (one data dir per
    // doc_id range bucket, each with manifest min/max stats); a band
    // predicate must prune dirs DRIVER-SIDE (require()d — the gate fails
    // if the plan stops pruning) and readWhere must still equal the plain
    // filtered read bit-for-bit.
    "pipe_snap_prune" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapprune").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (k <- 0 to 2)
        ST.append(s, docs.filter(col("doc_id") % 3 === k), t, Some(s"b$k"),
          statsBy = Seq("doc_id"))
      ST.compact(s, t, targetFiles = 8, sortBy = Seq("doc_id"))
      val m = ST.manifest(s, t, ST.latestId(s, t).get)
      val range = ST.KeyRange("doc_id", Some(100L), Some(199L))
      val (kept, pruned) = ST.planScan(m, range)
      require(pruned.nonEmpty && kept.size < m.live.size,
        s"clustered compaction must prune dirs for a band predicate " +
          s"(kept=${kept.size} of ${m.live.size})")
      ST.readWhere(s, t, range).orderBy("doc_id")
    }),

    // Z-ORDER clustered compaction: interleaved-bit quantile buckets on
    // (doc_id, n_chars) so per-dir manifest stats stay tight in BOTH
    // dimensions — a band on either column prunes dirs (require()d), where
    // a plain sort could only prune its leading column. The gate reads the
    // NON-leading-dimension band (n_chars) and must equal the plain filter.
    "pipe_snap_zorder" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapz").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"), col("source"))
      for (k <- 0 to 2)
        ST.append(s, docs.filter(col("doc_id") % 3 === k), t, Some(s"b$k"),
          statsBy = Seq("doc_id", "n_chars"))
      ST.compact(s, t, targetFiles = 16, zorderBy = Seq("doc_id", "n_chars"))
      val m = ST.manifest(s, t, ST.latestId(s, t).get)
      val byId = ST.planScan(m, ST.KeyRange("doc_id", Some(100L), Some(199L)))
      val byLen = ST.planScan(m, ST.KeyRange("n_chars", Some(100L), Some(150L)))
      require(byId._2.nonEmpty && byLen._2.nonEmpty,
        s"zorder must prune both dims (doc_id kept ${byId._1.size}/${m.live.size}, " +
          s"n_chars kept ${byLen._1.size}/${m.live.size})")
      ST.readWhere(s, t, ST.KeyRange("n_chars", Some(100L), Some(150L)))
        .orderBy("doc_id")
    }),

    // per-dir BLOOM sidecar pruning for POINT lookups: appends are
    // arrival-interleaved (doc_id % 3), so every dir spans the full id
    // range and min/max bounds keep everything — only the Bloom sketches
    // can prove a key absent from a dir. require()s that bounds alone keep
    // ALL dirs AND blooms prune some: the gate fails if either side of
    // that contrast stops holding. Result = three point lookups, exact.
    "pipe_snap_bloom" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapbloom").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (k <- 0 to 2)
        ST.append(s, docs.filter(col("doc_id") % 3 === k), t, Some(s"b$k"),
          statsBy = Seq("doc_id"), bloomBy = Seq("doc_id"))
      val m = ST.manifest(s, t, ST.latestId(s, t).get)
      val keys = Seq(5L, 100L, 250L)
      keys.foreach { k =>
        val boundsKept = ST.planScan(m, ST.KeyRange("doc_id", Some(k), Some(k)))._1
        require(boundsKept.size == m.live.size,
          s"interleaved dirs must defeat min/max for doc_id=$k (kept ${boundsKept.size})")
        val (kept, pruned) = ST.planScanEq(s, t, m, "doc_id", k)
        require(pruned.nonEmpty,
          s"bloom must prune dirs for doc_id=$k (kept ${kept.size}/${m.live.size})")
      }
      keys.map(k => ST.readWhereEq(s, t, "doc_id", k))
        .reduce(_ unionByName _).orderBy("doc_id")
    }),

    // RUNTIME (dimension-driven) scan pruning — the star-join DPP shape:
    // interleaved appends (doc_id % 4 bands) defeat min/max bounds, so
    // the Bloom sidecars do the pruning; joinPruned collects the filtered
    // dimension's keys driver-side (multiples of 100, all ≡ 0 mod 4 —
    // they live in ONE dir), keeps only dirs that might contain one, and
    // broadcasts the dim into the join. require()d: bounds alone keep
    // everything, planScanIn prunes, decided before any fact IO.
    "pipe_snap_dpp" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapdpp").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
      for (k <- 0 to 3)
        ST.append(s, docs.filter(col("doc_id") % 4 === k), t, Some(s"b$k"),
          statsBy = Seq("doc_id"), bloomBy = Seq("doc_id"))
      val m = ST.manifest(s, t, ST.latestId(s, t).get)
      val dim = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id"), (col("doc_id") / 100).cast("long").as("dim_tag"))
      val keys = dim.select("doc_id").collect().map(_.getLong(0)).toSeq
      // probe with an INTERIOR key: doc_id=0 sits below the odd-band minima,
      // so bounds would prune it at the edge — not the case being proven
      // (minOption: a tiny corpus may have no positive multiple of 100)
      keys.filter(_ > 0).minOption.foreach { probe =>
        require(ST.planScan(m,
            ST.KeyRange("doc_id", Some(probe), Some(probe)))._1.size ==
          m.live.size, "interleaved dirs must defeat min/max bounds")
      }
      val (kept, pruned) = ST.planScanIn(s, t, m, "doc_id", keys)
      require(pruned.nonEmpty && kept.size < m.live.size,
        s"key-set pruning must drop dirs (kept ${kept.size}/${m.live.size})")
      ST.joinPruned(s, t, dim, "doc_id")
        .select(col("doc_id"), col("source"), col("dim_tag"))
        .orderBy("doc_id")
    }),

    // row-level UPSERT + DELETE (copy-on-write): upsert a delta that
    // updates every 10th doc and inserts clones at doc_id+100000, then
    // delete a doc_id band; the final table is last-write-wins over the
    // key with the band removed
    "pipe_snap_upsert" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapmerge").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      ST.append(s, base.filter(col("doc_id") % 2 === 0), t, Some("even"),
        statsBy = Seq("doc_id"))
      ST.append(s, base.filter(col("doc_id") % 2 === 1), t, Some("odd"))
      val updates = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("patched"))
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = base.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
      ST.upsert(s, t, updates.unionByName(inserts), "doc_id")
      ST.delete(s, t, ST.KeyRange("doc_id", Some(50L), Some(99L)))
      ST.read(s, t).orderBy("doc_id")
    }),

    // `files` metadata table: per-dir manifest min/max bounds + Bloom
    // coverage as a queryable DataFrame, recovered from ONE driver-side
    // manifest read — the scan-planning view (WHY a dir is kept or
    // pruned) a 100 TB operator inspects. Bounds must equal per-batch
    // SQL aggregates exactly.
    "pipe_snap_files" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapfiles").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (k <- 0 to 2)
        ST.append(s, docs.filter(col("doc_id") % 3 === k), t, Some(s"b$k"),
          statsBy = Seq("doc_id", "n_chars"), bloomBy = Seq("doc_id"))
      ST.files(s, t)
        .select(col("dir"), col("column"), col("tpe"),
          col("min").cast("long").as("min_v"), col("max").cast("long").as("max_v"),
          col("has_bloom"))
        .orderBy("dir", "column")
    }),

    // snapshot ROLLBACK: a metadata-only 'rollback' commit mirrors the
    // target's state AND its batch ledger — history stays append-only
    // (the bad snapshot remains time-travelable until expiry), and replay
    // detection keeps meaning "rows present": the rolled-back batch
    // re-applies, the retained prefix keeps skipping. All three contracts
    // are require()d; the output is the restored b0+b1 state.
    "pipe_snap_rollback" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snaprb").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (k <- 0 to 2)
        ST.append(s, base.filter(col("doc_id") % 3 === k), t, Some(s"b$k"))
      ST.rollback(s, t, 1) // undo the b2 ingest (snapshot 3)
      require(ST.asOf(s, t, 2).count() == base.count(),
        "the rolled-back snapshot must stay time-travelable")
      require(ST.append(s, base.filter(col("doc_id") % 3 === 1), t, Some("b1"))
        .skippedExisting, "retained prefix must keep skipping replays")
      require(!ST.append(s, base.filter(col("doc_id") % 3 === 2), t, Some("b2"))
        .skippedExisting, "the rolled-back batch's rows are gone — it must re-apply")
      ST.rollback(s, t, 1) // and undo the re-ingest too (snapshot 5)
      val ops = ST.history(s, t).orderBy("snapshot_id")
        .select("operation").collect().map(_.getString(0)).toSeq
      require(ops == Seq("append", "append", "append", "rollback", "append", "rollback"),
        s"unexpected history $ops")
      ST.read(s, t).orderBy("doc_id")
    }),

    // row-level CDC over a mixed chain: the dir-local copy-on-write diff
    // recovers exactly which rows each commit net-added / net-removed —
    // upsert = delete(old)+insert(new) per changed key, range delete =
    // deletes only, compaction = silence — without any row-id or
    // pre-image column in the table.
    "pipe_snap_cdc" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapcdc").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      ST.append(s, base.filter(col("doc_id") % 2 === 0), t, Some("even"),
        statsBy = Seq("doc_id"))
      ST.append(s, base.filter(col("doc_id") % 2 === 1), t, Some("odd"))
      val updates = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("patched"))
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = base.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
      ST.upsert(s, t, updates.unionByName(inserts), "doc_id")     // snap 2
      ST.delete(s, t, ST.KeyRange("doc_id", Some(50L), Some(99L))) // snap 3
      ST.compact(s, t)                             // snap 4: contributes nothing
      ST.changelogCdc(s, t, -1L, ST.latestId(s, t).get)
        .select(col("_snapshot_id"), col("_change_type"),
          col("doc_id"), col("source"), col("n_chars"))
        .orderBy("_snapshot_id", "_change_type", "doc_id")
    }),

    // merge-on-read equality deletes (Iceberg v2): the delete commits k
    // keys WITHOUT rewriting any data dir (require()d: live set unchanged,
    // nothing added — the O(delta) delete a 100 TB table needs), readers
    // anti-join, and the SEQUENCE rule lets a later re-append of deleted
    // keys survive (%21 ⊂ %7, so every re-appended row is a deleted key).
    // Compaction materializes: the delete list empties and the read is
    // unchanged — the oracle sees straight filter arithmetic.
    "pipe_snap_mor" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapmor").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (k <- 0 to 2)
        ST.append(s, base.filter(col("doc_id") % 3 === k), t, Some(s"b$k"),
          statsBy = Seq("doc_id"))
      val preLive = ST.manifest(s, t, 2).live
      ST.deleteKeys(s, t,
        base.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id") // snap 3
      val m = ST.manifest(s, t, 3)
      require(m.operation == "mor-delete" && m.added.isEmpty && m.live == preLive,
        s"MOR delete must rewrite nothing (added=${m.added.size})")
      require(ST.asOf(s, t, 2).count() == base.count(),
        "time travel before the MOR delete must see every row")
      ST.append(s, base.filter(col("doc_id") % 21 === 0)
        .withColumn("n_chars", col("n_chars") + 5000L), t, Some("re"))   // snap 4
      ST.compact(s, t)                                                   // snap 5
      require(ST.manifest(s, t, 5).deletes.isEmpty,
        "compaction must materialize and clear the delete files")
      ST.read(s, t).orderBy("doc_id", "n_chars")
    }),

    // HIDDEN-PARTITIONED appends (Iceberg partition-spec analogue): every
    // batch commits one live dir per transform value (lang), each with its
    // own manifest stats — a lang predicate prunes every other partition
    // driver-side at INGEST shape, no compaction pass needed (require()d:
    // only _p=zh dirs survive the plan)
    "pipe_snap_part" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snappart").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      ST.appendPartitioned(s, base.filter(col("doc_id") % 2 === 0), t,
        col("lang"), Some("b0"), statsBy = Seq("lang", "doc_id"))
      ST.appendPartitioned(s, base.filter(col("doc_id") % 2 === 1), t,
        col("lang"), Some("b1"))
      val m = ST.manifest(s, t, 1)
      val (kept, pruned) = ST.planScan(m, ST.KeyRange("lang", Some("zh"), Some("zh")))
      require(pruned.nonEmpty && kept.forall(_.endsWith("_p=zh")),
        s"lang predicate must keep only zh partitions (kept=$kept)")
      ST.readWhere(s, t, ST.KeyRange("lang", Some("zh"), Some("zh")))
        .orderBy("doc_id")
    }),

    // DYNAMIC PARTITION OVERWRITE: a lang-partitioned table restates two
    // partitions (zh/de: only even doc_ids survive, +1000 chars) in ONE
    // atomic commit. require()d: the commit adds only zh/de dirs and every
    // other partition's dir carries over BY IDENTITY (the restate touches
    // nothing else — cost ∝ replaced partitions, never table size); a
    // replayed batch id skips via the carried ledger; insert-only
    // incremental reads across the row-removing commit fail loudly.
    "pipe_snap_dynover" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapdyn").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      ST.appendPartitioned(s, base, t, col("lang"), Some("b0"),
        statsBy = Seq("doc_id"))
      val patch = base
        .filter(col("lang").isin("zh", "de") && col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val c1 = ST.overwritePartitions(s, patch, t, col("lang"), Some("b1"))
      val m0 = ST.manifest(s, t, 0)
      val m1 = ST.manifest(s, t, c1.snapshotId)
      def restated(d: String) = d.endsWith("_p=zh") || d.endsWith("_p=de")
      require(m1.added.nonEmpty && m1.added.forall(restated),
        s"overwrite must add only zh/de dirs (added=${m1.added})")
      require(m0.live.filterNot(restated).forall(m1.live.contains),
        "untouched partitions must carry over by identity")
      require(ST.overwritePartitions(s, patch, t, col("lang"), Some("b1"))
        .skippedExisting, "replayed batch id must skip via the ledger")
      val incrFails =
        try { ST.incremental(s, t, 0, c1.snapshotId); false }
        catch { case _: RuntimeException => true }
      require(incrFails, "insert-only incremental across dynoverwrite must fail")
      ST.read(s, t).orderBy("doc_id")
    }),

    // CDC-DRIVEN incremental materialization (SnapshotPipe.runCdc): a sink
    // mirrors a row-wise FILTER of the source through row-level changes,
    // crossing the MOR upsert and key-delete commits the insert-only pipe
    // refuses. The filter (source <> 'patched') makes the upsert MOVE every
    // %10 row out of the sink's scope — the pipe must retract them (keys
    // are taken before the transform). require()d: the second run commits
    // only delta chunks, a third run is a no-op. Oracle = last-write-wins
    // + key-delete + filter arithmetic.
    "pipe_snap_mirror" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST, SnapshotPipe => SP}
      val t = java.nio.file.Files.createTempDirectory("graft_snapmirror_src").toString
      val sink = java.nio.file.Files.createTempDirectory("graft_snapmirror_sink").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      ST.append(s, base.filter(col("doc_id") % 2 === 0), t, Some("even"),
        statsBy = Seq("doc_id"))
      ST.append(s, base.filter(col("doc_id") % 2 === 1), t, Some("odd"))
      val filt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        _.filter(col("source") =!= "patched")
      SP.runCdc(s, t, sink, "doc_id")(filt)
      val preCommits = ST.history(s, sink).count()
      val updates = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("patched"))
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = base.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
      ST.upsertKeys(s, t, updates.unionByName(inserts), "doc_id")
      ST.deleteKeys(s, t,
        base.filter(col("doc_id") % 9 === 0).select("doc_id"), "doc_id")
      val r2 = SP.runCdc(s, t, sink, "doc_id")(filt)
      require(r2.nonEmpty && ST.history(s, sink).count() > preCommits,
        "second run must commit delta chunks")
      require(SP.runCdc(s, t, sink, "doc_id")(filt).isEmpty,
        "a replayed run must be a no-op")
      ST.read(s, sink).orderBy("doc_id")
    }),

    // merge-on-read UPSERT: one commit carries the replacement rows (new
    // data dir) and their retraction (delete file) — require()d: exactly
    // one dir added, prior live dirs untouched, so the commit is O(delta)
    // even though the %10 update keys stride EVERY interleaved dir (the
    // CoW upsert's whole-table-rewrite worst case). Same delta arithmetic
    // as pipe_snap_merge, so the oracle is last-write-wins over the key.
    "pipe_snap_morup" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapmorup").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      ST.append(s, base.filter(col("doc_id") % 2 === 0), t, Some("even"),
        statsBy = Seq("doc_id"))
      ST.append(s, base.filter(col("doc_id") % 2 === 1), t, Some("odd"))
      val updates = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("patched"))
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = base.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
      val pre = ST.manifest(s, t, 1).live
      ST.upsertKeys(s, t, updates.unionByName(inserts), "doc_id")
      val m = ST.manifest(s, t, 2)
      require(m.operation == "mor-upsert" && m.added.size == 1 &&
        m.live.startsWith(pre),
        s"MOR upsert must add one dir and rewrite nothing (live=${m.live})")
      ST.read(s, t).orderBy("doc_id")
    }),

    // write-audit-publish staged commits: a staged batch is durable but
    // invisible (require()d), the audit view reads table ∪ staged, publish
    // cherry-picks onto the current head as an ordinary append, and a
    // REPLAYED publish of the same batch id skips — the oracle (every
    // document exactly once) fails on any duplicate or loss. A failed
    // batch discards without a trace (vacuum finds no orphans).
    "pipe_snap_wap" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapwap").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      ST.append(s, base.filter(col("doc_id") % 2 === 0), t, Some("even")) // snap 0
      ST.stage(s, base.filter(col("doc_id") % 2 === 1), t, "tok-odd", Some("odd"))
      require(ST.read(s, t).count() ==
        base.filter(col("doc_id") % 2 === 0).count(),
        "staged rows must be invisible before publish")
      require(ST.auditStaged(s, t, "tok-odd").count() == base.count(),
        "the audit view must see table plus staged")
      require(!ST.publishStaged(s, t, "tok-odd").skippedExisting,
        "first publish must commit")
      ST.stage(s, base.filter(col("doc_id") % 2 === 1), t, "tok-retry", Some("odd"))
      require(ST.publishStaged(s, t, "tok-retry").skippedExisting,
        "a replayed publish of a committed batch id must skip")
      ST.stage(s, base.filter(col("doc_id") < 10)
        .withColumn("source", lit("bad")), t, "tok-bad", Some("bad-1"))
      ST.discardStaged(s, t, "tok-bad")
      require(ST.stagedTokens(s, t).isEmpty && ST.vacuum(s, t).isEmpty,
        "discard must leave no staging debris")
      ST.read(s, t).orderBy("doc_id")
    }),

    // branch-audit-promote over the snapshot table: MOR-delete the "stale"
    // rows on main, re-ingest corrected copies on an isolated BRANCH
    // (invisible to main readers until publish), then FAST-FORWARD the
    // branch into main. Exactly-once carries across the publish (the
    // branch's batch id skips on main afterwards); the fork-pending MOR
    // delete reaches only pre-fork rows, so the corrected copies survive.
    "pipe_snap_branch" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapbr").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val stale = col("n_chars") % 7 === 0
      ST.append(s, base, t, Some("m0"))                                // snap 0
      ST.deleteKeys(s, t, base.filter(stale).select("doc_id"), "doc_id") // snap 1
      ST.createBranch(s, t, "requeue", 1L)
      val fixed = base.filter(stale).withColumn("source", lit("requeued"))
      require(!ST.appendToBranch(s, fixed, t, "requeue", Some("rq-1")).skippedExisting,
        "first branch append must commit")
      require(ST.appendToBranch(s, fixed, t, "requeue", Some("rq-1")).skippedExisting,
        "a replayed branch batch id must skip")
      require(ST.read(s, t).count() == base.filter(!stale).count(),
        "branch rows must be invisible to main readers before fast-forward")
      ST.fastForward(s, t, "requeue")
      require(ST.branches(s, t).isEmpty, "fast-forward must drop the branch")
      require(ST.append(s, fixed, t, Some("rq-1")).skippedExisting,
        "the branch's batch ledger must carry into main through the publish")
      ST.read(s, t).orderBy("doc_id")
    }),

    // MERGE INTO over the snapshot table: one atomic commit applies
    // matched-update (assignments over tgt/src), matched-delete, and
    // not-matched-insert; the replayed merge (same batch id) must skip.
    // n_chars%9=0 rows delete, other n_chars%3=0 rows update (source
    // 'merged', n_chars+1000), synthetic +10M ids insert
    "pipe_snap_merge" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapmrg").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      ST.append(s, base, t, Some("m0"), statsBy = Seq("doc_id"))
      val srcFrame = base.filter(col("n_chars") % 3 === 0)
        .select(col("doc_id"), lit("merged").as("source"), col("n_chars"))
        .unionByName(base.filter(col("n_chars") % 10 === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            lit("inserted").as("source"), col("n_chars")))
      val st = ST.merge(s, t, srcFrame, "doc_id",
        update = Some(Map("source" -> col("src.source"),
          "n_chars" -> (col("tgt.n_chars") + lit(1000)))),
        deleteIf = Some(col("tgt.n_chars") % 9 === 0),
        batchId = Some("mrg-1"))
      require(st.updated > 0 && st.deleted > 0 && st.inserted > 0,
        s"merge gate must exercise all three clauses, got $st")
      require(ST.merge(s, t, srcFrame, "doc_id", update = Some(Map.empty),
        batchId = Some("mrg-1")).commit.skippedExisting,
        "a replayed merge batch id must skip")
      require(ST.latestId(s, t).contains(1L), "merge must be ONE commit")
      ST.read(s, t).orderBy("doc_id")
    }),

    // binpack (partial) compaction under a pending MOR delete: three tiny
    // epoch-sized dirs rewrite into one (materializing their share of the
    // delete), the big dir stays physically untouched with the delete
    // still pending — and the merged read is exact either way
    "pipe_snap_binpack" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val t = java.nio.file.Files.createTempDirectory("graft_snapbp").toString
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      ST.append(s, base.filter(col("doc_id") >= 9), t)       // big
      ST.append(s, base.filter(col("doc_id") < 3), t)        // small
      ST.append(s, base.filter(col("doc_id") >= 3 && col("doc_id") < 6), t)
      ST.append(s, base.filter(col("doc_id") >= 6 && col("doc_id") < 9), t)
      ST.deleteKeys(s, t, base.filter(col("n_chars") % 11 === 0).select("doc_id"), "doc_id")
      val c = ST.compactSmall(s, t, maxBytes = 16 * 1024)
      require(!c.skippedExisting, "binpack must find the three small dirs")
      val m = ST.manifest(s, t, c.snapshotId)
      require(m.live == Seq("snap-000000", f"snap-${c.snapshotId}%06d"),
        s"binpack must leave the big dir untouched, got ${m.live}")
      require(m.deletes.size == 1,
        "the delete must stay pending for the untouched big dir")
      ST.read(s, t).orderBy("doc_id")
    }),

    // Structured Streaming table-to-table materialization through the DSv2
    // snapshot SOURCE and SINK: two source commits drained by two
    // AvailableNow runs land as exactly TWO ledgered sink snapshots
    // (delta-only; the sink's own batch ledger is the exactly-once, no
    // second checkpoint of offsets on the write side)
    "pipe_snap_sink" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val src = java.nio.file.Files.createTempDirectory("graft_sssrc").toString
      val dst = java.nio.file.Files.createTempDirectory("graft_ssdst").toString
      val chk = java.nio.file.Files.createTempDirectory("graft_sschk").toString
      val fmt = "graft.sources.SnapshotStreamSource"
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      def drain(): Unit = {
        val q = s.readStream.format(fmt).option("path", src).load()
          .withColumn("src_up", upper(col("source")))
          .writeStream.format(fmt)
          .option("path", dst).option("sink_id", "gate")
          .option("checkpointLocation", chk)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
      ST.append(s, base.filter(col("doc_id") % 2 === 0), src, Some("b0"))
      drain()
      ST.append(s, base.filter(col("doc_id") % 2 =!= 0), src, Some("b1"))
      drain()
      require(ST.latestId(s, dst).contains(1L),
        "two drained source commits must land as exactly two sink snapshots")
      require(ST.manifest(s, dst, 1L).batchCommits.map(_._1).forall(_.startsWith("stream:gate:")),
        "sink commits must be ledgered under the stream token")
      ST.read(s, dst).orderBy("doc_id")
    }),

    // SQL catalog end-to-end (SnapshotCatalog + the pre-CBO substitution
    // rule): CREATE TABLE through the DSv2 catalog, three banded inserts
    // through the SQL write path (one replayed batch id must skip via the
    // table's ledger), then a SELECT whose WHERE prunes to ONE data dir
    // driver-side (plan-asserted) feeding a grouped aggregate — and a bare
    // global count/min/max answered from the manifest alone (plan-asserted
    // LocalTableScan, zero parquet IO)
    "pipe_snap_sql" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlwh").toString
      // catalog instances cache by name per session — make the name unique
      val cat = s"gv${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.conf.set("spark.sql.maxMetadataStringLength", "2000")
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, source STRING, " +
        "n_chars BIGINT) TBLPROPERTIES (stats_by='doc_id')")
      val third = docs.agg(max("doc_id")).head.getLong(0) / 3
      def band(i: Int, f: org.apache.spark.sql.Column): Unit =
        docs.filter(f).writeTo(s"$cat.docs").option("batch_id", s"b$i").append()
      band(1, col("doc_id") < third)
      band(2, col("doc_id") >= third && col("doc_id") < 2 * third)
      band(3, col("doc_id") >= 2 * third)
      band(2, col("doc_id") >= third && col("doc_id") < 2 * third) // replay
      require(ST.latestId(s, s"$wh/docs").contains(3L),
        "the replayed SQL insert must skip through the batch ledger")
      val agg = s.sql(s"SELECT count(*) AS c, min(doc_id) AS lo, " +
        s"max(doc_id) AS hi FROM $cat.docs")
      val ap = agg.queryExecution.executedPlan.toString
      require(ap.contains("LocalTableScan") && !ap.contains("Parquet"),
        s"global count/min/max must be manifest-answered, got:\n$ap")
      require(agg.head.getLong(0) == docs.count(),
        "manifest count must equal the physical count")
      // inclusive bounds: dir pruning is hull-based (a strict `< 2*third`
      // keeps the next dir whose min IS 2*third — sound but unpruned)
      val mid = s.sql("SELECT source, count(*) AS c, min(doc_id) AS lo, " +
        "max(doc_id) AS hi, sum(n_chars) AS nch " +
        s"FROM $cat.docs WHERE doc_id BETWEEN $third AND ${2 * third - 1} " +
        "GROUP BY source ORDER BY source")
      val mp = mid.queryExecution.executedPlan.toString
      require(mp.contains("snap-000002") && !mp.contains("snap-000001") &&
        !mp.contains("snap-000003"),
        s"the banded WHERE must prune to the middle dir, got:\n$mp")
      mid
    }),

    // SQL DML end-to-end (SnapshotDmlRule): UPDATE a banded modulus subset
    // (the CoW rewrite must prune to the middle dir — manifest-asserted),
    // DELETE by a multi-column predicate (beyond the single-column
    // SupportsDelete surface), then one atomic MERGE INTO with delete/
    // update/insert clauses (first-match-wins: the conditioned DELETE
    // precedes the UPDATE); the oracle mirrors the arithmetic in SQL
    "pipe_snap_dml" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val wh = java.nio.file.Files.createTempDirectory("graft_dmlwh").toString
      val cat = s"gd${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val third = docs.agg(max("doc_id")).head.getLong(0) / 3
      val tdir = s"$wh/docs"
      ST.append(s, docs.filter(col("doc_id") < third), tdir, statsBy = Seq("doc_id"))
      ST.append(s, docs.filter(col("doc_id") >= third && col("doc_id") < 2 * third), tdir)
      ST.append(s, docs.filter(col("doc_id") >= 2 * third), tdir)
      // inclusive bounds: hull pruning would keep the third dir (its min IS
      // 2*third) under a strict `< 2*third` — same lesson as pipe_snap_sql
      s.sql(s"UPDATE $cat.docs SET source = 'patched', n_chars = n_chars + 1000 " +
        s"WHERE doc_id BETWEEN $third AND ${2 * third - 1} AND doc_id % 10 = 0")
      val m = ST.manifest(s, tdir, ST.latestId(s, tdir).get)
      require(m.live.contains("snap-000000") && m.live.contains("snap-000002") &&
        !m.live.contains("snap-000001"),
        s"the banded UPDATE must rewrite only the middle dir, live=${m.live}")
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 7 = 0 AND n_chars < 600")
      val v = s"v${cat.drop(2).take(12)}"
      docs.createOrReplaceTempView(v)
      s.sql(
        s"""MERGE INTO $cat.docs AS tt USING (
           |  SELECT doc_id, n_chars FROM $v WHERE doc_id % 9 = 0
           |  UNION ALL
           |  SELECT doc_id + 500000, n_chars FROM $v WHERE doc_id % 50 = 0) s
           |ON tt.doc_id = s.doc_id
           |WHEN MATCHED AND tt.n_chars % 2 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET source = 'm', n_chars = tt.n_chars + 1
           |WHEN NOT MATCHED THEN INSERT (doc_id, source, n_chars)
           |  VALUES (s.doc_id, 'ins', s.n_chars)
           |""".stripMargin)
      s.sql(s"SELECT doc_id, source, n_chars FROM $cat.docs ORDER BY doc_id")
    }),

    // maintenance stored procedures (CALL cat.system.*): banded ingest + a
    // CoW delete, then compact(sort_by) → ONE clustered live dir
    // (manifest-asserted), expire_snapshots(keep_last=1) → history bounded
    // AND the unreferenced pre-compaction dirs physically reclaimed
    // (return-value-asserted), vacuum → no orphans; the surviving row set
    // is oracle-checked
    "pipe_snap_call" -> ((s, dir) => {
      import graft.operators.{SnapshotTable => ST}
      val wh = java.nio.file.Files.createTempDirectory("graft_callwh").toString
      val cat = s"gc${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val third = docs.agg(max("doc_id")).head.getLong(0) / 3
      val tdir = s"$wh/docs"
      ST.append(s, docs.filter(col("doc_id") < third), tdir, statsBy = Seq("doc_id"))
      ST.append(s, docs.filter(col("doc_id") >= third && col("doc_id") < 2 * third), tdir)
      ST.append(s, docs.filter(col("doc_id") >= 2 * third), tdir)
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 11 = 0")
      val c = s.sql(s"CALL $cat.system.compact(table => 'docs', sort_by => 'doc_id')")
        .head
      require(!c.getBoolean(1), "compact of a 3-dir table must not skip")
      val cm = ST.manifest(s, tdir, c.getLong(0))
      require(cm.operation == "replace" && cm.live.size == 1,
        s"compact must leave ONE live dir, got ${cm.live}")
      val expired = s.sql(s"CALL $cat.system.expire_snapshots(table => 'docs', " +
        "keep_last => 1)").head.getSeq[String](0)
      require(expired.nonEmpty,
        "expire after compact must reclaim the unreferenced pre-compaction dirs")
      require(scala.util.Try(ST.asOf(s, tdir, 0L)).isFailure,
        "snapshot 0 must be expired")
      val orphans = s.sql(s"CALL $cat.system.vacuum(table => 'docs')")
        .head.getSeq[String](0)
      require(orphans.isEmpty, s"no orphans expected, vacuum found $orphans")
      s.sql(s"SELECT doc_id, source, n_chars FROM $cat.docs ORDER BY doc_id")
    }),

    // multiple pipelines + reload converge: create two pipelines, converge a
    // no-op, reload only the changed one (state_resolver.rb semantics); the
    // gate emits each pipeline's run count and final per-sink counts
    "lscl_pipelines" -> ((s, dir) => {
      import graft.lscl.Pipelines
      val root = java.nio.file.Files.createTempDirectory("graft_pl_gate").toString
      val reg = new Pipelines.Registry(s, root, Map.empty)
      val mainV1 = LsclE2eConfig
      val mainV2 = LsclE2eConfig.replace("[n] > 50", "[n] > 100") // warnbig empties
      val aux =
        """input { generator { count => 500 lines => ["x"] } }
          |output { sink { id => "out" } }
          |""".stripMargin
      reg.converge(Seq(Pipelines.PipelineSpec("main", mainV1),
        Pipelines.PipelineSpec("aux", aux)))
      reg.converge(Seq(Pipelines.PipelineSpec("main", mainV1),
        Pipelines.PipelineSpec("aux", aux))) // no-op: nothing re-executes
      reg.converge(Seq(Pipelines.PipelineSpec("main", mainV2),
        Pipelines.PipelineSpec("aux", aux))) // reload touches only `main`
      import s.implicits._
      reg.running.toSeq.flatMap { case (id, st) =>
        st.lastResult.get.counts.toSeq.map { case (sink, n) =>
          (id, st.runs, sink, n)
        }
      }.toDF("pipeline", "runs", "sink", "n")
        .orderBy("pipeline", "sink")
    }),

    // file input in TAIL mode (offset-tracked DSv2 source) driven from
    // config text: deterministic log file -> regex-branch tagging -> routed
    // counts; byte offsets strictly increase with line number
    "pipe_tail" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_tail_gate", ".log")
      val lines = (0 until 3000).map { i =>
        val sev = i % 3 match { case 0 => "ERROR"; case 1 => "WARN"; case _ => "INFO" }
        s"$sev event-$i"
      }
      java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" mode => "tail" } }
           |filter {
           |  if [message] =~ /^ERROR/ { mutate { add_tag => ["err"] } }
           |  else if [message] =~ /^WARN/ { mutate { add_tag => ["warn"] } }
           |}
           |output {
           |  if "err" in [tags] { sink { id => "t_err" } }
           |  else if "warn" in [tags] { sink { id => "t_warn" } }
           |  else { sink { id => "t_rest" } }
           |}
           |""".stripMargin, Map.empty)
      val trunk = graft.lscl.LsclRun.applyFilters(
        graft.lscl.LsclRun.source(s, cfg.inputs), cfg.filters)
      val specs = graft.lscl.LsclRun.sinkSpecs(cfg.outputs)
      graft.operators.Route.sinkCounts(
          graft.operators.Route.withSinkFlags(trunk, specs), specs)
        .orderBy("sink")
    }),

    // pipeline-to-pipeline ADDRESS bus: two config texts connected by a
    // virtual address (`pipeline { send_to }` output -> `pipeline { address }`
    // input, AbstractPipelineBus semantics); the downstream spec is listed
    // FIRST to prove converge topo-orders by address dependency
    "pipe_addr" -> ((s, dir) => {
      import graft.lscl.Pipelines
      val root = java.nio.file.Files.createTempDirectory("graft_addr_gate").toString
      val reg = new Pipelines.Registry(s, root, Map.empty)
      val upstream =
        """input {
          |  generator {
          |    count => 6000
          |    lines => ['{"lvl": "ERROR", "n": 80}', '{"lvl": "WARN", "n": 99}', '{"lvl": "INFO", "n": 5}']
          |    codec => json { schema => "lvl STRING, n BIGINT" }
          |  }
          |}
          |output {
          |  if [lvl] == "ERROR" { pipeline { send_to => ["procerr"] } }
          |  else { sink { id => "up_rest" } }
          |}
          |""".stripMargin
      val downstream =
        """input { pipeline { address => "procerr" } }
          |filter { mutate { add_field => { "routed" => "via-bus" } } }
          |output { sink { id => "down" } }
          |""".stripMargin
      reg.converge(Seq(
        Pipelines.PipelineSpec("down", downstream), // listed first on purpose
        Pipelines.PipelineSpec("up", upstream)))
      import s.implicits._
      val counts = reg.running.toSeq.flatMap { case (id, st) =>
        st.lastResult.get.counts.toSeq.map { case (sink, n) => (id, sink, n) }
      }.toDF("pipeline", "sink", "n")
      // plus the downstream sink's content proof: routed rows carry the field
      val down = s.read.parquet(s"$root/down/down")
        .groupBy("lvl", "routed").agg(count(lit(1)).as("n"))
        .select(lit("down").as("pipeline"), concat_ws(":", col("lvl"), col("routed")).as("sink"), col("n"))
      counts.unionByName(down).orderBy("pipeline", "sink")
    }),

    // the apache.cfg filter section run VERBATIM from config text over
    // synthesized combined-log lines: composite grok + date + geoip
    // (default-db fallback, real mmdb fixture) + useragent
    "lscl_apache" -> ((s, dir) => {
      val db = java.nio.file.Files.createTempFile("graft_apache_geo", ".mmdb").toString
      graft.operators.Mmdb.writeFixture(db, Seq(
        "10.0.0.0/11"  -> Map("country" -> Map("iso_code" -> "us")),
        "10.32.0.0/11" -> Map("country" -> Map("iso_code" -> "eu")),
        "10.64.0.0/11" -> Map("country" -> Map("iso_code" -> "apac"))))
      System.setProperty("graft.geoip.default_db", db)
      try {
        val e = s.read.parquet(s"$dir/events.parquet")
        val bytesStr = when(col("event_id") % 5 === 0, lit("-"))
          .otherwise(round(col("value")).cast("long").cast("string"))
        val line = concat(
          lit("10."), (col("user_id") % 100).cast("string"), lit("."),
          (col("event_id") % 256).cast("string"), lit(".1 - frank ["),
          date_format(col("ts").cast("timestamp"), "dd/MMM/yyyy:HH:mm:ss"),
          lit(" +0000] \""),
          when(col("event_type") === "purchase", "POST").otherwise("GET"),
          lit(" /"), col("event_type"), lit(" HTTP/1.1\" "),
          (lit(200) + (col("event_id") % 3) * 100).cast("string"), lit(" "),
          bytesStr, lit(" \"-\" \"curl/8."), (col("user_id") % 10).cast("string"),
          lit("\""))
        val cfg = graft.lscl.Lscl.parse(ApacheCfgFilter, Map.empty)
        graft.lscl.LsclRun.applyFilters(e.withColumn("message", line), cfg.filters)
          .select(col("event_id"), col("clientip"), col("verb"), col("request"),
            col("response"), col("bytes"),
            date_format(col("@timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts_utc"),
            col("geo_country_iso"), col("useragent_name"), col("useragent_version"))
          .orderBy("event_id")
      } finally System.clearProperty("graft.geoip.default_db")
    }),

    // xml filter: explicit-schema parse of an XML string field (Spark 4
    // native from_xml), driven from config text
    "evt_xml" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("message", concat(
          lit("<ev><t>"), col("event_type"),
          lit("</t><u>"), col("user_id").cast("string"),
          lit("</u><v>"), floor(col("value") * 100).cast("long").cast("string"),
          lit("</v></ev>")))
      val cfg = graft.lscl.Lscl.parse(
        """filter { xml { source => "message" schema => "t STRING, u BIGINT, v BIGINT" } }""",
        Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("xml.t").as("t"), col("xml.u").as("u"),
          col("xml.v").as("v"))
        .orderBy("event_id")
    }),

    // file output with the reference's DEFAULT codec (json_lines): the sink
    // serializes one JSON doc per line into text files; the gate reads the
    // text back, parses it, and pins the exact line bytes via their length
    "pipe_jsonl" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val cfg = graft.lscl.Lscl.parse(
        """output {
          |  if [event_type] == "view" { file { id => "views" codec => json_lines } }
          |  else { file { id => "others" } }
          |}""".stripMargin, Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      s.read.text(s"$out/views")
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, event_type STRING, user_id BIGINT")).as("j"),
          col("value"))
        .select(col("j.event_id").as("event_id"), col("j.user_id").as("user_id"),
          length(col("value")).as("line_len"))
        .orderBy("event_id")
    }),

    // elasticsearch output with a SPRINTF'D index (daily indices,
    // `index => "clicks-%{+YYYY.MM.dd}"`): the evaluated template becomes
    // the sink's _index partition column — per-day directories, prunable
    "pipe_es_daily" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_esdaily").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("@timestamp", col("ts").cast("timestamp"))
      val cfg = graft.lscl.Lscl.parse(
        """output {
          |  if [event_type] == "click" { elasticsearch { index => "clicks-%{+YYYY.MM.dd}" } }
          |  else { elasticsearch { index => "es_rest" } }
          |}""".stripMargin, Map.empty)
      val res = graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      val daily = s.read.parquet(s"$out/elasticsearch_1")
        .groupBy(col("_index").cast("string").as("idx"))
        .agg(count(lit(1)).as("n"))
      import s.implicits._
      daily.unionByName(
          Seq(("sink:es_rest", res.counts("es_rest"))).toDF("idx", "n"))
        .orderBy("idx")
    }),

    // elasticsearch INPUT over the local index model: the ES output writes
    // daily indices (partitionBy _index), the input reads them back with an
    // ES wildcard over index names (lowered onto the partition column —
    // pruned scan) and a bool query DSL (terms/range/must_not lowered to
    // native predicates, pushed to the scan); docinfo => true rides the
    // index name along as [@metadata][_index]
    "pipe_es_input" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_esin").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("@timestamp", col("ts").cast("timestamp"))
      val wcfg = graft.lscl.Lscl.parse(
        """output { elasticsearch { index => "logs-%{+YYYY.MM.dd}" } }""",
        Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(wcfg.outputs), out, writeDefault = false)
      val rcfg = graft.lscl.Lscl.parse(
        s"""input {
           |  elasticsearch {
           |    index_path => "$out/elasticsearch_1"
           |    index => "logs-2024.01.?2"
           |    query => '{"query":{"bool":{"must":[{"terms":{"event_type":["click","view"]}},{"range":{"value":{"gte":1.0,"lt":50.0}}}],"must_not":[{"term":{"user_id":7}}]}}}'
           |    docinfo => true
           |  }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.source(s, rcfg.inputs)
        .groupBy(col("_meta__index").cast("string").as("idx"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy("idx")
    }),

    // dns filter (hostsfile mode): resolve hostname fields -> addresses and
    // reverse addresses -> names against an /etc/hosts-format dimension,
    // case-insensitive names, miss leaves field unchanged + failure tag;
    // driven VERBATIM from config text
    "evt_dns" -> ((s, dir) => {
      val hf = java.nio.file.Files.createTempFile("graft_hosts", ".txt")
      java.nio.file.Files.writeString(hf,
        (0 to 6).map(i => s"10.0.0.$i host$i.example.com")
          .mkString("# test hosts\n", "\n", "\n"))
      val name = concat(lit("host"), (col("user_id") % 10).cast("string"),
        lit(".example.com"))
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("h", when(col("event_id") % 4 === 0, upper(name)).otherwise(name))
        .withColumn("a", concat(lit("10.0.0."), (col("user_id") % 10).cast("string")))
      val cfg = graft.lscl.Lscl.parse(
        s"""filter {
           |  dns {
           |    resolve => ["h"]
           |    reverse => ["a"]
           |    hostsfile => "$hf"
           |    tag_on_failure => ["_dnsfail"]
           |  }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("h"), col("a"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // elapsed filter from CONFIG TEXT (logstash-filter-elapsed): start/end
    // correlation by unique id — matched ends get elapsed_time + tags,
    // orphan ends and expired starts get their failure tags
    "lscl_elapsed" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("task", (col("user_id") % 50).cast("string"))
        .withColumn("tags",
          when(col("event_id") % 3 === 0, array(lit("taskStarted")))
            .when(col("event_id") % 3 === 1, array(lit("taskEnded")))
            .otherwise(array().cast("array<string>")))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  elapsed {
          |    start_tag => "taskStarted"
          |    end_tag => "taskEnded"
          |    unique_id_field => "task"
          |    timestamp_field => "ts"
          |  }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"),
          floor(col("elapsed_time") * 1000000.0 + 0.5) / 1000000.0
            as "elapsed_q",
          date_format(col("elapsed_timestamp_start"), "yyyy-MM-dd HH:mm:ss")
            .as("start_s"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // csv OUTPUT plugin (logstash-output-csv): selected fields joined per
    // line into text files, read back verbatim
    "pipe_csv_out" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_csvout").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val cfg = graft.lscl.Lscl.parse(
        """output {
          |  if [event_type] == "view" { csv { id => "views_csv" fields => ["event_id", "event_type", "user_id"] } }
          |}""".stripMargin, Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      s.read.text(s"$out/views_csv")
        .select(col("value").as("line"))
        .orderBy("line")
    }),

    // syslog INPUT (logstash-input-syslog): listener/archive -> RFC 3164
    // grok parse -> PRI decompose; malformed lines tagged
    // _grokparsefailure_sysloginput with the reference's default PRI 13
    "lscl_syslog" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_syslog_gate", ".log")
      val lines = (0 until 1200).map { i =>
        if (i % 10 == 9) s"garbage line $i"
        else {
          val pid = if (i % 3 == 0) s"[${100 + i % 50}]" else ""
          f"<${i % 192}>Oct 11 22:${10 + i % 50}:${i % 60}%02d host${i % 5} app$pid: event $i"
        }
      }
      java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { syslog { path => "$f" } }""", Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("message"), col("priority"), col("severity"), col("facility"),
          col("logsource"), col("program"), col("pid"), col("stamp"), col("msgbody"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("message")
    }),

    // elasticsearch output with document_id (the idempotent-upsert surface):
    // one row per rendered id survives in the sink — duplicate/replayed
    // events collapse, via groupBy(min(struct)) keyed on the id (the ES
    // shard-routing analogue)
    "pipe_es_docid" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_docid").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val cfg = graft.lscl.Lscl.parse(
        """output {
          |  elasticsearch { index => "evts" document_id => "%{user_id}:%{event_type}" }
          |}""".stripMargin, Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      s.read.parquet(s"$out/evts")
        .select(col("_docid"), col("event_id"), col("event_type"), col("user_id"))
        .orderBy("_docid")
    }),

    // http ENRICH filter from config text (logstash-filter-http, batch-sane:
    // one fetch per distinct rendered url -> broadcast dimension join; see
    // Enrich.httpLookup). A live local endpoint answers 200 with a
    // deterministic body except for k=view (404 -> _httprequestfailure tag,
    // null body); error rows are excluded by the conditional and never fetch
    "lscl_http" -> ((s, dir) => {
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(0), 0)
      server.createContext("/lookup", (ex: com.sun.net.httpserver.HttpExchange) => {
        val k = ex.getRequestURI.getQuery.substring(2) // "k=<value>"
        try {
          if (k == "view") ex.sendResponseHeaders(404, -1)
          else {
            val body = (k.toUpperCase + ":" + k.length).getBytes("UTF-8")
            ex.sendResponseHeaders(200, body.length)
            ex.getResponseBody.write(body)
          }
        } finally ex.close()
      })
      server.start()
      try {
        val e = s.read.parquet(s"$dir/events.parquet")
        val cfg = graft.lscl.Lscl.parse(
          s"""filter {
             |  if [event_type] != "error" {
             |    http {
             |      url => "http://127.0.0.1:${server.getAddress.getPort}/lookup?k=%{event_type}"
             |      target_body => "resp"
             |    }
             |  }
             |}""".stripMargin, Map.empty)
        // applyFilters fetches eagerly (distinct urls -> driver HTTP calls),
        // so the server can stop before the frame materializes
        graft.lscl.LsclRun.applyFilters(e, cfg.filters)
          .select(col("event_id"), col("resp"),
            array_join(col("tags"), ",").as("tag_str"))
          .orderBy("event_id")
      } finally server.stop(0)
    }),

    // ES output action variants (logstash-output-elasticsearch `action`,
    // sprintf'd per event): delete tombstones the id, create keeps the
    // FIRST event per id, index keeps the LAST — one grouped reduction over
    // the document_id machinery (Route.SinkSpec.esAction)
    "pipe_es_action" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_esact").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"))
        .withColumn("grp", (col("event_id") % 101).cast("string"))
        .withColumn("act",
          when(col("event_type") === "error", "delete")
            .when(col("event_type") === "click", "create")
            .otherwise("index"))
      val cfg = graft.lscl.Lscl.parse(
        """output {
          |  elasticsearch { index => "evts"
          |                  document_id => "%{user_id}:%{grp}"
          |                  action => "%{act}" }
          |}""".stripMargin, Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      s.read.parquet(s"$out/evts")
        .select(col("_docid"), col("event_id"), col("event_type"), col("user_id"))
        .orderBy("_docid")
    }),

    // json codec top-level ARRAY fan-out (Event.fromJson, Event.java:302-340):
    // an array message becomes one event per element, an object stays one
    // event — dual-parse + explode, schema-explicit, single narrow pass
    "evt_jsonarr" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("message",
          when(col("event_id") % 3 === 0,
            concat(lit("[{\"k\": "), (col("user_id") % 50).cast("string"),
              lit("}, {\"k\": "), (col("user_id") % 50 + 100).cast("string"),
              lit("}]")))
            .otherwise(concat(lit("{\"k\": "), (col("user_id") % 50).cast("string"),
              lit("}"))))
      graft.operators.Codec.jsonFanout(e, "message", "k BIGINT")
        .select(col("event_id"), col("parsed.k").as("k"))
        .orderBy("event_id", "k")
    }),

    // jdbc_static-shaped lookup from CONFIG TEXT: a file-backed
    // pre-materialized dimension (the filter's local_lookups model,
    // transforming-data.asciidoc:364-425) broadcast-joined on the event key,
    // packed under the target struct; misses yield a null struct
    "lscl_jdbc" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_jdbc_dim", ".csv")
      java.nio.file.Files.writeString(f,
        "event_type,descr,code\nclick,Click event,1\nview,View event,2\nsignup,Signup event,3\n")
      val cfg = graft.lscl.Lscl.parse(
        s"""filter {
           |  jdbc_static {
           |    dimension_path => "$f"
           |    lookup_key => "event_type"
           |    columns => ["descr", "code"]
           |    target => "dim"
           |  }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(s.read.parquet(s"$dir/events.parquet"), cfg.filters)
        .select(col("event_id"), col("dim.descr").as("descr"), col("dim.code").as("code"))
        .orderBy("event_id")
    }),

    // alter (coalesce/condrewrite/condrewriteother) + i18n transliterate +
    // elasticsearch filter LOCAL-INDEX model (pre-exported index ->
    // top-1-by-sort hit collapsed before a broadcast join, miss tagged)
    "lscl_alter" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_esidx", ".csv")
      java.nio.file.Files.writeString(f,
        "event_type,ets,info\nclick,5,ci1\nclick,9,ci2\nview,3,vi1\nsignup,7,si1\n")
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("accented", concat(lit("Üté-"), col("event_type")))
      val cfg = graft.lscl.Lscl.parse(
        s"""filter {
           |  i18n { transliterate => ["accented"] }
           |  alter {
           |    coalesce => ["note", "%{missing_field}", "%{event_type}"]
           |    condrewrite => ["note", "click", "CLICKED"]
           |    condrewriteother => ["event_type", "view", "viewflag", "yes"]
           |  }
           |  elasticsearch {
           |    index_path => "$f"
           |    query_template => { "event_type" => "%{event_type}" }
           |    sort => "ets:desc"
           |    fields => { "info" => "last_info" }
           |  }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("accented"), col("note"), col("viewflag"),
          col("last_info"), array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // jdbc_streaming driven from CONFIG TEXT: parameterized local-lookup
    // model — 1:N dimension collects into a per-key ARRAY before the
    // broadcast join (the reference's list-of-rows result), row-count
    // preserving, empty list on miss
    "lscl_jdbcs" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_jdbcs_dim", ".csv")
      java.nio.file.Files.writeString(f,
        "event_type,tag,weight\nclick,c1,1\nclick,c2,2\nview,v1,3\n" +
          "signup,s1,4\nsignup,s2,5\nsignup,s3,6\n")
      val cfg = graft.lscl.Lscl.parse(
        s"""filter {
           |  jdbc_streaming {
           |    dimension_path => "$f"
           |    statement => "select tag, weight from dim where event_type = :et"
           |    parameters => { "event_type" => "event_type" }
           |    target => "rows"
           |  }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(s.read.parquet(s"$dir/events.parquet"), cfg.filters)
        .select(col("event_id"), size(col("rows")).as("n_rows"),
          array_join(transform(col("rows"), r => r.getField("tag")), ",").as("tags_j"))
        .orderBy("event_id")
    }),

    // jdbc INPUT against a real embedded database (Derby): statement with
    // :name parameter substitution runs through Spark's JDBC source
    // executor-side; lowercase column folding; dimension joined back to
    // events broadcast (the reference's scheduled-SELECT ingest shape)
    "lscl_jdbc_in" -> ((s, dir) => {
      val dbPath = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_jdbc_in_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      val url = s"jdbc:derby:$dbPath;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.executeUpdate("DROP TABLE DIM")
        catch { case _: java.sql.SQLException => () }
        st.executeUpdate(
          "CREATE TABLE DIM (EVENT_TYPE VARCHAR(16), LABEL VARCHAR(8), FACTOR INT)")
        val ins = conn.prepareStatement("INSERT INTO DIM VALUES (?, ?, ?)")
        Seq(("click", "c", 2), ("view", "v", 3), ("signup", "s", 5),
            ("error", "e", 7), ("purchase", "p", 1)).foreach { case (t, l, f) =>
          ins.setString(1, t); ins.setString(2, l); ins.setInt(3, f); ins.addBatch()
        }
        ins.executeBatch()
      } finally conn.close()
      val cfg = graft.lscl.Lscl.parse(
        s"""input {
           |  jdbc {
           |    jdbc_connection_string => "$url"
           |    statement => "SELECT EVENT_TYPE, LABEL, FACTOR FROM DIM WHERE FACTOR >= :minf"
           |    parameters => { "minf" => "3" }
           |  }
           |}""".stripMargin, Map.empty)
      val dim = graft.lscl.LsclRun.source(s, cfg.inputs)
      val e = s.read.parquet(s"$dir/events.parquet")
      e.join(broadcast(dim), Seq("event_type"), "left")
        .groupBy("event_type", "label", "factor")
        .agg(count(lit(1)).as("n"),
          sum(col("user_id") * coalesce(col("factor"), lit(0))).as("wsum"))
        .orderBy("event_type")
    }),

    // csv + schema'd json_lines INPUT codecs on the file input: named
    // columns (no header), explicit DDL schema (no inference scan)
    "lscl_csvcodec" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_csvcodec", ".csv")
      val sb = new java.lang.StringBuilder
      (0 until 300).foreach(i =>
        sb.append("r").append(i).append(',').append(i * 2)
          .append(",t").append(i % 7).append('\n'))
      java.nio.file.Files.writeString(f, sb.toString)
      val fj = java.nio.file.Files.createTempFile("graft_jlcodec", ".jsonl")
      val sj = new java.lang.StringBuilder
      (0 until 100).foreach(i =>
        sj.append(s"""{"rid":"j$i","jn":${i * 3}}""").append('\n'))
      java.nio.file.Files.writeString(fj, sj.toString)
      val cfg = graft.lscl.Lscl.parse(
        s"""input {
           |  file { path => "$f" codec => csv { columns => ["rid", "numstr", "tag"] } }
           |  file { path => "$fj" codec => json_lines { schema => "rid STRING, jn BIGINT" } }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("rid"), col("numstr"), col("tag"), col("jn"))
        .orderBy("rid")
    }),

    // yaml filter from CONFIG TEXT: codegen'd SnakeYAML->JSON transcode
    // feeding the schema'd one-pass expansion (no inference scan); invalid
    // documents tag _yamlparsefailure with all extracted fields null
    "lscl_yaml" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("message",
          when(col("event_id") % 5 === 0, lit("lvl: [unclosed"))
            .otherwise(concat(
              lit("lvl: "), col("event_type"),
              lit("\nn: "), (col("user_id") % 100).cast("string"),
              lit("\nmeta:\n  flag: "), (col("event_id") % 2 === 0).cast("string"))))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  yaml {
          |    source => "message"
          |    schema => "lvl STRING, n BIGINT, meta STRUCT<flag: BOOLEAN>"
          |  }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("lvl"), col("n"),
          col("meta").getField("flag").as("flag"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // syslog_pri + cidr + anonymize driven from CONFIG TEXT: PRI decompose,
    // network-membership tagging via the decorator, keyed-hash overwrite
    "lscl_net" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("pri", (col("user_id") % 192).cast("int"))
        .withColumn("ip",
          when(col("event_id") % 3 === 0,
            concat(lit("10."), (col("user_id") % 256).cast("string"), lit(".0.1")))
            .otherwise(lit("172.16.0.1")))
        .withColumn("secret", concat(lit("s-"), col("user_id").cast("string")))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  syslog_pri { syslog_pri_field_name => "pri" }
          |  cidr {
          |    address => ["%{ip}"]
          |    network => ["10.0.0.0/9"]
          |    add_tag => ["internal"]
          |  }
          |  anonymize { fields => ["secret"] key => "salt" }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("syslog_severity_code"),
          col("syslog_facility_code"), array_join(col("tags"), ",").as("tag_str"),
          col("secret"))
        .orderBy("event_id")
    }),

    // file output with a SPRINTF'D path (env_variables_condition_spec.yml:
    // 74-80): the rendered per-event path becomes the sink's partition —
    // per-path files via one dynamic-overwrite write, date/value-prunable
    "pipe_file_paths" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_fpaths").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val cfg = graft.lscl.Lscl.parse(
        """output {
          |  file { id => "bytype" path => "/logs/%{event_type}.log" }
          |}""".stripMargin, Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      s.read.parquet(s"$out/bytype")
        .groupBy(col("_index").cast("string").as("path"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uid_sum"))
        .orderBy("path")
    }),

    // reserved-field hygiene on the json ingest path (Event.java:100-130,
    // reserved_tags_field_spec.yml): numeric tags -> _tags +
    // _tagsparsefailure; unparseable @timestamp string -> tag + original
    // preserved in _@timestamp + null timestamp
    "evt_reserved" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("message", concat(
          lit("{\"tags\": "), (col("user_id") % 7).cast("string"),
          lit(", \"@timestamp\": \""),
          when(col("event_id") % 4 === 0,
            concat(lit("not-a-time-"), col("event_id").cast("string")))
            .otherwise(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss")),
          lit("\"}")))
      val cfg = graft.lscl.Lscl.parse(
        """filter { json { source => "message" schema => "tags BIGINT, `@timestamp` STRING" } }""",
        Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("_tags"),
          array_join(col("tags"), ",").as("tag_str"),
          date_format(col("@timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts_parsed"),
          col("_@timestamp"))
        .orderBy("event_id")
    }),

    // rubydebug codec (the stdout output's default): awesome_print event
    // hash — keys right-aligned at plan time (static schema), Ruby-inspect
    // value rendering (quoted/escaped strings, bare numerics, nil,
    // ISO8601+Z timestamps). The props column carries JSON quotes, so the
    // escape chain is exercised on every row.
    "evt_rubydebug" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("ts"), col("props"))
      e.select(col("event_id"), graft.operators.Codec.rubydebug(e).as("debug"))
        .orderBy("event_id")
    }),

    // codec => multiline on an LSCL file input (mixed_codec_spec.yml
    // surface): continuation lines (leading space) reassemble into their
    // head line's event via the offset-ordered tail source; event_group is
    // the running head count, n_lines the reassembled size
    "lscl_multiline" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_ml_gate", ".log")
      val sb = new java.lang.StringBuilder
      (0 until 900).foreach { i =>
        sb.append("EV").append(i).append(" start\n")
        (1 to i % 3).foreach(j =>
          sb.append("  cont ").append(i).append(' ').append(j).append('\n'))
      }
      java.nio.file.Files.writeString(f, sb.toString)
      val cfg = graft.lscl.Lscl.parse(
        s"""input {
           |  file {
           |    path => "$f"
           |    codec => multiline { pattern => "^ " what => "previous" }
           |  }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("event_group"), col("message"), col("n_lines"))
        .orderBy("event_group")
    }),

    // multiline codec BUFFER CAPS (reference max_lines/max_bytes): a
    // continuation run exceeding max_lines flushes as its own piece tagged
    // multiline_codec_max_lines_reached; the final piece (natural end) is
    // untagged. Groups of 1..7 lines, max_lines=3 -> 1..3 pieces per group
    "lscl_mlcap" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_mlcap_gate", ".log")
      val sb = new java.lang.StringBuilder
      (0 until 300).foreach { i =>
        sb.append('G').append(i).append('\n')
        (1 to i % 7).foreach(j =>
          sb.append(" c").append(i).append('-').append(j).append('\n'))
      }
      java.nio.file.Files.writeString(f, sb.toString)
      val cfg = graft.lscl.Lscl.parse(
        s"""input {
           |  file {
           |    path => "$f"
           |    codec => multiline { pattern => "^ " what => "previous"
           |                         max_lines => 3 }
           |  }
           |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("event_group"), col("message"), col("n_lines"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_group", "message")
    }),

    // schema-reshaping mutate UNDER A CONDITIONAL (CommonActions.java:50-73
    // contract): rename moves the value and nulls the source on matched rows
    // only; convert normalizes matched values through the target type
    // (double -> long -> double truncation visible); copy is predicate-gated
    "lscl_condmut" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      // split/join under the conditional normalize through the target type:
      // matched "click-x" splits to [click, x] then joins to "click+x";
      // unmatched scalars pass through as 1-element arrays and join back to
      // themselves
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  mutate { add_field => { "etype2" => "%{event_type}-x" } }
          |  if [event_type] == "click" {
          |    mutate {
          |      rename => { "props" => "p2" }
          |      convert => { "value" => "integer" }
          |      copy => { "event_type" => "etype_copy" }
          |      split => { "etype2" => "-" }
          |    }
          |    mutate { join => { "etype2" => "+" } }
          |  }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("props"), col("p2"), col("value"),
          col("etype_copy"), col("etype2"))
        .orderBy("event_id")
    }),

    // conditional PARSE chain driven from CONFIG TEXT — the reference's
    // bread-and-butter shape (docs/static/transforming-data.asciidoc:411-424
    // nests date and enrich filters under `if [type] == "end"`): grok + kv +
    // date inside an `if` branch. Extraction columns stay NULL on rows the
    // branch excludes; grok's failure tag fires only on branch rows whose
    // pattern misses (three states: error = untouched/null, click = parsed,
    // other types = tagged _grokparsefailure)
    "lscl_condparse" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  mutate { add_field => { "line" => "u=%{user_id} t=%{event_type}"
          |                          "dstr" => "%{+YYYY-MM-dd}" } }
          |  if [event_type] != "error" {
          |    grok { match => { "line" => "u=%{INT:uid:int} t=click" } }
          |    kv { source => "line" target => "kvm" }
          |    date { match => ["dstr", "yyyy-MM-dd"] target => "pts" }
          |  }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("uid"),
          element_at(col("kvm"), "u").as("kv_u"),
          col("pts").cast("string").as("pts_str"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // throttle filter driven from CONFIG TEXT (logstash-filter-throttle):
    // sprintf'd key, epoch timeslots, before/after band, decorator tag on
    // matched events — lowered onto Stateful.throttleMatched
    "lscl_throttle" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  throttle {
          |    key => "%{event_type}"
          |    period => 86400
          |    before_count => 3
          |    after_count => 5
          |    timestamp_field => "ts"
          |    order_by => ["event_id"]
          |    add_tag => ["throttled"]
          |  }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // metrics filter driven from CONFIG TEXT: originals pass through,
    // synthetic metric events (meter, lifetime-cumulative count, flush
    // @timestamp) join the stream tagged "metric" — the reference's
    // route-by-tag pattern
    "lscl_metrics" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  metrics {
          |    meter => ["evt_%{event_type}"]
          |    flush_interval => 86400
          |    timestamp_field => "ts"
          |    add_tag => ["metric"]
          |  }
          |}""".stripMargin, Map.empty)
      val out = graft.lscl.LsclRun.applyFilters(e, cfg.filters)
      val isMetric = coalesce(array_contains(col("tags"), "metric"), lit(false))
      out.filter(isMetric)
        .select(col("meter"), col("count"),
          date_format(col("@timestamp"), "yyyy-MM-dd HH:mm:ss").as("flush_ts"))
        .unionByName(out.filter(!isMetric).groupBy()
          .agg(count(lit(1)).as("count"))
          .select(lit("_passthrough").as("meter"), col("count"), lit("").as("flush_ts")))
        .orderBy("meter", "flush_ts")
    }),

    // aggregate filter driven from CONFIG TEXT (declarative subset):
    // sprintf'd task_id correlation -> one summary event per task
    "lscl_aggregate" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  aggregate {
          |    task_id => "%{user_id}:%{event_type}"
          |    timestamp_field => "ts"
          |    sum_field => "value"
          |  }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("task_id"), col("n_events"),
          date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss").as("first_s"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_s"),
          col("total_value"))
        .orderBy("task_id")
    }),

    // a COMPLETE config text executed end-to-end: generator input ->
    // json parse -> branch decorators -> gated outputs -> single-pass counts
    "lscl_e2e" -> ((s, dir) => {
      import graft.lscl.{Lscl, LsclRun}
      import graft.operators.Route
      val cfg = Lscl.parse(LsclE2eConfig, Map.empty)
      val trunk = LsclRun.applyFilters(LsclRun.source(s, cfg.inputs), cfg.filters)
      val specs = LsclRun.sinkSpecs(cfg.outputs)
      Route.sinkCounts(Route.withSinkFlags(trunk, specs), specs).orderBy("sink")
    }),

    // the LSCL text frontend end-to-end: parse config text -> compile
    // conditions -> conditional decorators -> output-section sink routing,
    // all from LsclRouteConfig above
    "lscl_route" -> ((s, dir) => {
      val cfg = graft.lscl.Lscl.parse(LsclRouteConfig, Map.empty) // ${LSCL_TIER:prod} -> default
      val trunk = StandardPipeline.fromDir(s, dir).trunk
      val filtered = graft.lscl.LsclRun.applyFilters(trunk, cfg.filters)
      val sinks = graft.lscl.LsclRun.sinkSpecs(cfg.outputs)
      val flagged = graft.operators.Route.withSinkFlags(filtered, sinks)
      flagged.select(col("doc_id"),
          array_join(col("tags"), ",").as("tags_str"),
          col("odd_src"),
          col("_m_lscl_errors").cast("int").as("m_errors"),
          col("_m_lscl_warn").cast("int").as("m_warn"),
          col("_m_lscl_rest").cast("int").as("m_rest"))
        .orderBy("doc_id")
    }),

    // every conditional operator class evaluated per-row over the trunk
    // (nulls present via dict-miss sources) — the EventConditionTest analogue
    "cond_ops" -> ((s, dir) => {
      // sev_text makes field-in-field non-degenerate: severity ⊂ sev_text
      val trunk = StandardPipeline.fromDir(s, dir).trunk
        .withColumn("sev_text", concat(col("severity"), lit("-suffix")))
      def f(c: Cond) = Cond.predicateFor(trunk, c).cast("int")
      trunk.select(col("doc_id"),
        f(InField("severity", "sev_text")).as("f_in_field_hit"),
        f(InField("team", "sev_text")).as("f_in_field_miss"),
        f(Eq("tier", "prod")).as("f_eq"),
        f(Neq("tier", "prod")).as("f_neq_null_true"),     // null tier => TRUE
        f(Gt("n_tok", 64)).as("f_gt"),
        f(InConstStr("team", "team-0 and team-1")).as("f_in_substr"),
        f(ConstInField("rc1", "source")).as("f_const_in_field"),
        f(InList("n_tok", Seq(64, 65))).as("f_in_list_stringified"),
        f(Truthy("team")).as("f_truthy"),
        f(RegexMatch("severity", "^ERR")).as("f_regex"),
        f(Xor(Eq("severity", "ERROR"), Gt("n_tok", 64))).as("f_xor"),
        f(Nand(Truthy("team"), Eq("tier", "prod"))).as("f_nand"),
        // type-strict cross-type semantics (Ruby equality / RubyString-only
        // membership): a numeric field never equals or substring-matches a
        // string literal, even when its decimal rendering would
        f(Eq("n_tok", "64")).as("f_eq_str_vs_int"),
        f(Neq("n_tok", "64")).as("f_neq_str_vs_int"),
        f(InConstStr("n_tok", "64 65")).as("f_substr_nonstr"),
        f(ConstInField("64", "n_tok")).as("f_cif_nonstr"))
        .orderBy("doc_id")
    }),

    // nested field WRITE semantics (Accessors.java:63-120): struct field
    // add/overwrite, list index set, negative index, pad-past-end with
    // nulls, auto-created intermediate containers
    "evt_fieldwrite" -> ((s, dir) => {
      import graft.model.FieldRef
      val base = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          struct(col("user_id").as("uid")).as("ctx"),
          array(lit("a"), lit("b"), col("event_type")).as("lst"))
        .withColumn("lst0", col("lst"))
        .withColumn("lstm1", col("lst"))
        .withColumn("lst5", col("lst"))
      val written = Seq[(String, org.apache.spark.sql.Column)](
        "[ctx][etype]" -> col("event_type"),   // struct: add new field
        "[ctx][uid]" -> col("user_id") * 2,    // struct: overwrite in place
        "[lst0][0]" -> lit("z"),               // list: set by index
        "[lstm1][-1]" -> lit("y"),             // list: negative index
        "[lst5][4]" -> lit("p"),               // list: pad-with-null append
        "[fresh][deep][k]" -> lit("v"))        // auto-create intermediates
        .foldLeft(base) { case (d, (ref, v)) => FieldRef.set(d, ref, v) }
      written.select(col("event_id"),
          to_json(col("ctx")).as("ctx_json"),
          array_join(col("lst0"), ",", "NUL").as("lst0_str"),
          array_join(col("lstm1"), ",", "NUL").as("lstm1_str"),
          array_join(col("lst5"), ",", "NUL").as("lst5_str"),
          to_json(col("fresh")).as("fresh_json"))
        .orderBy("event_id")
    }),

    // rolling flow-metric windows (FlowMetric.java current/last_Nm/lifetime):
    // cumulative per-type counter captures per minute -> windowed rates
    "evt_flowwin" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val caps = graft.operators.Flow.captures(ev, "event_type", "ts", "minute")
      graft.operators.Flow.rollingRates(caps, "event_type", "capture_ts", "counter")
        .select(col("event_type"),
          date_format(col("capture_ts"), "yyyy-MM-dd HH:mm:ss").as("cap_ts"),
          col("counter"), col("current"), col("last_1_minute"),
          col("last_5_minutes"), col("last_15_minutes"), col("lifetime"))
        .orderBy("event_type", "cap_ts")
    }),

    // extended worker flow metrics (AbstractPipelineExt.java:585-600):
    // queue_backpressure / worker_concurrency / worker_utilization as
    // delta-ratios over uptime, with current/5m/lifetime windows; capture
    // counters synthesized deterministically from per-source minute buckets
    "evt_flowext" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val cum = Window.partitionBy(col("event_type")).orderBy(col("capture_ts"))
      val part = Window.partitionBy(col("event_type"))
      val caps = ev
        .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("capture_ts"))
        .agg(count(lit(1)).as("_n"))
        .withColumn("push_ms", sum(col("_n") * 3).over(cum))
        .withColumn("dur_ms", sum(col("_n") * 17 + 5).over(cum))
        .withColumn("uptime_ms",
          (unix_timestamp(col("capture_ts"))
            - min(unix_timestamp(col("capture_ts"))).over(part)) * 1000 + 60000)
        .drop("_n")
      graft.operators.Flow.workerFlows(caps, "event_type", "capture_ts",
          "push_ms", "dur_ms", "uptime_ms", workers = 4,
          windows = Seq("last_5_minutes" -> 300L))
        .select(col("event_type"),
          date_format(col("capture_ts"), "yyyy-MM-dd HH:mm:ss").as("cap_ts"),
          col("push_ms"), col("dur_ms"), col("uptime_ms"),
          col("queue_backpressure"), col("queue_backpressure_last_5_minutes"),
          col("queue_backpressure_lifetime"),
          col("worker_concurrency"), col("worker_concurrency_last_5_minutes"),
          col("worker_concurrency_lifetime"),
          col("worker_utilization"), col("worker_utilization_last_5_minutes"),
          col("worker_utilization_lifetime"))
        .orderBy("event_type", "cap_ts")
    }),

    // translate key modes (transforming-data.asciidoc:588-596): regex-keyed
    // first-match-wins dictionary LOADED FROM A YAML FILE, plus the
    // exact=>false substring mode and the default exact mode with fallback
    "pipe_translate2" -> ((s, dir) => {
      import graft.operators.Enrich
      // regex dictionary round-tripped through the YAML loader (order kept)
      val yml = java.nio.file.Files.createTempFile("graft_translate", ".yml")
      java.nio.file.Files.writeString(yml,
        """# regex-keyed severity classes
          |"^src1[0-9]$": teen
          |'^src[0-9]$': single
          |""".stripMargin)
      val regexDict = Enrich.yamlDict(yml.toString)
      val subDict = Seq("19" -> "nineteen", "1" -> "hasone")
      val exactDict = Seq("src0" -> "zero", "src1" -> "one")
      val trunk = StandardPipeline.fromDir(s, dir).trunk
      trunk
        .transform(Enrich.translateChain(_, "source", "t_regex", regexDict,
          regex = true, fallback = Some("other")))
        .transform(Enrich.translateChain(_, "source", "t_substr", subDict,
          exact = false))
        .transform(Enrich.translateChain(_, "source", "t_exact", exactDict,
          fallback = Some("miss")))
        .select(col("doc_id"), col("source"), col("t_regex"), col("t_substr"), col("t_exact"))
        .orderBy("doc_id")
    }),

    // generator input as a native DataSourceV2 batch source (rows emitted
    // in executors, contiguous per-partition ranges, no shuffle)
    "gen_source" -> ((s, dir) => {
      s.read.format("graft.sources.GeneratorSource")
        .option("count", 10000).option("partitions", 8)
        .option("lines", "alpha|beta|gamma").load()
        .orderBy("seq")
    }),

    // prune: whitelist projection by column-name regex
    "mut_prune" -> ((s, dir) => {
      Mutate.prune(StandardPipeline.fromDir(s, dir).trunk,
        whitelist = Some("doc_id|severity|team"))
        .orderBy("doc_id")
    }),

    // sprintf decorator: add_field with %{field} interpolation; a NULL field
    // leaves the literal %{...} in place (StringInterpolation.java:126 — the
    // same rendering as an unresolved reference)
    "mut_sprintf" -> ((s, dir) => {
      val trunk = StandardPipeline.fromDir(s, dir).trunk
      Mutate.Decorator(addField = Seq("greeting" -> "sev=%{severity} team=%{team}!"))(trunk)
        .select(col("doc_id"), col("greeting"))
        .orderBy("doc_id")
    }),

    // full sprintf surface: %{+joda}, %{+%s} epoch, %{{java}}, list-join-","
    // map-as-JSON, nested [a][b] refs, unresolved-literal
    "mut_sprintf2" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("lst", split(col("props"), " "))
        .withColumn("mp", map(lit("t"), col("event_type")))
        .withColumn("nested", struct(col("user_id").as("uid")))
      Mutate.Decorator(addField = Seq(
        "day_joda" -> "d=%{+YYYY.MM.dd}",
        "hms_joda" -> "t=%{+HH:mm:ss}",
        "epoch"    -> "e=%{+%s}",
        "java_fmt" -> "j=%{{yyyy/MM/dd HH}}",
        "joined"   -> "L=%{lst}",
        "as_json"  -> "M=%{mp}",
        "deep"     -> "u=%{[nested][uid]}",
        "missing"  -> "x=%{nope}"))(ev)
        .select(col("event_id"), col("day_joda"), col("hms_joda"), col("epoch"),
          col("java_fmt"), col("joined"), col("as_json"), col("deep"), col("missing"))
        .orderBy("event_id")
    }),

    // drop with percentage: deterministic hash-mod sampling (md5 so the
    // oracle reproduces it bit-for-bit; the operator default is xxhash64)
    "evt_drop_pct" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val bucket = conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      ev.filter(!(col("event_type") === "view" && bucket < 50))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // json codec: parse the props JSON string into typed fields
    "evt_json" -> ((s, dir) => {
      graft.operators.Parse.json(
        s.read.parquet(s"$dir/events.parquet"), "props", "j", "k INT")
        .select(col("event_id"), col("j.k").as("k"))
        .orderBy("event_id")
    }),

    // pipeline-to-pipeline: stage 1 routes to sink_errors, stage 2 consumes
    // that sink as its input (the reference's pipeline bus re-expressed as
    // chained plans over an intermediate frame)
    "pipe_chain" -> ((s, dir) => {
      val stage1 = StandardPipeline.fromDir(s, dir).sinkFrame("sink_errors")
      graft.LogPipeline.read(stage1)
        .mutate(df => df.withColumn("big", (col("n_tok") > 64).cast("int")))
        .trunk
        .groupBy("team", "big").agg(count(lit(1)).as("n"))
        .orderBy("team", "big")
    }),

    // ecosystem filter batch (logstash-filter-{bytes,range,extractnumbers,
    // tld} gems) driven from CONFIG TEXT — bytes under a conditional
    // (signup rows excluded: null target, no failure tag), a range `drop`
    // rule, tag + field range actions, public-suffix-aware tld decompose
    "lscl_extras" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("sizestr", concat((col("user_id") % 100).cast("string"),
          lit(" "),
          element_at(array(lit(""), lit("kb"), lit("MB"), lit("GiB"), lit("xx")),
            ((col("event_id") % 5) + 1).cast("int"))))
        .withColumn("numline", concat(lit("a="),
          (col("user_id") % 50).cast("string"),
          lit(" b="), (col("event_id") % 7).cast("string"), lit(".5")))
        .withColumn("host", concat(col("event_type"), lit(".example."),
          element_at(array(lit("com"), lit("co.uk"), lit("io")),
            ((col("event_id") % 3) + 1).cast("int"))))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  if [event_type] != "signup" {
          |    bytes { source => "sizestr" target => "nbytes" }
          |  }
          |  extractnumbers { source => "numline" max_ints => 2 max_floats => 1 }
          |  range { ranges => ["user_id", 0, 4, "drop",
          |                     "value", 100, 1000000000, "tag:big",
          |                     "event_type", 4, 5, "field:band:short"] }
          |  tld { source => "host" target => "dom" }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("nbytes"), col("int1"), col("int2"),
          col("float1"), col("band"), col("dom.tld").as("tld"),
          col("dom.sld").as("sld"), col("dom.trd").as("trd"),
          col("dom.domain").as("domain"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // ecosystem filter batch 2: environment (deterministic via the
    // graft.env.* system-property hook), age (clock pinned by `now`),
    // json_encode (struct + scalar string), cipher AES-CBC round-trip
    // (encrypt with config IV, decrypt back — equality with the plaintext
    // IS the oracle; ciphertext determinism pinned in ExtrasSpec)
    "lscl_extras2" -> ((s, dir) => {
      System.setProperty("graft.env.GRAFT_TIER", "prod")
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("st", struct(col("event_type").as("t"), col("user_id").as("u")))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  environment { add_metadata_from_env => { "tier" => "GRAFT_TIER" } }
          |  age { source => "ts" now => "2025-06-01 00:00:00" }
          |  json_encode { source => "st" target => "st_json" }
          |  json_encode { source => "event_type" target => "et_json" }
          |  cipher { mode => "encrypt" source => "event_type" target => "ct"
          |           key => "k3y" iv => "00112233445566778899aabbccddeeff" }
          |  cipher { mode => "decrypt" source => "ct" target => "rt" key => "k3y" }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), col("_meta_tier").as("tier"), col("age"),
          col("st_json"), col("et_json"), col("rt"))
        .orderBy("event_id")
    }),

    // es_bulk codec over a file input: alternating action/source lines,
    // delete tombstones, an orphan source line tagged — decoded via one lag
    // over the offset-ordered stream
    "pipe_es_bulk" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft_esbulk", ".ndjson")
      val sb = new java.lang.StringBuilder
      (0 until 200).foreach { i =>
        val act = i % 3 match { case 0 => "index"; case 1 => "create"; case _ => "update" }
        sb.append(s"""{"$act":{"_index":"idx${i % 2}","_id":"$i"}}""").append('\n')
        sb.append(s"""{"n":$i,"s":"v$i"}""").append('\n')
        if (i % 5 == 0)
          sb.append(s"""{"delete":{"_index":"idxD","_id":"${9000 + i}"}}""").append('\n')
      }
      sb.append("{\"orphan\":true}").append('\n')
      java.nio.file.Files.writeString(f, sb.toString)
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" codec => es_bulk } }""", Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("action"), col("bulk_index"), col("bulk_id"), col("message"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy(coalesce(col("bulk_id"), lit("zzz")), col("action"))
    }),

    // gelf codec over the base64-frame archive form: plain/zlib/gzip frame
    // bodies, every 5th message CHUNKED into 3 frames (reassembled via one
    // bounded hash agg on the 8-byte message id), remap + underscore strip +
    // @timestamp promotion per the reference gelf input's defaults
    "pipe_gelf" -> ((s, dir) => {
      def gz(j: String): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val o = new java.util.zip.GZIPOutputStream(bos)
        o.write(j.getBytes("UTF-8")); o.close(); bos.toByteArray
      }
      val frames: Seq[Array[Byte]] = (0 until 150).flatMap { i =>
        val full = if (i % 3 == 0) s""","full_message":"fm$i"""" else ""
        val json = s"""{"version":"1.1","host":"h${i % 5}","short_message":"sm$i"$full""" +
          s""","timestamp":${1700000000L + i}.5,"level":${i % 8}""" +
          s""","_facility":"f${i % 4}","_seq":$i}"""
        val body = i % 3 match {
          case 0 => json.getBytes("UTF-8")
          case 1 => graft.operators.Gelf.deflate(json)
          case _ => gz(json)
        }
        if (i % 5 == 0) graft.operators.Gelf.chunk(body, 3, 1000L + i)
        else Seq(body)
      }
      val f = java.nio.file.Files.createTempFile("graft_gelf", ".b64")
      java.nio.file.Files.writeString(f, frames.map(
        java.util.Base64.getEncoder.encodeToString).mkString("", "\n", "\n"))
      val ddl = "version STRING, host STRING, short_message STRING, " +
        "full_message STRING, timestamp DOUBLE, level BIGINT, " +
        "_facility STRING, _seq BIGINT"
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" codec => gelf { schema => "$ddl" } } }""",
        Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("seq"), col("host"), col("message"), col("level"),
          col("facility"), col("@timestamp").cast("double").as("epoch"))
        .orderBy("seq")
    }),

    // collectd binary-protocol codec: typed parts prefix-scanned per packet,
    // one event per VALUES part carrying the metadata accumulated so far;
    // GAUGE doubles are little-endian (the protocol's x86 wart), counters
    // big-endian u64
    "pipe_collectd" -> ((s, dir) => {
      val pkts = (0 until 100).map { i =>
        graft.operators.Collectd.packet(
          host = s"h${i % 4}", timeSec = 1000L + i, plugin = "cpu",
          pluginInstance = s"core${i % 2}", typ = "usage",
          typeInstance = s"ti$i", intervalSec = 10L,
          valueSets = Seq(
            Seq(("gauge", i * 0.5), ("counter", (i * 3).toDouble)),
            Seq(("derive", (i * 7).toDouble))))
      }
      val f = java.nio.file.Files.createTempFile("graft_collectd", ".b64")
      java.nio.file.Files.writeString(f, pkts.map(
        java.util.Base64.getEncoder.encodeToString).mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" codec => collectd } }""", Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("host"), col("collectd_time"), col("plugin_instance"),
          col("type_instance"), col("interval"),
          element_at(col("values"), 1).as("v0"),
          try_element_at(col("values"), lit(2)).as("v1"),
          array_join(col("dstypes"), ",").as("dstype_str"))
        .orderBy(col("type_instance"), col("dstype_str"))
    }),

    // NetFlow v5 codec: 24-byte header + 48-byte records, one event per
    // record; first/last_switched reconstructed from sys_uptime the
    // reference way (unix_secs - (uptime - first)/1000)
    "pipe_netflow" -> ((s, dir) => {
      val pkts = (0 until 20).map { p =>
        graft.operators.Netflow.packet(
          unixSecs = 1600000000L + p, uptimeMs = 360000L, flowSeq = p * 5L,
          recs = (0 until 5).map(i => (
            (10 << 24) | (p << 8) | i, (192 << 24) | (168 << 16) | i,
            (p * 10 + i).toLong, (p * 10 + i) * 64L,
            1000 + i, 80, if (i % 2 == 0) 6 else 17)))
      }
      val f = java.nio.file.Files.createTempFile("graft_netflow", ".b64")
      java.nio.file.Files.writeString(f, pkts.map(
        java.util.Base64.getEncoder.encodeToString).mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" codec => netflow } }""", Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("flow_seq_num"), col("ipv4_src_addr"), col("ipv4_dst_addr"),
          col("in_pkts"), col("in_bytes"), col("l4_src_port"), col("protocol"),
          col("first_switched"), col("last_switched"), col("src_as"), col("dst_mask"))
        .orderBy("flow_seq_num")
    }),

    // snmptrap: BER/ASN.1 trap decode over the base64-frame archive form —
    // v1 Trap-PDUs (enterprise/agent/generic/specific/timeticks) and v2c
    // TRAPs (request-id), varbinds as an oid->rendered-value map; garbage
    // datagrams tag _snmptrapparsefailure with all fields null
    "pipe_snmptrap" -> ((s, dir) => {
      val pkts = (0 until 120).map { i =>
        if (i % 2 == 0)
          graft.operators.Snmp.trapV1(s"pub${i % 3}", s"1.3.6.1.4.1.${i % 50}",
            s"10.0.${i % 4}.${i % 200}", genericTrap = 6, specificTrap = i % 9,
            timeticks = i * 100L,
            vbs = Seq("1.3.6.1.2.1.1.5.0" -> Left(s"host$i"),
              s"1.3.6.1.4.1.42.$i" -> Right(i * 7L)))
        else
          graft.operators.Snmp.trapV2c("pub", requestId = 1000L + i,
            vbs = Seq("1.3.6.1.2.1.1.5.0" -> Left(s"host$i"),
              "1.3.6.1.6.3.1.1.4.1.0" -> Left(s"1.3.6.1.4.1.${i % 50}")))
      } ++ Seq.fill(3)(Array[Byte](1, 2, 3)) // not BER: parse-failure rows
      val f = java.nio.file.Files.createTempFile("graft_snmp", ".b64")
      java.nio.file.Files.writeString(f, pkts.map(
        java.util.Base64.getEncoder.encodeToString).mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" codec => snmptrap } }""", Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("snmp_version"), col("community"), col("enterprise"),
          col("agent_addr"), col("generic_trap"), col("specific_trap"),
          col("timeticks"), col("request_id"),
          array_join(array_sort(transform(map_entries(col("varbinds")),
            e => concat(e.getField("key"), lit("="), e.getField("value")))),
            ";").as("vb_str"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy(coalesce(col("vb_str"), lit("")))
    }),

    // ganglia gmond codec: XDR metadata (id 128) + typed value packets
    // (129-135) over the base64-frame archive form; each value event is
    // annotated from its (host, metric)'s metadata via broadcast join;
    // unknown metrics tag _gangliametadatamissing, garbage datagrams
    // _gangliaparsefailure
    "pipe_ganglia" -> ((s, dir) => {
      val metas = for { h <- 0 until 3; m <- 0 until 5 } yield
        graft.operators.Ganglia.metaPacket(s"h$h", s"m$m",
          Seq("int32", "uint32", "string", "float", "double")(m), s"u$m",
          slope = m, tmax = 20 + m, dmax = m * 10)
      val vals = (0 until 120).map { i =>
        val host = s"h${i % 3}"; val name = s"m${i % 5}"; val sp = i % 7 == 0
        (i % 5) match {
          case 0 => graft.operators.Ganglia.valueInt(host, name, i - 60, sp)
          case 1 => graft.operators.Ganglia.valueUint(host, name, 4000000000L + i, sp)
          case 2 => graft.operators.Ganglia.valueString(host, name, s"s$i", sp)
          case 3 => graft.operators.Ganglia.valueFloat(host, name, i.toFloat, sp)
          case _ => graft.operators.Ganglia.valueDouble(host, name, i + 0.5, sp)
        }
      } ++ (120 until 123).map(i =>
        graft.operators.Ganglia.valueInt("h9", "ghost", i)) ++
        Seq(Array[Byte](0, 0, 0, 1), Array[Byte](0, 0, 0, 0x85.toByte))
      val f = java.nio.file.Files.createTempFile("graft_ganglia", ".b64")
      java.nio.file.Files.writeString(f, (metas ++ vals).map(
        java.util.Base64.getEncoder.encodeToString).mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" codec => ganglia } }""", Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("log_host"), col("name"), col("val"), col("value_type"),
          col("units"), col("slope"), col("tmax"), col("dmax"), col("spoof"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy(coalesce(col("val"), lit("")), col("tag_str"))
    }),

    // nagios output: one Nagios external-command line per event
    // ([epoch] PROCESS_SERVICE_CHECK_RESULT;host;service;level;output — the
    // public command-file format); events missing nagios_host or
    // nagios_service are skipped; nagios_level sprintf'd per event
    "pipe_nagios" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_nagios").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("nagios_host", when(col("event_id") % 5 =!= 0,
          concat(lit("web"), (col("user_id") % 4).cast("string"))))
        .withColumn("nagios_service", when(col("event_id") % 7 =!= 0,
          col("event_type")))
        .withColumn("level", (col("user_id") % 4).cast("string"))
        .withColumn("message", concat(lit("chk"), col("event_id").cast("string")))
      val cfg = graft.lscl.Lscl.parse(
        """output { nagios { id => "ncmd" nagios_level => "%{level}" } }""",
        Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      s.read.text(s"$out/ncmd").orderBy("value")
    }),

    // webhdfs output: line-oriented events at a sprintf'd HDFS path — the
    // Spark-native model is the same rendered-path partition machinery as
    // the file output (the path IS the hadoop filesystem write)
    "pipe_webhdfs" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_webhdfs").toString
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val cfg = graft.lscl.Lscl.parse(
        """output {
          |  webhdfs { id => "hdfs" host => "nn1" port => 50070
          |            path => "/user/graft/dt=%{event_type}/part.log" }
          |}""".stripMargin, Map.empty)
      graft.operators.Route.run(s, e,
        graft.lscl.LsclRun.sinkSpecs(cfg.outputs), out, writeDefault = false)
      s.read.parquet(s"$out/hdfs")
        .groupBy(col("_index").cast("string").as("path"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uid_sum"))
        .orderBy("path")
    }),

    // couchdb_changes input: archive replay of a saved _changes feed — doc
    // columns by declared schema, deleted changes carry null docs, CouchDB
    // identity/action/seq surfaced as _meta_* columns
    "pipe_couchdb" -> ((s, dir) => {
      val lines = (0 until 60).map { i =>
        if (i % 10 == 0)
          s"""{"seq":"$i-seq","id":"d$i","changes":[{"rev":"1-r$i"}],"deleted":true}"""
        else
          s"""{"seq":"$i-seq","id":"d$i","changes":[{"rev":"1-r$i"}],"doc":{"a":$i,"b":"x$i"}}"""
      }
      val f = java.nio.file.Files.createTempFile("graft_couchdb", ".jsonl")
      java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { couchdb_changes { path => "$f" schema => "a INT, b STRING" } }""",
        Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("a"), col("b"), col("_meta_id"), col("_meta_rev"),
          col("_meta_action"), col("_meta_seq"))
        .orderBy("_meta_id")
    }),

    // protobuf codec: config-declared field numbers over the public wire
    // format — varint/fixed64/fixed32/length-delimited, unknown field 99
    // skipped by wire type, missing optional fields null
    "pipe_protobuf" -> ((s, dir) => {
      val msgs = (0 until 200).map { i =>
        val base = Seq[(Int, Any)](
          1 -> s"n$i", 2 -> (i * 3L), 3 -> (i * 0.25), 4 -> (i % 2 == 1),
          99 -> s"unknown$i") // undeclared: must be skipped
        graft.operators.Protobuf.pack(
          if (i % 4 == 0) base.filterNot(_._1 == 2) else base) // field 2 optional
      }
      val f = java.nio.file.Files.createTempFile("graft_protobuf", ".b64")
      java.nio.file.Files.writeString(f, msgs.map(
        java.util.Base64.getEncoder.encodeToString).mkString("", "\n", "\n"))
      val cfg = graft.lscl.Lscl.parse(
        s"""input { file { path => "$f" codec => protobuf {
           |  schema => "name STRING, count BIGINT, score DOUBLE, flag BOOLEAN"
           |  fields => { "name" => 1 "count" => 2 "score" => 3 "flag" => 4 }
           |} } }""".stripMargin, Map.empty)
      graft.lscl.LsclRun.source(s, cfg.inputs)
        .select(col("name"), col("count"), col("score"), col("flag"))
        .orderBy(length(col("name")), col("name"))
    }),

    // math filter: ordered calculate entries in DOUBLE, later entries see
    // earlier targets; div/mod-by-zero -> null; round is IEEE half-up
    // (floor(x*10^p+0.5)/10^p — the engine-stable form)
    "lscl_math" -> ((s, dir) => {
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  math { calculate => [
          |    ["add", "[value]", 10, "[v_add]"],
          |    ["multiply", "[v_add]", "[user_id]", "[v_mul]"],
          |    ["divide", "[value]", "[user_id]", "[v_div]"],
          |    ["mod", "[user_id]", 7, "[v_mod]"],
          |    ["round", "[v_div]", 3, "[v_round]"]
          |  ] }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(
          s.read.parquet(s"$dir/events.parquet"), cfg.filters)
        .select(col("event_id"), col("v_add"), col("v_mul"), col("v_div"),
          col("v_mod"), col("v_round"))
        .orderBy("event_id")
    }),

    // punct filter: strip alphanumerics + whitespace, keep the punctuation
    // skeleton (log-shape fingerprint)
    "evt_punct" -> ((s, dir) => {
      val cfg = graft.lscl.Lscl.parse(
        """filter { punct { source => "text" target => "shape" } }""", Map.empty)
      graft.lscl.LsclRun.applyFilters(
          s.read.parquet(s"$dir/documents.parquet"), cfg.filters)
        .select(col("doc_id"), col("shape"))
        .orderBy("doc_id")
    }),

    // heartbeat + http_poller inputs: generator-backed liveness ticks and
    // one LIVE poll tick per named url (the gate builder runs a JDK
    // httpserver; fetches happen at lowering time, driver-side, so the
    // server stops before materialization — same eager contract as
    // lscl_http)
    "lscl_poll" -> ((s, dir) => {
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/ok", (ex: com.sun.net.httpserver.HttpExchange) => {
        val b = """{"status":"green"}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
      })
      server.start()
      val port = server.getAddress.getPort
      try {
        val cfg = graft.lscl.Lscl.parse(
          s"""input {
             |  heartbeat { count => 3 message => "sequence" }
             |  http_poller {
             |    urls => { "health" => "http://127.0.0.1:$port/ok"
             |              "missing" => "http://127.0.0.1:$port/nope" }
             |  }
             |}""".stripMargin, Map.empty)
        graft.lscl.LsclRun.source(s, cfg.inputs)
          .select(coalesce(col("poller_name"), lit("hb")).as("name"),
            col("message").as("msg"), col("clock"), col("status"),
            coalesce(array_join(col("tags"), ","), lit("")).as("tag_str"))
          .orderBy("name", "clock")
      } finally server.stop(0)
    }),

    // metricize filter (logstash-filter-metricize): one event per present
    // metric with `metric`/`value` set and metric fields removed; the
    // original passes through unchanged. Under a conditional, excluded rows
    // emit exactly one untouched row. Bounded fan-out (<= metrics+1)
    "lscl_metricize" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("m1", col("value") * 2)
        .withColumn("m2", when(col("event_id") % 4 =!= 0, col("value") + 1))
      val cfg = graft.lscl.Lscl.parse(
        """filter {
          |  if [event_type] != "error" {
          |    metricize { metrics => ["m1", "m2"] }
          |  }
          |}""".stripMargin, Map.empty)
      graft.lscl.LsclRun.applyFilters(e, cfg.filters)
        .select(col("event_id"), coalesce(col("metric"), lit("")).as("metric"),
          col("value"), col("m1"), col("m2"))
        .orderBy("event_id", "metric")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "pipe_snap_asof" ->
      s"""${graft.model.Tok.sqlRawSequences}
         |SELECT doc_id, source, array_to_string(tokens, ',') AS tok_str
         |FROM raw WHERE CAST(doc_id AS BIGINT) % 3 <> 0
         |ORDER BY doc_id""".stripMargin,

    "pipe_snap_incr" ->
      s"""${graft.model.Tok.sqlRawSequences}
         |SELECT doc_id, source, array_to_string(tokens, ',') AS tok_str,
         |       CAST(1 AS BIGINT) AS _snapshot_id
         |FROM raw WHERE CAST(doc_id AS BIGINT) % 3 = 0
         |ORDER BY doc_id""".stripMargin,

    "pipe_snap_read" ->
      s"""${graft.model.Tok.sqlRawSequences}
         |SELECT doc_id, source, array_to_string(tokens, ',') AS tok_str
         |FROM raw ORDER BY doc_id""".stripMargin,

    // 4 contended concurrent appends partition the corpus by doc_id % 4 —
    // the union is the whole corpus, writer-order-independent by construction
    "pipe_snap_conc" ->
      s"""${graft.model.Tok.sqlRawSequences}
         |SELECT doc_id, source, array_to_string(tokens, ',') AS tok_str
         |FROM raw ORDER BY doc_id""".stripMargin,

    // arrival-order incremental curation: winner per text hash = the
    // min-(batch, doc_id) quality-passing copy, batch = doc_id % 3
    "pipe_snap_pipe" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |), cloned AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM base WHERE doc_id % 7 = 0
        |), src AS (
        |  SELECT doc_id, md5(text) AS h FROM cloned WHERE len(text) >= 40
        |)
        |SELECT doc_id, h FROM (
        |  SELECT doc_id, h,
        |         row_number() OVER (PARTITION BY h
        |                            ORDER BY doc_id % 3, doc_id) AS rn
        |  FROM src)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // routed fan-out commutes with arrival: union of per-chunk routed rows
    // == routing the whole corpus, per sink condition
    "pipe_snap_route" ->
      s"""${graft.model.Tok.sqlRawSequences},
         |ev AS (
         |  SELECT doc_id, n_tok, source, array_to_string(tokens, ',') AS tok_str
         |  FROM raw
         |), routed AS (
         |  SELECT 'big' AS sink, doc_id, n_tok, source, tok_str FROM ev WHERE n_tok >= 8
         |  UNION ALL
         |  SELECT 'small', doc_id, n_tok, source, tok_str FROM ev WHERE n_tok < 8
         |  UNION ALL
         |  SELECT 'all', doc_id, n_tok, source, tok_str FROM ev
         |)
         |SELECT sink, doc_id, n_tok, source, tok_str FROM routed
         |ORDER BY sink, doc_id""".stripMargin,

    // per-sink commit ledger: added_rows per source batch (b = doc_id%3)
    // under each sink's condition, total_rows the running sum — including
    // zero-row chunks, which still commit a snapshot
    "pipe_snap_hist" ->
      s"""${graft.model.Tok.sqlRawSequences},
         |ev AS (
         |  SELECT CAST(doc_id AS BIGINT) % 3 AS b, n_tok FROM raw
         |), per AS (
         |  SELECT sink, b, count(*) AS added FROM (
         |    SELECT 'big' AS sink, b FROM ev WHERE n_tok >= 8
         |    UNION ALL
         |    SELECT 'small' AS sink, b FROM ev WHERE n_tok < 8)
         |  GROUP BY sink, b
         |), grid AS (
         |  SELECT s.sink, g.b
         |  FROM (VALUES ('big'), ('small')) s(sink), (VALUES (0), (1), (2)) g(b)
         |)
         |SELECT g.sink AS sink, CAST(g.b AS BIGINT) AS snapshot_id,
         |       'append' AS operation, CAST(g.b AS BIGINT) AS src_snap,
         |       CAST(coalesce(p.added, 0) AS BIGINT) AS added_rows,
         |       CAST(sum(coalesce(p.added, 0)) OVER (PARTITION BY g.sink ORDER BY g.b)
         |            AS BIGINT) AS total_rows
         |FROM grid g LEFT JOIN per p ON p.sink = g.sink AND p.b = g.b
         |ORDER BY sink, snapshot_id""".stripMargin,

    "pipe_snap_prune" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id BETWEEN 100 AND 199 ORDER BY doc_id""".stripMargin,

    "pipe_snap_zorder" ->
      """SELECT doc_id, n_chars, source FROM documents
        |WHERE n_chars BETWEEN 100 AND 150 ORDER BY doc_id""".stripMargin,

    "pipe_snap_bloom" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (5, 100, 250) ORDER BY doc_id""".stripMargin,

    // fact rows whose doc_id the filtered dimension reaches, tagged with
    // the dimension's computed label
    "pipe_snap_dpp" ->
      """SELECT doc_id, source, CAST(doc_id / 100 AS BIGINT) AS dim_tag
        |FROM documents WHERE doc_id % 100 = 0 ORDER BY doc_id""".stripMargin,

    "pipe_snap_upsert" ->
      """WITH delta AS (
        |  SELECT doc_id, 'patched' AS source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |), merged AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM delta)
        |  UNION ALL
        |  SELECT doc_id, source, n_chars FROM delta
        |)
        |SELECT doc_id, source, n_chars FROM merged
        |WHERE doc_id NOT BETWEEN 50 AND 99 ORDER BY doc_id""".stripMargin,

    // per-dir manifest bounds == per-batch SQL aggregates
    "pipe_snap_files" ->
      """WITH b AS (
        |  SELECT doc_id % 3 AS k, doc_id, n_chars FROM documents
        |), stats AS (
        |  SELECT k, 'doc_id' AS "column", min(doc_id) AS min_v, max(doc_id) AS max_v
        |  FROM b GROUP BY k
        |  UNION ALL
        |  SELECT k, 'n_chars', min(n_chars), max(n_chars) FROM b GROUP BY k
        |)
        |SELECT printf('snap-%06d', k) AS dir, "column", 'long' AS tpe,
        |       min_v, max_v, ("column" = 'doc_id') AS has_bloom
        |FROM stats ORDER BY dir, "column"""".stripMargin,

    // after rollback(1) / re-ingest b2 / rollback(1): the b0+b1 state
    "pipe_snap_rollback" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id % 3 IN (0, 1) ORDER BY doc_id""".stripMargin,

    // net row changes per snapshot: appends insert their batch; the upsert
    // deletes each old %10 row and inserts its patched version plus the
    // +100000 clones; the range delete removes the band AS OF the upsert
    // (patched values for %10 rows); compaction emits nothing
    "pipe_snap_cdc" ->
      """WITH upd AS (
        |  SELECT doc_id, 'patched' AS source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |), ins AS (
        |  SELECT doc_id + 100000 AS doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |), cdc AS (
        |  SELECT 0 AS _snapshot_id, 'insert' AS _change_type, doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 1, 'insert', doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 2, 'delete', doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 2, 'insert', doc_id, source, n_chars FROM upd
        |  UNION ALL
        |  SELECT 2, 'insert', doc_id, source, n_chars FROM ins
        |  UNION ALL
        |  SELECT 3, 'delete', doc_id, source, n_chars
        |  FROM documents
        |  WHERE doc_id BETWEEN 50 AND 99 AND doc_id % 10 != 0
        |  UNION ALL
        |  SELECT 3, 'delete', doc_id, source, n_chars FROM upd
        |  WHERE doc_id BETWEEN 50 AND 99
        |)
        |SELECT CAST(_snapshot_id AS BIGINT) AS _snapshot_id, _change_type,
        |       doc_id, source, n_chars
        |FROM cdc ORDER BY _snapshot_id, _change_type, doc_id""".stripMargin,

    // survivors of the MOR delete (%7 keys removed) plus the re-appended
    // %21 keys, which outlive the delete by the sequence rule
    "pipe_snap_mor" ->
      """SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 7 <> 0
        |UNION ALL
        |SELECT doc_id, source, n_chars + 5000 AS n_chars FROM documents
        |WHERE doc_id % 21 = 0
        |ORDER BY doc_id, n_chars""".stripMargin,

    "pipe_snap_part" ->
      """SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'zh'
        |ORDER BY doc_id""".stripMargin,

    // untouched partitions verbatim + the restated zh/de partitions
    // (even ids only, +1000 chars) — the dynamic-overwrite arithmetic
    "pipe_snap_dynover" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang NOT IN ('zh', 'de')
        |UNION ALL
        |SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM documents
        |WHERE lang IN ('zh', 'de') AND doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin,

    // the mirror keeps originals that were neither patched (%10, moved out
    // of the filter's scope by the upsert) nor key-deleted (%9), plus the
    // +100000 clones (never patched, ids outside the delete key set)
    "pipe_snap_mirror" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id % 9 <> 0
        |UNION ALL
        |SELECT doc_id + 100000 AS doc_id, source, n_chars FROM documents
        |WHERE doc_id % 25 = 0
        |ORDER BY doc_id""".stripMargin,

    // same last-write-wins arithmetic as pipe_snap_merge, minus the range
    // delete (the MOR upsert commit replaces %10 rows and inserts +100000
    // clones without rewriting a single dir)
    "pipe_snap_morup" ->
      """WITH delta AS (
        |  SELECT doc_id, 'patched' AS source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM delta)
        |UNION ALL
        |SELECT doc_id, source, n_chars FROM delta
        |ORDER BY doc_id""".stripMargin,

    // staged+published odd half joins the directly-appended even half
    // exactly once; a
    // duplicate (replayed publish not skipping) or loss (publish dropping
    // the staged rows) breaks the hash
    "pipe_snap_wap" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // rows whose n_chars % 7 = 0 were MOR-deleted on main and re-ingested as
    // 'requeued' on the branch; everything else rides through untouched. A
    // delete reaching the branch rows (sequence-rule break), a lost branch
    // append, or a double fast-forward all break the hash
    "pipe_snap_branch" ->
      """SELECT doc_id,
        |       CASE WHEN n_chars % 7 = 0 THEN 'requeued' ELSE source END AS source,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // n_chars%9=0 matched rows deleted; other n_chars%3=0 matched rows
    // updated (source 'merged', n_chars+1000); n_chars%10=0 rows re-enter
    // as synthetic inserts keyed doc_id+10M
    "pipe_snap_merge" ->
      """SELECT doc_id,
        |       CASE WHEN n_chars % 3 = 0 THEN 'merged' ELSE source END AS source,
        |       CASE WHEN n_chars % 3 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents WHERE n_chars % 9 <> 0
        |UNION ALL
        |SELECT doc_id + 10000000, 'inserted', n_chars
        |FROM documents WHERE n_chars % 10 = 0
        |ORDER BY doc_id""".stripMargin,

    "pipe_snap_binpack" ->
      """SELECT doc_id, text, source, n_chars FROM documents
        |WHERE n_chars % 11 <> 0 ORDER BY doc_id""".stripMargin,

    "pipe_snap_sink" ->
      """SELECT doc_id, source, n_chars, upper(source) AS src_up
        |FROM documents ORDER BY doc_id""".stripMargin,

    // compaction/expiry/vacuum are row-preserving: the survivors are just
    // the non-deleted rows
    "pipe_snap_call" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |       CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 11 <> 0 ORDER BY doc_id""".stripMargin,

    // UPDATE band+modulus, DELETE multi-column, then MERGE with delete-
    // before-update clause order and out-of-range inserts
    "pipe_snap_dml" ->
      """WITH b AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |         CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents
        |), t AS (SELECT max(doc_id) // 3 AS third FROM b),
        |u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id >= third AND doc_id < 2 * third AND doc_id % 10 = 0
        |         THEN 'patched' ELSE source END AS source,
        |    CASE WHEN doc_id >= third AND doc_id < 2 * third AND doc_id % 10 = 0
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM b, t
        |), d AS (
        |  SELECT * FROM u WHERE NOT (doc_id % 7 = 0 AND n_chars < 600)
        |), s AS (
        |  SELECT doc_id, n_chars FROM b WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000, n_chars FROM b WHERE doc_id % 50 = 0
        |), merged AS (
        |  SELECT d.doc_id,
        |    CASE WHEN s.doc_id IS NOT NULL THEN 'm' ELSE d.source END AS source,
        |    CASE WHEN s.doc_id IS NOT NULL THEN d.n_chars + 1 ELSE d.n_chars END AS n_chars,
        |    (s.doc_id IS NOT NULL AND d.n_chars % 2 = 0) AS killed
        |  FROM d LEFT JOIN s ON d.doc_id = s.doc_id
        |), kept AS (
        |  SELECT doc_id, source, n_chars FROM merged WHERE NOT killed
        |), ins AS (
        |  SELECT s.doc_id, 'ins' AS source, s.n_chars
        |  FROM s LEFT JOIN d ON d.doc_id = s.doc_id WHERE d.doc_id IS NULL
        |)
        |SELECT * FROM kept UNION ALL SELECT * FROM ins ORDER BY doc_id""".stripMargin,

    // middle band [max/3, 2*max/3) of doc_id, grouped by source
    "pipe_snap_sql" ->
      """WITH b AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |         CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents
        |), t AS (SELECT max(doc_id) // 3 AS third FROM b)
        |SELECT source, count(*) AS c, min(doc_id) AS lo, max(doc_id) AS hi,
        |       CAST(sum(n_chars) AS BIGINT) AS nch
        |FROM b, t WHERE doc_id >= third AND doc_id < 2 * third
        |GROUP BY source ORDER BY source""".stripMargin,

    "lscl_pipelines" ->
      """SELECT * FROM (VALUES
        |  ('aux',  1, '_default', CAST(0    AS BIGINT)),
        |  ('aux',  1, '_in',      CAST(500  AS BIGINT)),
        |  ('aux',  1, '_total',   CAST(500  AS BIGINT)),
        |  ('aux',  1, 'out',      CAST(500  AS BIGINT)),
        |  ('main', 2, '_default', CAST(0    AS BIGINT)),
        |  ('main', 2, '_in',      CAST(9000 AS BIGINT)),
        |  ('main', 2, '_total',   CAST(9000 AS BIGINT)),
        |  ('main', 2, 'errors',   CAST(3000 AS BIGINT)),
        |  ('main', 2, 'rest',     CAST(6000 AS BIGINT)),
        |  ('main', 2, 'warnbig',  CAST(0    AS BIGINT))
        |) AS t(pipeline, runs, sink, n)
        |ORDER BY pipeline, sink""".stripMargin,

    "pipe_tail" ->
      """SELECT * FROM (VALUES
        |  ('_default', CAST(0    AS BIGINT)),
        |  ('_total',   CAST(3000 AS BIGINT)),
        |  ('t_err',    CAST(1000 AS BIGINT)),
        |  ('t_rest',   CAST(1000 AS BIGINT)),
        |  ('t_warn',   CAST(1000 AS BIGINT))
        |) AS t(sink, n)
        |ORDER BY sink""".stripMargin,

    "pipe_addr" ->
      """SELECT * FROM (VALUES
        |  ('down', 'ERROR:via-bus', CAST(2000 AS BIGINT)),
        |  ('down', '_default',      CAST(0    AS BIGINT)),
        |  ('down', '_in',           CAST(2000 AS BIGINT)),
        |  ('down', '_total',        CAST(2000 AS BIGINT)),
        |  ('down', 'down',          CAST(2000 AS BIGINT)),
        |  ('up',   '_default',      CAST(2000 AS BIGINT)),
        |  ('up',   '_in',           CAST(6000 AS BIGINT)),
        |  ('up',   '_total',        CAST(6000 AS BIGINT)),
        |  ('up',   'up_rest',       CAST(4000 AS BIGINT))
        |) AS t(pipeline, sink, n)
        |ORDER BY pipeline, sink""".stripMargin,

    "lscl_apache" ->
      """SELECT event_id,
        |       '10.' || (user_id % 100) || '.' || (event_id % 256) || '.1' AS clientip,
        |       CASE WHEN event_type = 'purchase' THEN 'POST' ELSE 'GET' END AS verb,
        |       '/' || event_type AS request,
        |       CAST(200 + (event_id % 3) * 100 AS BIGINT) AS response,
        |       CASE WHEN event_id % 5 = 0 THEN NULL
        |            ELSE CAST(round(value) AS BIGINT) END AS bytes,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_utc,
        |       CASE WHEN user_id % 100 <= 31 THEN 'us'
        |            WHEN user_id % 100 <= 63 THEN 'eu'
        |            WHEN user_id % 100 <= 95 THEN 'apac'
        |            ELSE NULL END AS geo_country_iso,
        |       'curl' AS useragent_name,
        |       '8.' || (user_id % 10) AS useragent_version
        |FROM events ORDER BY event_id""".stripMargin,

    "lscl_elapsed" ->
      """WITH base AS (
        |  SELECT event_id, CAST(user_id % 50 AS VARCHAR) AS task, ts,
        |         CASE WHEN event_id % 3 = 0 THEN 'taskStarted'
        |              WHEN event_id % 3 = 1 THEN 'taskEnded'
        |              ELSE '' END AS role
        |  FROM events),
        |starts AS (
        |  SELECT task, MIN(ts) AS start_ts FROM base
        |  WHERE role = 'taskStarted' GROUP BY task),
        |ends AS (
        |  SELECT task, COUNT(*) AS n_end FROM base
        |  WHERE role = 'taskEnded' GROUP BY task)
        |SELECT b.event_id,
        |       CASE WHEN b.role = 'taskEnded' AND s.start_ts IS NOT NULL
        |            THEN floor((epoch(b.ts) - epoch(s.start_ts)) * 1000000.0 + 0.5)
        |                 / 1000000.0 END AS elapsed_q,
        |       CASE WHEN b.role = 'taskEnded' AND s.start_ts IS NOT NULL
        |            THEN strftime(s.start_ts, '%Y-%m-%d %H:%M:%S') END AS start_s,
        |       CASE WHEN b.role = 'taskEnded' AND s.start_ts IS NOT NULL
        |              THEN 'taskEnded,elapsed,elapsed_match'
        |            WHEN b.role = 'taskEnded'
        |              THEN 'taskEnded,elapsed,elapsed_end_without_start'
        |            WHEN b.role = 'taskStarted' AND e.n_end IS NULL
        |              THEN 'taskStarted,elapsed_expired_error'
        |            WHEN b.role = 'taskStarted' THEN 'taskStarted'
        |            ELSE '' END AS tag_str
        |FROM base b
        |LEFT JOIN starts s ON b.task = s.task
        |LEFT JOIN ends e ON b.task = e.task
        |ORDER BY event_id""".stripMargin,

    "pipe_csv_out" ->
      """SELECT event_id || ',' || event_type || ',' || user_id AS line
        |FROM events WHERE event_type = 'view' ORDER BY line""".stripMargin,

    "lscl_syslog" ->
      """WITH r AS (SELECT range AS i FROM range(1200)),
        |b AS (
        |  SELECT i, i % 10 = 9 AS bad,
        |         'Oct 11 22:' || (10 + i % 50) || ':'
        |           || lpad(CAST(i % 60 AS VARCHAR), 2, '0') AS stamp0,
        |         CASE WHEN i % 3 = 0 THEN '[' || (100 + i % 50) || ']' ELSE '' END AS pid0
        |  FROM r),
        |c AS (
        |  SELECT i, bad, stamp0,
        |         CASE WHEN bad THEN 'garbage line ' || i
        |              ELSE '<' || (i % 192) || '>' || stamp0 || ' host' || (i % 5)
        |                   || ' app' || pid0 || ': event ' || i END AS message
        |  FROM b)
        |SELECT message,
        |       CAST(CASE WHEN bad THEN 13 ELSE i % 192 END AS BIGINT) AS priority,
        |       CAST(CASE WHEN bad THEN 5 ELSE (i % 192) % 8 END AS INTEGER) AS severity,
        |       CAST(CASE WHEN bad THEN 1 ELSE (i % 192) // 8 END AS INTEGER) AS facility,
        |       CASE WHEN bad THEN NULL ELSE 'host' || (i % 5) END AS logsource,
        |       CASE WHEN bad THEN NULL ELSE 'app' END AS program,
        |       CASE WHEN NOT bad AND i % 3 = 0
        |            THEN CAST(100 + i % 50 AS VARCHAR) END AS pid,
        |       CASE WHEN bad THEN NULL ELSE stamp0 END AS stamp,
        |       CASE WHEN bad THEN NULL ELSE 'event ' || i END AS msgbody,
        |       CASE WHEN bad THEN '_grokparsefailure_sysloginput' ELSE '' END AS tag_str
        |FROM c ORDER BY message""".stripMargin,

    "pipe_es_docid" ->
      """WITH w AS (
        |  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS _docid,
        |         event_id, event_type, user_id,
        |         row_number() OVER (
        |           PARTITION BY CAST(user_id AS VARCHAR) || ':' || event_type
        |           ORDER BY event_id) AS rn
        |  FROM events)
        |SELECT _docid, event_id, event_type, user_id
        |FROM w WHERE rn = 1 ORDER BY _docid""".stripMargin,

    "lscl_http" ->
      """SELECT event_id,
        |       CASE WHEN event_type IN ('error', 'view') THEN NULL
        |            ELSE upper(event_type) || ':' ||
        |                 CAST(length(event_type) AS VARCHAR) END AS resp,
        |       CASE WHEN event_type = 'error' THEN NULL
        |            WHEN event_type = 'view' THEN '_httprequestfailure'
        |            ELSE '' END AS tag_str
        |FROM events ORDER BY event_id""".stripMargin,

    "pipe_es_action" ->
      """WITH k AS (
        |  SELECT event_id, event_type, user_id,
        |         CAST(user_id AS VARCHAR) || ':' ||
        |           CAST(event_id % 101 AS VARCHAR) AS _docid,
        |         CASE event_type WHEN 'error' THEN 'delete'
        |                         WHEN 'click' THEN 'create'
        |                         ELSE 'index' END AS act
        |  FROM events),
        |g AS (
        |  SELECT _docid,
        |         MAX(CASE WHEN act = 'delete' THEN 1 ELSE 0 END) AS has_del,
        |         MIN(CASE WHEN act = 'create' THEN event_id END) AS cfirst,
        |         MAX(CASE WHEN act = 'index' THEN event_id END) AS ulast
        |  FROM k GROUP BY _docid)
        |SELECT k._docid, k.event_id, k.event_type, k.user_id
        |FROM g JOIN k ON k._docid = g._docid
        |             AND k.event_id = COALESCE(g.ulast, g.cfirst)
        |WHERE g.has_del = 0
        |ORDER BY k._docid""".stripMargin,

    "evt_jsonarr" ->
      """SELECT event_id, k FROM (
        |  SELECT event_id, UNNEST([user_id % 50, user_id % 50 + 100]) AS k
        |  FROM events WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT event_id, user_id % 50 AS k
        |  FROM events WHERE event_id % 3 <> 0)
        |ORDER BY event_id, k""".stripMargin,

    "lscl_jdbc" ->
      """SELECT event_id,
        |       CASE event_type WHEN 'click' THEN 'Click event'
        |            WHEN 'view' THEN 'View event'
        |            WHEN 'signup' THEN 'Signup event' END AS descr,
        |       CASE event_type WHEN 'click' THEN '1'
        |            WHEN 'view' THEN '2'
        |            WHEN 'signup' THEN '3' END AS code
        |FROM events ORDER BY event_id""".stripMargin,

    "lscl_alter" ->
      """SELECT event_id,
        |       'Ute-' || event_type AS accented,
        |       CASE WHEN event_type = 'click' THEN 'CLICKED' ELSE event_type END AS note,
        |       CASE WHEN event_type = 'view' THEN 'yes' END AS viewflag,
        |       CASE event_type WHEN 'click' THEN 'ci2' WHEN 'view' THEN 'vi1'
        |            WHEN 'signup' THEN 'si1' END AS last_info,
        |       CASE WHEN event_type IN ('click', 'view', 'signup') THEN ''
        |            ELSE '_elasticsearch_lookup_failure' END AS tag_str
        |FROM events ORDER BY event_id""".stripMargin,

    "lscl_jdbcs" ->
      """SELECT event_id,
        |       CASE event_type WHEN 'click' THEN 2 WHEN 'view' THEN 1
        |            WHEN 'signup' THEN 3 ELSE 0 END AS n_rows,
        |       CASE event_type WHEN 'click' THEN 'c1,c2' WHEN 'view' THEN 'v1'
        |            WHEN 'signup' THEN 's1,s2,s3' ELSE '' END AS tags_j
        |FROM events ORDER BY event_id""".stripMargin,

    "lscl_jdbc_in" ->
      """SELECT event_type,
        |       CASE event_type WHEN 'view' THEN 'v' WHEN 'signup' THEN 's'
        |            WHEN 'error' THEN 'e' END AS label,
        |       CAST(CASE event_type WHEN 'view' THEN 3 WHEN 'signup' THEN 5
        |            WHEN 'error' THEN 7 END AS INTEGER) AS factor,
        |       COUNT(*) AS n,
        |       CAST(SUM(user_id * CASE event_type WHEN 'view' THEN 3
        |            WHEN 'signup' THEN 5 WHEN 'error' THEN 7 ELSE 0 END) AS BIGINT) AS wsum
        |FROM events GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    "lscl_csvcodec" ->
      """SELECT * FROM (
        |  SELECT 'r' || CAST(i AS VARCHAR) AS rid, CAST(i * 2 AS VARCHAR) AS numstr,
        |         't' || CAST(i % 7 AS VARCHAR) AS tag, CAST(NULL AS BIGINT) AS jn
        |  FROM (SELECT unnest(generate_series(0, 299)) AS i)
        |  UNION ALL
        |  SELECT 'j' || CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
        |         CAST(NULL AS VARCHAR), CAST(i * 3 AS BIGINT)
        |  FROM (SELECT unnest(generate_series(0, 99)) AS i))
        |ORDER BY rid""".stripMargin,

    "lscl_yaml" ->
      """SELECT event_id,
        |       CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS lvl,
        |       CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id % 100 END AS n,
        |       CASE WHEN event_id % 5 = 0 THEN NULL ELSE (event_id % 2 = 0) END AS flag,
        |       CASE WHEN event_id % 5 = 0 THEN '_yamlparsefailure' ELSE '' END AS tag_str
        |FROM events ORDER BY event_id""".stripMargin,

    // an event the cidr decorator skips keeps no tags field (Event.java:
    // 472-537 appends a tag only where it is added), so its tag_str is NULL
    "lscl_net" ->
      """SELECT event_id,
        |       CAST(user_id % 192 % 8 AS INTEGER) AS syslog_severity_code,
        |       CAST((user_id % 192) // 8 AS INTEGER) AS syslog_facility_code,
        |       CASE WHEN event_id % 3 = 0 AND user_id % 256 < 128
        |            THEN 'internal' END AS tag_str,
        |       sha256('salt' || 's-' || user_id) AS secret
        |FROM events ORDER BY event_id""".stripMargin,

    "pipe_file_paths" ->
      """SELECT '/logs/' || event_type || '.log' AS path,
        |       COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS uid_sum
        |FROM events GROUP BY 1 ORDER BY path""".stripMargin,

    "evt_reserved" ->
      """SELECT event_id,
        |       user_id % 7 AS _tags,
        |       CASE WHEN event_id % 4 = 0
        |            THEN '_tagsparsefailure,_timestampparsefailure'
        |            ELSE '_tagsparsefailure' END AS tag_str,
        |       CASE WHEN event_id % 4 = 0 THEN NULL
        |            ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_parsed,
        |       CASE WHEN event_id % 4 = 0 THEN 'not-a-time-' || event_id END AS "_@timestamp"
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_rubydebug" ->
      """SELECT event_id,
        |  '{' || chr(10) ||
        |  '      "event_id" => ' || COALESCE(CAST(event_id AS VARCHAR), 'nil') || ',' || chr(10) ||
        |  '    "event_type" => ' || COALESCE('"' ||
        |     replace(replace(replace(replace(replace(event_type,
        |       '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'), chr(9), '\t')
        |     || '"', 'nil') || ',' || chr(10) ||
        |  '            "ts" => ' || COALESCE(strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z', 'nil') || ',' || chr(10) ||
        |  '         "props" => ' || COALESCE('"' ||
        |     replace(replace(replace(replace(replace(props,
        |       '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'), chr(9), '\t')
        |     || '"', 'nil') ||
        |  chr(10) || '}' AS debug
        |FROM events ORDER BY event_id""".stripMargin,

    "lscl_multiline" ->
      """WITH r AS (SELECT range AS i FROM range(900))
        |SELECT CAST(i + 1 AS BIGINT) AS event_group,
        |       'EV' || i || ' start' ||
        |         CASE WHEN i % 3 = 0 THEN ''
        |              ELSE chr(10) || array_to_string(
        |                list_transform(range(1, i % 3 + 1),
        |                               j -> '  cont ' || i || ' ' || j), chr(10)) END
        |         AS message,
        |       CAST(1 + i % 3 AS BIGINT) AS n_lines
        |FROM r ORDER BY event_group""".stripMargin,

    "lscl_mlcap" ->
      """WITH g AS (
        |  SELECT range AS i,
        |         list_prepend('G' || range,
        |           list_transform(range(1, range % 7 + 1),
        |                          j -> ' c' || range || '-' || j)) AS lines
        |  FROM range(300)),
        |p AS (
        |  SELECT i, lines, len(lines) AS n,
        |         unnest(range(0, CAST(ceil(len(lines) / 3.0) AS BIGINT))) AS k
        |  FROM g)
        |SELECT CAST(i + 1 AS BIGINT) AS event_group,
        |       array_to_string(lines[3*k+1 : least(3*k+3, n)], chr(10)) AS message,
        |       CAST(least(3, n - 3*k) AS BIGINT) AS n_lines,
        |       CASE WHEN k < ceil(n / 3.0) - 1
        |            THEN 'multiline_codec_max_lines_reached' ELSE '' END AS tag_str
        |FROM p ORDER BY event_group, message""".stripMargin,

    "lscl_condmut" ->
      """SELECT event_id,
        |       CASE WHEN event_type = 'click' THEN NULL ELSE props END AS props,
        |       CASE WHEN event_type = 'click' THEN props END AS p2,
        |       CASE WHEN event_type = 'click' THEN CAST(trunc(value) AS DOUBLE)
        |            ELSE value END AS value,
        |       CASE WHEN event_type = 'click' THEN event_type END AS etype_copy,
        |       CASE WHEN event_type = 'click' THEN 'click+x'
        |            ELSE event_type || '-x' END AS etype2
        |FROM events ORDER BY event_id""".stripMargin,

    "lscl_condparse" ->
      """SELECT event_id,
        |       CASE WHEN event_type = 'click' THEN CAST(user_id AS INTEGER) END AS uid,
        |       CASE WHEN event_type != 'error' THEN CAST(user_id AS VARCHAR) END AS kv_u,
        |       CASE WHEN event_type != 'error'
        |            THEN strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') END AS pts_str,
        |       CASE WHEN event_type = 'error' THEN NULL
        |            WHEN event_type = 'click' THEN ''
        |            ELSE '_grokparsefailure' END AS tag_str
        |FROM events ORDER BY event_id""".stripMargin,

    // an event the throttle lets through keeps no tags field (Event.java:
    // 472-537), so its tag_str is NULL
    "lscl_throttle" ->
      """WITH r AS (
        |  SELECT event_id,
        |         row_number() OVER (PARTITION BY event_type,
        |                            floor(floor(epoch(ts)) / 86400)
        |                            ORDER BY ts, event_id) AS rk
        |  FROM events)
        |SELECT event_id,
        |       CASE WHEN rk < 3 OR rk > 5 THEN 'throttled' END AS tag_str
        |FROM r ORDER BY event_id""".stripMargin,

    "lscl_metrics" ->
      """WITH m AS (
        |  SELECT 'evt_' || event_type AS meter,
        |         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS slot,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT meter, slot,
        |         CAST(SUM(n) OVER (PARTITION BY meter ORDER BY slot) AS BIGINT) AS count
        |  FROM m)
        |SELECT * FROM (
        |  SELECT meter, count,
        |         strftime(make_timestamp((slot + 1) * 86400 * 1000000),
        |                  '%Y-%m-%d %H:%M:%S') AS flush_ts
        |  FROM c
        |  UNION ALL
        |  SELECT '_passthrough', COUNT(*), '' FROM events)
        |ORDER BY meter, flush_ts""".stripMargin,

    "lscl_aggregate" ->
      """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS task_id,
        |       COUNT(*) AS n_events,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_s,
        |       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_s,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY task_id""".stripMargin,

    // generator emits seq 0..8999 cycling the 3 lines: seq%3=0 -> ERROR ->
    // errors; 1 -> WARN n=99 -> warnbig; 2 -> INFO -> rest; no row is
    // unrouted
    "lscl_e2e" ->
      """SELECT sink, CAST(n AS BIGINT) AS n FROM (VALUES
        |  ('_default', 0), ('_total', 9000),
        |  ('errors', 3000), ('rest', 3000), ('warnbig', 3000)) t(sink, n)
        |ORDER BY sink""".stripMargin,

    // mirrors LsclRouteConfig clause by clause: the branch chain adds exactly
    // one of err_prod/warn_big/other; teamA appends; odd_src is the sprintf'd
    // add_field; sink flags follow the output section's if/else-if/else
    "lscl_route" ->
      s"""${StandardPipeline.sqlTrunk},
         |flags AS (
         |  SELECT doc_id, source,
         |         delim_pos = 0 AS f_fail,
         |         coalesce(severity = 'ERROR' AND tier = 'prod', FALSE) AS f_err,
         |         coalesce(severity = 'WARN' AND n_tok > 64, FALSE) AS f_warn,
         |         coalesce(team IN ('team-0','team-1'), FALSE) AS f_team,
         |         coalesce(regexp_matches(source, '[13579]$$'), FALSE) AS f_odd
         |  FROM trunk)
         |SELECT doc_id,
         |       (CASE WHEN f_fail THEN '_dissectfailure,' ELSE '' END)
         |         || (CASE WHEN f_err THEN 'err_prod' WHEN f_warn THEN 'warn_big' ELSE 'other' END)
         |         || (CASE WHEN f_team THEN ',teamA' ELSE '' END) AS tags_str,
         |       CASE WHEN f_odd THEN source || '-odd' ELSE NULL END AS odd_src,
         |       CAST(f_err AS INTEGER) AS m_errors,
         |       CAST(NOT f_err AND f_warn AS INTEGER) AS m_warn,
         |       CAST(NOT f_err AND NOT f_warn AS INTEGER) AS m_rest
         |FROM flags ORDER BY doc_id""".stripMargin,

    "cond_ops" ->
      s"""${StandardPipeline.sqlTrunk}
         |SELECT doc_id,
         |  CAST(coalesce(position(severity IN severity || '-suffix') > 0, FALSE) AS INTEGER) AS f_in_field_hit,
         |  CAST(coalesce(position(team IN severity || '-suffix') > 0, FALSE) AS INTEGER) AS f_in_field_miss,
         |  CAST(coalesce(tier = 'prod', FALSE) AS INTEGER) AS f_eq,
         |  CAST(tier IS DISTINCT FROM 'prod' AS INTEGER) AS f_neq_null_true,
         |  CAST(coalesce(n_tok > 64, FALSE) AS INTEGER) AS f_gt,
         |  CAST(coalesce(position(team IN 'team-0 and team-1') > 0, FALSE) AS INTEGER) AS f_in_substr,
         |  CAST(coalesce(position('rc1' IN source) > 0, FALSE) AS INTEGER) AS f_const_in_field,
         |  CAST(coalesce(CAST(n_tok AS VARCHAR) IN ('64','65'), FALSE) AS INTEGER) AS f_in_list_stringified,
         |  CAST((team IS NOT NULL AND team <> '' AND team <> 'false') AS INTEGER) AS f_truthy,
         |  CAST(coalesce(regexp_matches(severity, '^ERR'), FALSE) AS INTEGER) AS f_regex,
         |  CAST((coalesce(severity = 'ERROR', FALSE) <> coalesce(n_tok > 64, FALSE)) AS INTEGER) AS f_xor,
         |  CAST(NOT ((team IS NOT NULL AND team <> '' AND team <> 'false')
         |            AND coalesce(tier = 'prod', FALSE)) AS INTEGER) AS f_nand,
         |  CAST(FALSE AS INTEGER) AS f_eq_str_vs_int,
         |  CAST(TRUE AS INTEGER) AS f_neq_str_vs_int,
         |  CAST(FALSE AS INTEGER) AS f_substr_nonstr,
         |  CAST(FALSE AS INTEGER) AS f_cif_nonstr
         |FROM trunk ORDER BY doc_id""".stripMargin,

    "evt_flowwin" -> {
      def winRate(frame: String): String =
        s"round(CASE WHEN ep - first_value(ep) OVER $frame > 0 THEN " +
          s"(counter - first_value(counter) OVER $frame) / CAST(ep - first_value(ep) OVER $frame AS DOUBLE) END, 6)"
      """WITH caps AS (
        |  SELECT event_type, date_trunc('minute', ts) AS capture_ts, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |c2 AS (
        |  SELECT event_type, capture_ts,
        |         CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY capture_ts) AS BIGINT) AS counter,
        |         CAST(floor(epoch(capture_ts)) AS BIGINT) AS ep
        |  FROM caps)
        |SELECT event_type, strftime(capture_ts, '%Y-%m-%d %H:%M:%S') AS cap_ts,
        |       counter,
        |       round(CASE WHEN ep - lag(ep) OVER wo > 0 THEN
        |         (counter - lag(counter) OVER wo) / CAST(ep - lag(ep) OVER wo AS DOUBLE) END, 6) AS current,
        |""".stripMargin +
        s"       ${winRate("w1")} AS last_1_minute,\n" +
        s"       ${winRate("w5")} AS last_5_minutes,\n" +
        s"       ${winRate("w15")} AS last_15_minutes,\n" +
        s"       ${winRate("wl")} AS lifetime\n" +
        """|FROM c2
        |WINDOW wo AS (PARTITION BY event_type ORDER BY ep),
        |       w1 AS (PARTITION BY event_type ORDER BY ep RANGE BETWEEN 60 PRECEDING AND CURRENT ROW),
        |       w5 AS (PARTITION BY event_type ORDER BY ep RANGE BETWEEN 300 PRECEDING AND CURRENT ROW),
        |       w15 AS (PARTITION BY event_type ORDER BY ep RANGE BETWEEN 900 PRECEDING AND CURRENT ROW),
        |       wl AS (PARTITION BY event_type ORDER BY ep ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, cap_ts""".stripMargin
    },

    "evt_xml" ->
      """SELECT event_id, event_type AS t, user_id AS u,
        |       CAST(floor(value * 100) AS BIGINT) AS v
        |FROM events ORDER BY event_id""".stripMargin,

    "pipe_jsonl" ->
      """SELECT event_id, user_id,
        |       CAST(length('{"event_id":' || event_id || ',"event_type":"'
        |         || event_type || '","user_id":' || user_id || '}') AS INTEGER) AS line_len
        |FROM events WHERE event_type = 'view' ORDER BY event_id""".stripMargin,

    "pipe_es_daily" ->
      """SELECT 'clicks-' || strftime(ts, '%Y.%m.%d') AS idx,
        |       COUNT(*) AS n
        |FROM events WHERE event_type = 'click' GROUP BY 1
        |UNION ALL
        |SELECT 'sink:es_rest', COUNT(*) FROM events WHERE event_type <> 'click'
        |ORDER BY idx""".stripMargin,

    "pipe_es_input" ->
      """SELECT 'logs-' || strftime(ts, '%Y.%m.%d') AS idx,
        |       COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events
        |WHERE strftime(ts, '%Y.%m.%d') LIKE '2024.01._2'
        |  AND event_type IN ('click', 'view')
        |  AND value >= 1.0 AND value < 50.0
        |  AND user_id <> 7
        |GROUP BY 1 ORDER BY idx""".stripMargin,

    "evt_dns" ->
      """SELECT event_id,
        |       CASE WHEN user_id % 10 <= 6 THEN '10.0.0.' || (user_id % 10)
        |            WHEN event_id % 4 = 0 THEN upper('host' || (user_id % 10) || '.example.com')
        |            ELSE 'host' || (user_id % 10) || '.example.com' END AS h,
        |       CASE WHEN user_id % 10 <= 6 THEN 'host' || (user_id % 10) || '.example.com'
        |            ELSE '10.0.0.' || (user_id % 10) END AS a,
        |       CASE WHEN user_id % 10 <= 6 THEN '' ELSE '_dnsfail' END AS tag_str
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_flowext" -> {
      // delta helpers mirroring Flow.workerFlows' exact double op order
      def dw(c: String, f: String): String =
        s"(CAST($c AS DOUBLE) - CAST(first_value($c) OVER $f AS DOUBLE))"
      def dl(c: String): String =
        s"(CAST($c AS DOUBLE) - CAST(lag($c) OVER wo AS DOUBLE))"
      def ratio(dn: String, dd: String): String =
        s"CASE WHEN $dd > 0 THEN floor($dn / $dd * 1000000.0 + 0.5) / 1000000.0 END"
      def pct(dn: String, dd: String): String =
        s"CASE WHEN $dd > 0 THEN floor($dn * 100 / ($dd * 4) * 1000000.0 + 0.5) / 1000000.0 END"
      """WITH caps AS (
        |  SELECT event_type, date_trunc('minute', ts) AS capture_ts, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |c2 AS (
        |  SELECT event_type, capture_ts,
        |         CAST(SUM(n * 3) OVER cum AS BIGINT) AS push_ms,
        |         CAST(SUM(n * 17 + 5) OVER cum AS BIGINT) AS dur_ms,
        |         CAST(floor(epoch(capture_ts)) AS BIGINT) AS ep
        |  FROM caps
        |  WINDOW cum AS (PARTITION BY event_type ORDER BY capture_ts)),
        |c3 AS (
        |  SELECT event_type, capture_ts, push_ms, dur_ms, ep,
        |         (ep - MIN(ep) OVER (PARTITION BY event_type)) * 1000 + 60000 AS uptime_ms
        |  FROM c2)
        |SELECT event_type, strftime(capture_ts, '%Y-%m-%d %H:%M:%S') AS cap_ts,
        |       push_ms, dur_ms, uptime_ms,
        |""".stripMargin +
        s"       ${ratio(dl("push_ms"), dl("uptime_ms"))} AS queue_backpressure,\n" +
        s"       ${ratio(dw("push_ms", "w5"), dw("uptime_ms", "w5"))} AS queue_backpressure_last_5_minutes,\n" +
        s"       ${ratio(dw("push_ms", "wl"), dw("uptime_ms", "wl"))} AS queue_backpressure_lifetime,\n" +
        s"       ${ratio(dl("dur_ms"), dl("uptime_ms"))} AS worker_concurrency,\n" +
        s"       ${ratio(dw("dur_ms", "w5"), dw("uptime_ms", "w5"))} AS worker_concurrency_last_5_minutes,\n" +
        s"       ${ratio(dw("dur_ms", "wl"), dw("uptime_ms", "wl"))} AS worker_concurrency_lifetime,\n" +
        s"       ${pct(dl("dur_ms"), dl("uptime_ms"))} AS worker_utilization,\n" +
        s"       ${pct(dw("dur_ms", "w5"), dw("uptime_ms", "w5"))} AS worker_utilization_last_5_minutes,\n" +
        s"       ${pct(dw("dur_ms", "wl"), dw("uptime_ms", "wl"))} AS worker_utilization_lifetime\n" +
        """|FROM c3
        |WINDOW wo AS (PARTITION BY event_type ORDER BY ep),
        |       w5 AS (PARTITION BY event_type ORDER BY ep RANGE BETWEEN 300 PRECEDING AND CURRENT ROW),
        |       wl AS (PARTITION BY event_type ORDER BY ep ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, cap_ts""".stripMargin
    },

    "pipe_translate2" ->
      s"""${StandardPipeline.sqlTrunk}
         |SELECT doc_id, source,
         |       CASE WHEN regexp_matches(source, '^src1[0-9]$$') THEN 'teen'
         |            WHEN regexp_matches(source, '^src[0-9]$$') THEN 'single'
         |            ELSE 'other' END AS t_regex,
         |       CASE WHEN position('19' IN source) > 0 THEN 'nineteen'
         |            WHEN position('1' IN source) > 0 THEN 'hasone'
         |            ELSE NULL END AS t_substr,
         |       CASE WHEN source = 'src0' THEN 'zero'
         |            WHEN source = 'src1' THEN 'one'
         |            ELSE 'miss' END AS t_exact
         |FROM trunk ORDER BY doc_id""".stripMargin,

    "gen_source" ->
      """SELECT range AS seq,
        |       CASE range % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
        |            ELSE 'gamma' END AS message
        |FROM range(10000) ORDER BY seq""".stripMargin,

    "evt_fieldwrite" ->
      """SELECT event_id,
        |       '{"uid":' || CAST(user_id * 2 AS VARCHAR)
        |         || ',"etype":"' || event_type || '"}' AS ctx_json,
        |       'z,b,' || event_type AS lst0_str,
        |       'a,b,y' AS lstm1_str,
        |       'a,b,' || event_type || ',NUL,p' AS lst5_str,
        |       '{"deep":{"k":"v"}}' AS fresh_json
        |FROM events ORDER BY event_id""".stripMargin,

    "mut_prune" ->
      s"""${StandardPipeline.sqlTrunk}
         |SELECT doc_id, severity, team FROM trunk ORDER BY doc_id""".stripMargin,

    "mut_sprintf" ->
      s"""${StandardPipeline.sqlTrunk}
         |SELECT doc_id,
         |       'sev=' || coalesce(severity, '%{severity}')
         |         || ' team=' || coalesce(team, '%{team}') || '!' AS greeting
         |FROM trunk ORDER BY doc_id""".stripMargin,

    "mut_sprintf2" ->
      """SELECT event_id,
        |       'd=' || strftime(ts, '%Y.%m.%d') AS day_joda,
        |       't=' || strftime(ts, '%H:%M:%S') AS hms_joda,
        |       'e=' || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) AS epoch,
        |       'j=' || strftime(ts, '%Y/%m/%d %H') AS java_fmt,
        |       'L=' || array_to_string(string_split(props, ' '), ',') AS joined,
        |       'M=' || to_json(MAP(['t'],[event_type])) AS as_json,
        |       'u=' || CAST(user_id AS VARCHAR) AS deep,
        |       'x=%{nope}' AS missing
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_drop_pct" ->
      """SELECT event_type, COUNT(*) AS n
        |FROM events
        |WHERE NOT (event_type = 'view'
        |           AND CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 50)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "evt_json" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "pipe_chain" -> {
      val errPred = StandardPipeline.sqlSinkPreds.head._2
      s"""${StandardPipeline.sqlTrunk}
         |SELECT team, CAST(n_tok > 64 AS INTEGER) AS big, COUNT(*) AS n
         |FROM trunk WHERE $errPred
         |GROUP BY team, big ORDER BY team, big""".stripMargin
    },

    "lscl_extras" ->
      """SELECT event_id,
        |       CASE WHEN event_type <> 'signup' THEN
        |         CASE event_id % 5
        |           WHEN 0 THEN CAST(user_id % 100 AS DOUBLE)
        |           WHEN 1 THEN CAST(user_id % 100 AS DOUBLE) * 1024
        |           WHEN 2 THEN CAST(user_id % 100 AS DOUBLE) * 1048576
        |           WHEN 3 THEN CAST(user_id % 100 AS DOUBLE) * 1073741824
        |           ELSE NULL END
        |       END AS nbytes,
        |       user_id % 50 AS int1,
        |       CAST(NULL AS BIGINT) AS int2,
        |       CAST(event_id % 7 AS DOUBLE) + 0.5 AS float1,
        |       CASE WHEN length(event_type) BETWEEN 4 AND 5 THEN 'short' END AS band,
        |       CASE event_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' ELSE 'io' END AS tld,
        |       'example' AS sld,
        |       event_type AS trd,
        |       'example.' || CASE event_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' ELSE 'io' END AS domain,
        |       CASE WHEN event_type <> 'signup' AND event_id % 5 = 4
        |                 AND value BETWEEN 100 AND 1000000000 THEN '_bytesparsefailure,big'
        |            WHEN event_type <> 'signup' AND event_id % 5 = 4 THEN '_bytesparsefailure'
        |            WHEN value BETWEEN 100 AND 1000000000 THEN 'big'
        |            ELSE '' END AS tag_str
        |FROM events WHERE NOT (user_id BETWEEN 0 AND 4)
        |ORDER BY event_id""".stripMargin,

    "lscl_extras2" ->
      """SELECT event_id,
        |       'prod' AS tier,
        |       (epoch_us(TIMESTAMP '2025-06-01 00:00:00') - epoch_us(ts)) / 1000000.0 AS age,
        |       '{"t":"' || event_type || '","u":' || user_id || '}' AS st_json,
        |       '"' || event_type || '"' AS et_json,
        |       event_type AS rt
        |FROM events ORDER BY event_id""".stripMargin,

    "pipe_es_bulk" ->
      """WITH i AS (SELECT unnest(generate_series(0, 199)) AS i),
        |docs AS (
        |  SELECT CASE i % 3 WHEN 0 THEN 'index' WHEN 1 THEN 'create' ELSE 'update' END AS action,
        |         'idx' || CAST(i % 2 AS VARCHAR) AS bulk_index,
        |         CAST(i AS VARCHAR) AS bulk_id,
        |         '{"n":' || CAST(i AS VARCHAR) || ',"s":"v' || CAST(i AS VARCHAR) || '"}' AS message,
        |         '' AS tag_str
        |  FROM i),
        |dels AS (
        |  SELECT 'delete' AS action, 'idxD' AS bulk_index,
        |         CAST(9000 + i AS VARCHAR) AS bulk_id,
        |         CAST(NULL AS VARCHAR) AS message, '' AS tag_str
        |  FROM i WHERE i % 5 = 0),
        |orph AS (
        |  SELECT CAST(NULL AS VARCHAR) AS action, CAST(NULL AS VARCHAR) AS bulk_index,
        |         CAST(NULL AS VARCHAR) AS bulk_id, '{"orphan":true}' AS message,
        |         '_es_bulk_orphan' AS tag_str)
        |SELECT * FROM (SELECT * FROM docs UNION ALL SELECT * FROM dels
        |               UNION ALL SELECT * FROM orph)
        |ORDER BY coalesce(bulk_id, 'zzz'), action""".stripMargin,

    "pipe_gelf" ->
      """SELECT i AS seq,
        |       'h' || CAST(i % 5 AS VARCHAR) AS host,
        |       CASE WHEN i % 3 = 0 THEN 'fm' || CAST(i AS VARCHAR)
        |            ELSE 'sm' || CAST(i AS VARCHAR) END AS message,
        |       CAST(i % 8 AS BIGINT) AS level,
        |       'f' || CAST(i % 4 AS VARCHAR) AS facility,
        |       CAST(1700000000.5 AS DOUBLE) + i AS epoch
        |FROM (SELECT unnest(generate_series(0, 149)) AS i)
        |ORDER BY seq""".stripMargin,

    "pipe_collectd" ->
      """WITH i AS (SELECT unnest(generate_series(0, 99)) AS i)
        |SELECT * FROM (
        |  SELECT 'h' || CAST(i % 4 AS VARCHAR) AS host,
        |         CAST(1000 + i AS DOUBLE) AS collectd_time,
        |         'core' || CAST(i % 2 AS VARCHAR) AS plugin_instance,
        |         'ti' || CAST(i AS VARCHAR) AS type_instance,
        |         CAST(10 AS DOUBLE) AS "interval",
        |         i * 0.5 AS v0, CAST(i * 3 AS DOUBLE) AS v1,
        |         'gauge,counter' AS dstype_str
        |  FROM i
        |  UNION ALL
        |  SELECT 'h' || CAST(i % 4 AS VARCHAR), CAST(1000 + i AS DOUBLE),
        |         'core' || CAST(i % 2 AS VARCHAR), 'ti' || CAST(i AS VARCHAR),
        |         CAST(10 AS DOUBLE), CAST(i * 7 AS DOUBLE),
        |         CAST(NULL AS DOUBLE), 'derive'
        |  FROM i)
        |ORDER BY type_instance, dstype_str""".stripMargin,

    "pipe_netflow" ->
      """WITH g AS (SELECT p, i FROM (SELECT unnest(generate_series(0, 19)) AS p),
        |                          (SELECT unnest(generate_series(0, 4)) AS i))
        |SELECT CAST(p * 5 + i AS BIGINT) AS flow_seq_num,
        |       '10.0.' || CAST(p AS VARCHAR) || '.' || CAST(i AS VARCHAR) AS ipv4_src_addr,
        |       '192.168.0.' || CAST(i AS VARCHAR) AS ipv4_dst_addr,
        |       CAST(p * 10 + i AS BIGINT) AS in_pkts,
        |       CAST((p * 10 + i) * 64 AS BIGINT) AS in_bytes,
        |       CAST(1000 + i AS INTEGER) AS l4_src_port,
        |       CAST(CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS INTEGER) AS protocol,
        |       CAST(1600000000 + p - (i + 1) AS DOUBLE) AS first_switched,
        |       CAST(1600000000 + p AS DOUBLE) AS last_switched,
        |       CAST(100 AS INTEGER) AS src_as,
        |       CAST(16 AS INTEGER) AS dst_mask
        |FROM g ORDER BY flow_seq_num""".stripMargin,

    "pipe_snmptrap" ->
      """WITH g AS (SELECT unnest(generate_series(0, 119)) AS i),
        |t AS (
        |  SELECT
        |    CASE WHEN i % 2 = 0 THEN '1' ELSE '2c' END AS snmp_version,
        |    CASE WHEN i % 2 = 0 THEN 'pub' || CAST(i % 3 AS VARCHAR) ELSE 'pub' END AS community,
        |    CASE WHEN i % 2 = 0 THEN '1.3.6.1.4.1.' || CAST(i % 50 AS VARCHAR) END AS enterprise,
        |    CASE WHEN i % 2 = 0 THEN '10.0.' || CAST(i % 4 AS VARCHAR) || '.' || CAST(i % 200 AS VARCHAR) END AS agent_addr,
        |    CASE WHEN i % 2 = 0 THEN CAST(6 AS INTEGER) END AS generic_trap,
        |    CASE WHEN i % 2 = 0 THEN CAST(i % 9 AS INTEGER) END AS specific_trap,
        |    CASE WHEN i % 2 = 0 THEN CAST(i * 100 AS BIGINT) END AS timeticks,
        |    CASE WHEN i % 2 = 1 THEN CAST(1000 + i AS BIGINT) END AS request_id,
        |    CASE WHEN i % 2 = 0 THEN
        |      '1.3.6.1.2.1.1.5.0=host' || CAST(i AS VARCHAR) || ';1.3.6.1.4.1.42.'
        |        || CAST(i AS VARCHAR) || '=' || CAST(i * 7 AS VARCHAR)
        |    ELSE
        |      '1.3.6.1.2.1.1.5.0=host' || CAST(i AS VARCHAR)
        |        || ';1.3.6.1.6.3.1.1.4.1.0=1.3.6.1.4.1.' || CAST(i % 50 AS VARCHAR)
        |    END AS vb_str,
        |    '' AS tag_str
        |  FROM g
        |  UNION ALL
        |  SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |         '_snmptrapparsefailure'
        |  FROM generate_series(1, 3))
        |SELECT * FROM t ORDER BY COALESCE(vb_str, '')""".stripMargin,

    "pipe_ganglia" ->
      """WITH g AS (SELECT unnest(generate_series(0, 119)) AS i),
        |v AS (
        |  SELECT 'h' || CAST(i % 3 AS VARCHAR) AS log_host,
        |         'm' || CAST(i % 5 AS VARCHAR) AS name,
        |         CASE i % 5
        |           WHEN 0 THEN CAST(i - 60 AS VARCHAR)
        |           WHEN 1 THEN CAST(4000000000 + i AS VARCHAR)
        |           WHEN 2 THEN 's' || CAST(i AS VARCHAR)
        |           WHEN 3 THEN CAST(i AS VARCHAR) || '.0'
        |           ELSE CAST(i AS VARCHAR) || '.5'
        |         END AS val,
        |         CASE i % 5 WHEN 0 THEN 'int32' WHEN 1 THEN 'uint32'
        |           WHEN 2 THEN 'string' WHEN 3 THEN 'float' ELSE 'double'
        |         END AS value_type,
        |         'u' || CAST(i % 5 AS VARCHAR) AS units,
        |         CASE i % 5 WHEN 0 THEN 'zero' WHEN 1 THEN 'positive'
        |           WHEN 2 THEN 'negative' WHEN 3 THEN 'both' ELSE 'unspecified'
        |         END AS slope,
        |         CAST(20 + i % 5 AS BIGINT) AS tmax,
        |         CAST((i % 5) * 10 AS BIGINT) AS dmax,
        |         i % 7 = 0 AS spoof,
        |         '' AS tag_str
        |  FROM g
        |  UNION ALL
        |  SELECT 'h9', 'ghost', CAST(i AS VARCHAR), NULL, NULL, NULL,
        |         NULL, NULL, FALSE, '_gangliametadatamissing'
        |  FROM (SELECT unnest(generate_series(120, 122)) AS i)
        |  UNION ALL
        |  SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |         CAST(NULL AS BOOLEAN), '_gangliaparsefailure'
        |  FROM generate_series(1, 2))
        |SELECT * FROM v ORDER BY COALESCE(val, ''), tag_str""".stripMargin,

    "pipe_nagios" ->
      """SELECT '[' || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR)
        |  || '] PROCESS_SERVICE_CHECK_RESULT;web' || CAST(user_id % 4 AS VARCHAR)
        |  || ';' || event_type || ';' || CAST(user_id % 4 AS VARCHAR)
        |  || ';chk' || CAST(event_id AS VARCHAR) AS value
        |FROM events
        |WHERE event_id % 5 <> 0 AND event_id % 7 <> 0
        |ORDER BY value""".stripMargin,

    "pipe_webhdfs" ->
      """SELECT '/user/graft/dt=' || event_type || '/part.log' AS path,
        |       COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS uid_sum
        |FROM events GROUP BY 1 ORDER BY path""".stripMargin,

    "pipe_couchdb" ->
      """SELECT CAST(CASE WHEN i % 10 = 0 THEN NULL ELSE i END AS INTEGER) AS a,
        |       CASE WHEN i % 10 = 0 THEN NULL ELSE 'x' || CAST(i AS VARCHAR) END AS b,
        |       'd' || CAST(i AS VARCHAR) AS _meta_id,
        |       '1-r' || CAST(i AS VARCHAR) AS _meta_rev,
        |       CASE WHEN i % 10 = 0 THEN 'delete' ELSE 'update' END AS _meta_action,
        |       CAST(i AS VARCHAR) || '-seq' AS _meta_seq
        |FROM (SELECT unnest(generate_series(0, 59)) AS i)
        |ORDER BY _meta_id""".stripMargin,

    "pipe_protobuf" ->
      """SELECT 'n' || CAST(i AS VARCHAR) AS name,
        |       CASE WHEN i % 4 = 0 THEN NULL ELSE CAST(i * 3 AS BIGINT) END AS count,
        |       i * 0.25 AS score,
        |       i % 2 = 1 AS flag
        |FROM (SELECT unnest(generate_series(0, 199)) AS i)
        |ORDER BY strlen(name), name""".stripMargin,

    "lscl_math" ->
      """SELECT event_id,
        |       value + 10 AS v_add,
        |       (value + 10) * user_id AS v_mul,
        |       CASE WHEN user_id = 0 THEN NULL ELSE value / user_id END AS v_div,
        |       CAST(user_id AS DOUBLE) % 7 AS v_mod,
        |       floor((CASE WHEN user_id = 0 THEN NULL ELSE value / user_id END)
        |             * 1000 + 0.5) / 1000 AS v_round
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_punct" ->
      """SELECT doc_id,
        |       regexp_replace(text, '[A-Za-z0-9 \t]', '', 'g') AS shape
        |FROM documents ORDER BY doc_id""".stripMargin,

    "lscl_poll" ->
      """SELECT * FROM (VALUES
        |  ('hb', 'ok', CAST(1 AS BIGINT), CAST(NULL AS INTEGER), ''),
        |  ('hb', 'ok', CAST(2 AS BIGINT), CAST(NULL AS INTEGER), ''),
        |  ('hb', 'ok', CAST(3 AS BIGINT), CAST(NULL AS INTEGER), ''),
        |  ('health', '{"status":"green"}', CAST(NULL AS BIGINT), CAST(200 AS INTEGER), ''),
        |  ('missing', '', CAST(NULL AS BIGINT), CAST(404 AS INTEGER), '_http_request_failure'))
        |  AS t(name, msg, clock, status, tag_str)
        |ORDER BY name, clock""".stripMargin,

    "lscl_metricize" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value,
        |         value * 2 AS m1,
        |         CASE WHEN event_id % 4 <> 0 THEN value + 1 END AS m2
        |  FROM events)
        |SELECT * FROM (
        |  SELECT event_id, '' AS metric, value, m1, m2 FROM base
        |  UNION ALL
        |  SELECT event_id, 'm1' AS metric, m1 AS value,
        |         CAST(NULL AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2
        |  FROM base WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT event_id, 'm2' AS metric, m2 AS value,
        |         CAST(NULL AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2
        |  FROM base WHERE event_type <> 'error' AND m2 IS NOT NULL)
        |ORDER BY event_id, metric""".stripMargin,
  )
}
