package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.conditions.Cond

/** Conditional fan-out routing to N sink tables — Logstash's output-section
  * if/else-gated outputs (SURVEY.md §2.6/§3), Spark-first.
  *
  * Physical plan stance (the one real physical decision, SURVEY.md §4):
  * the parsed+enriched trunk is materialized ONCE (persist MEMORY_AND_DISK),
  * then each sink is a filter+write over the cached trunk and all per-sink
  * counts come from a SINGLE aggregate pass over boolean match flags — never
  * one `count()` job per sink. At 100 TB this means one scan of the input,
  * one pass for aggregates, and per-sink writes that each read the cache,
  * instead of N+1 input scans.
  *
  * Logstash outputs are independently gated (an event can match several
  * sinks); `default` catches rows matching none — both supported.
  */
object Route {

  /** `indexTemplate`: the elasticsearch output's per-event sprintf'd index
    * name (e.g. `logs-%{+YYYY.MM.dd}` daily indices). When set, the sink is
    * written `partitionBy(_index)` with the evaluated template — each index
    * value becomes one partition directory of the sink, the lake analogue
    * of per-day indices, and stays partition-prunable by date.
    */
  /** `codec`: sink serialization — None = parquet (the lake-native default);
    * `json_lines` = one JSON document per line in text files (the reference
    * file output's DEFAULT codec), encoded executor-side via toJSON.
    */
  /** `documentId`: the elasticsearch output's `document_id => "%{...}"` —
    * indexing twice under one id upserts, making replays and duplicate
    * events idempotent. Batch analogue: the sink keeps ONE row per rendered
    * id (per index when the index is also templated, matching ES identity =
    * (_index, _id)); the winner is the struct-minimum over the payload
    * columns — deterministic, and identical to any other pick in the
    * intended regime where same id = same document. Implemented as a
    * groupBy(min(struct)) so the exchange gets map-side combine and keys on
    * the id hash — the exact analogue of ES routing documents to shards by
    * _id hash.
    */
  /** `csvFields`/`csvSep`: the csv output plugin (logstash-output-csv) —
    * codec "csv" writes the selected event fields joined by the separator,
    * one line per event (no quoting: the token world's values are
    * separator-free; a quoting writer would slot in here).
    */
  /** `esAction`: the elasticsearch output's `action` — a sprintf template
    * (static string = constant action) rendering per event to
    * index|create|update|delete. Batch reduction per (index, id) over the
    * same grouped machinery as `documentId`, in the deterministic
    * payload-struct order (leading payload column = the frame's sequence
    * column in practice):
    *  - an id with ANY delete event is removed entirely (tombstone wins —
    *    the batch collapse of an op stream ending in delete);
    *  - otherwise index/update keep the id's LAST such event (later ops
    *    overwrite), create keeps the FIRST (only the first create succeeds,
    *    ES version-conflicts the rest); mixed groups prefer the last
    *    index/update (it would overwrite whatever the create put there).
    * Absent => the documentId default (deterministic min-struct upsert).
    */
  final case class SinkSpec(name: String, cond: Cond,
                            decorator: Mutate.Decorator = Mutate.Decorator(),
                            indexTemplate: Option[String] = None,
                            codec: Option[String] = None,
                            documentId: Option[String] = None,
                            csvFields: Seq[String] = Nil,
                            csvSep: String = ",",
                            esAction: Option[String] = None,
                            lineFormat: Option[String] = None)

  /** Columns whose names start with this prefix are the `@metadata` analogue:
    * available to conditions/decorators, dropped before every sink write
    * (Event.java:57-68 — metadata never reaches sinks).
    */
  val MetaPrefix = "_meta_"

  /** Add one boolean match-flag column per sink (`_m_<sink>`), two-valued
    * (null routes false). One projection, no shuffle.
    */
  def withSinkFlags(trunk: DataFrame, sinks: Seq[SinkSpec]): DataFrame =
    sinks.foldLeft(trunk) { (d, s) => d.withColumn(flagCol(s.name), Cond.predicateFor(trunk, s.cond)) }

  def flagCol(sink: String): String = s"_m_$sink"

  /** Per-sink routed frame (decorated, metadata dropped) from a flagged trunk. */
  def sinkFrame(flagged: DataFrame, spec: SinkSpec): DataFrame = {
    val matched = flagged.filter(col(flagCol(spec.name)))
    val decorated = spec.decorator(matched)
    val dropCols = decorated.columns.filter(c => c.startsWith("_m_") || c.startsWith(MetaPrefix))
    decorated.drop(dropCols.toIndexedSeq: _*)
  }

  /** Rows matching no sink (the implicit else branch). With zero sinks
    * (e.g. a config whose only outputs are network sinks) every row is
    * unmatched.
    */
  def defaultFrame(flagged: DataFrame, sinks: Seq[SinkSpec]): DataFrame = {
    val none = sinks.map(s => !col(flagCol(s.name)))
      .reduceOption(_ && _).getOrElse(lit(true))
    val d = flagged.filter(none)
    d.drop(d.columns.filter(c => c.startsWith("_m_") || c.startsWith(MetaPrefix)).toIndexedSeq: _*)
  }

  /** Single-pass per-sink aggregate counts (the north-rule invariant —
    * Logstash's per-output events.out counters). One narrow aggregate job.
    */
  def sinkCounts(flagged: DataFrame, sinks: Seq[SinkSpec], withDefault: Boolean = true): DataFrame = {
    // sums coalesced to 0: on an EMPTY trunk sum() is SQL NULL, which would
    // NPE run()'s counts collection — empty inputs must report zeros.
    val sums: Seq[Column] = sinks.map(s =>
      coalesce(sum(col(flagCol(s.name)).cast("long")), lit(0L)).as(s.name)) ++
      (if (withDefault) {
        val anyMatch = sinks.map(s => col(flagCol(s.name)))
          .reduceOption(_ || _).getOrElse(lit(false)) // zero sinks: all default
        Seq(coalesce(sum((!anyMatch).cast("long")), lit(0L)).as("_default"),
            count(lit(1)).as("_total"))
      } else Seq(count(lit(1)).as("_total")))
    val wide = flagged.agg(sums.head, sums.tail: _*)
    // long form: (sink, n) — stable shape for the metrics table
    val pairs = wide.columns.map(c => struct(lit(c).as("sink"), col(c).as("n")))
    wide.select(explode(array(pairs.toIndexedSeq: _*)).as("kv"))
      .select(col("kv.sink").as("sink"), col("kv.n").as("n"))
  }

  /** Writers that store [[sinkFrame]] as plain parquet (the streaming
    * fan-out, snapshot-table sinks) have no index, codec, document-id,
    * csv, action or line-format layout: a sink asking for one fails here,
    * before anything is written, instead of silently landing as parquet.
    */
  private[graft] def requirePlainSinks(sinks: Seq[SinkSpec], writer: String): Unit =
    sinks.foreach { s =>
      val dropped = Seq("indexTemplate" -> s.indexTemplate.nonEmpty,
          "codec" -> s.codec.nonEmpty, "documentId" -> s.documentId.nonEmpty,
          "csvFields" -> s.csvFields.nonEmpty, "esAction" -> s.esAction.nonEmpty,
          "lineFormat" -> s.lineFormat.nonEmpty).collect { case (field, true) => field }
      require(dropped.isEmpty,
        s"sink '${s.name}' sets ${dropped.mkString(", ")}, but $writer writes plain " +
          "parquet and would drop it — write that sink with Route.run instead")
    }

  final case class RunResult(counts: Map[String, Long], sinkPaths: Map[String, String],
                             resumedSinks: Seq[String], manifestPath: String = "")

  /** Iceberg-snapshot-style manifest chain: every run() appends
    * `_manifests/manifest-<k>.json` (k monotonically increasing, parent = k-1)
    * recording per-sink counts, sink paths and which sinks were resumed
    * (skipped because already committed). The latest manifest is the commit
    * point; a resumed run is auditable as a child snapshot whose `resumed`
    * list explains what it did NOT rewrite. Driver-side, one tiny file —
    * no data-path cost.
    */
  private def writeManifest(spark: SparkSession, outDir: String,
                            counts: Map[String, Long], paths: Map[String, String],
                            resumed: Seq[String]): String = {
    val dir = new org.apache.hadoop.fs.Path(outDir, "_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val Id = "manifest-(\\d+)\\.json".r
    val prev = fs.listStatus(dir).map(_.getPath.getName).collect { case Id(n) => n.toLong }
    val next = if (prev.isEmpty) 0L else prev.max + 1
    val jstr = graft.model.Json.quote _
    val json =
      s"""{"snapshot_id":$next,"parent_id":${if (next == 0) "null" else next - 1},
         |"counts":{${counts.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")}},
         |"sinks":{${paths.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")}},
         |"resumed":[${resumed.sorted.map(jstr).mkString(",")}]}""".stripMargin
    val name = f"manifest-$next%06d.json"
    require(SnapshotTable.publishIfAbsent(fs, dir, name, json.getBytes("UTF-8")),
      s"concurrent Route.run commit detected for $name under $outDir — " +
        "concurrent runs into one outDir are not supported")
    new org.apache.hadoop.fs.Path(dir, name).toString
  }

  /** Flow-metrics table (reference FlowMetric.java:31-50 analogue at job
    * granularity): events in/out per sink, wall duration, throughput —
    * persisted to `outDir/_metrics` next to the per-partition `_lineage`
    * rows. Together they are the "metric accumulators persisted" surface:
    * job totals here, per-partition detail in _lineage.
    */
  def runWithMetrics(spark: SparkSession, trunk: DataFrame, sinks: Seq[SinkSpec],
                     outDir: String, writeDefault: Boolean = true,
                     ordered: Boolean = false, buckets: Int = 0): RunResult = {
    val t0 = System.nanoTime()
    val r = run(spark, trunk, sinks, outDir, writeDefault, ordered, buckets)
    val durSec = (System.nanoTime() - t0) / 1e9
    val total = r.counts.getOrElse("_total", 0L)
    import spark.implicits._
    val rows = Seq(
      "events_in" -> total.toDouble,
      "duration_sec" -> durSec,
      "input_throughput_eps" -> (if (durSec > 0) total / durSec else 0.0)) ++
      r.counts.toSeq.sortBy(_._1).map { case (k, v) => s"events_out_$k" -> v.toDouble }
    rows.toDF("metric", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_metrics")
    r
  }

  /** `GET /_node/stats` analogue (SURVEY §3.3; reference
    * NodeStatsAction/metrics API): one JSON document over a completed run's
    * persisted surfaces — per-sink out counters + totals (`_counts`), flow
    * metrics (`_metrics`, when runWithMetrics wrote them), per-partition
    * lineage row counts (`_lineage`), and the latest manifest snapshot id.
    * Driver-side reads of driver-sized tables only.
    */
  def nodeStats(spark: SparkSession, outDir: String): String = {
    val jstr = graft.model.Json.quote _
    val counts = spark.read.parquet(s"$outDir/_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val metrics: Seq[(String, Double)] =
      try spark.read.parquet(s"$outDir/_metrics")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
      catch { case _: Throwable => Nil }
    val lineageParts =
      try spark.read.parquet(s"$outDir/_lineage").count()
      catch { case _: Throwable => 0L }
    val snapshot = latestManifest(spark, outDir)
      .flatMap("\"snapshot_id\":(\\d+)".r.findFirstMatchIn(_)).map(_.group(1)).getOrElse("null")
    val total = counts.toMap.getOrElse("_total", 0L)
    val out = counts.filter(!_._1.startsWith("_"))
      .map { case (k, v) => s"${jstr(k)}:{${jstr("events_out")}:$v}" }.mkString(",")
    s"""{"events":{"in":$total,"out":${counts.toMap.getOrElse("_total", 0L) - counts.toMap.getOrElse("_default", 0L)}},""" +
      s""""pipelines":{"main":{"plugins":{"outputs":{$out}},""" +
      s""""flow":{${metrics.map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")}},""" +
      s""""lineage_partitions":$lineageParts,"snapshot_id":$snapshot}}}"""
  }

  /** Latest committed manifest JSON for an output dir, if any run completed. */
  def latestManifest(spark: SparkSession, outDir: String): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(outDir, "_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath).sortBy(_.getName).lastOption.map { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
  }

  /** Execute the fan-out: persist trunk, write every sink + default + dlq +
    * lineage + counts to `outDir`. Idempotent/resumable: a sink directory
    * with a `_SUCCESS` marker is skipped on re-run (counts are recomputed
    * from the trunk, so resumed runs still report exact totals).
    */
  /** Execute the fan-out. `ordered = true` reproduces the reference's
    * `pipeline.ordered` mode (CompiledPipeline.java:317-352): sink files are
    * range-partitioned and sorted by doc_id, so output order is deterministic
    * — at the cost of one extra range shuffle, exactly like the reference
    * pays single-worker serialization. Default is unordered (like the
    * reference default).
    */
  /** `buckets > 0` adds partition-level idempotent overwrite: every sink is
    * written `partitionBy(_bucket)` (deterministic hash of doc_id) with
    * dynamic partition overwrite, so a retried run after a partial failure
    * rewrites exactly the bucket directories it produces — never appends
    * duplicates — while untouched buckets of other sinks survive. This is
    * the per-partition idempotence the reference gets from PQ acked-batch
    * checkpoints (ackedqueue/Queue.java:200-335), on top of the sink-level
    * `_SUCCESS` skip.
    */
  def run(spark: SparkSession, trunk: DataFrame, sinks: Seq[SinkSpec], outDir: String,
          writeDefault: Boolean = true, ordered: Boolean = false,
          buckets: Int = 0, extraCounts: Map[String, Long] = Map.empty): RunResult = {
    // '_' names are the run's own outputs (_default, _lineage, _counts,
    // _metrics, _manifests): a sink named like one would merge into it or
    // suppress it
    sinks.foreach(sp => require(!sp.name.startsWith("_"),
      s"sink name '${sp.name}' starts with '_', which is reserved for Route.run's " +
        "own outputs (_default, _lineage, _counts, _metrics, _manifests) — rename the sink"))
    val trunk1 =
      if (ordered) trunk.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
      else trunk
    val flagged = withSinkFlags(trunk1, sinks).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      val resumed = Seq.newBuilder[String]
      // --- combined single-pass write for PLAIN sinks (r6, guide §2.4/§6) ---
      // A plain sink (no index/codec/document_id/action/csv/line surface,
      // identity decorator) writes exactly filter(flag) + drop(internal
      // columns) — the same payload columns as every other plain sink and
      // as the default branch. Writing N of them separately re-reads the
      // persisted trunk N times: N write jobs and, at scale, N full passes
      // over the routed data. One partitionBy(_sink) write produces all of
      // them in ONE pass (a row explodes only into the sinks it matches —
      // exactly the rows the N separate writes hold), then each partition
      // dir is renamed to the sink's contract path and given its _SUCCESS
      // marker, so the read-back layout and resume semantics are unchanged.
      // Falls back to the per-sink writer for: zero-row sinks (preserving
      // the empty-dir-with-schema layout), `ordered` runs (the dynamic-
      // partition writer's internal sort on the partition key need not be
      // stable, and ordered mode's contract is within-file order), bucketed
      // runs (two-level layout), and names needing partition-path escaping.
      val outFs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(hadoopConf)
      // reap staging debris of a crashed earlier combined write, whatever
      // this run writes (a fully resumed rerun stages nothing)
      if (outFs.exists(new org.apache.hadoop.fs.Path(outDir)))
        outFs.listStatus(new org.apache.hadoop.fs.Path(outDir))
          .filter(_.getPath.getName.startsWith(".sinkstage-"))
          .foreach(st => outFs.delete(st.getPath, true))
      def hasSuccess(name: String): Boolean =
        outFs.exists(new org.apache.hadoop.fs.Path(s"$outDir/$name", "_SUCCESS"))
      val combineEligible: Seq[SinkSpec] =
        if (ordered || buckets > 0 || trunk1.columns.contains("_sink")) Nil
        else sinks.filter(sp =>
          sp.indexTemplate.isEmpty && sp.codec.isEmpty && sp.documentId.isEmpty &&
            sp.csvFields.isEmpty && sp.esAction.isEmpty && sp.lineFormat.isEmpty &&
            sp.decorator == Mutate.Decorator() &&
            sp.name.nonEmpty && sp.name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'))
      val combineSinks = combineEligible.filterNot(sp => hasSuccess(sp.name))
      val combineDefault = writeDefault && !ordered && buckets == 0 &&
        !trunk1.columns.contains("_sink") && !hasSuccess("_default")
      val combineTargets = combineSinks.map(_.name) ++
        (if (combineDefault) Seq("_default") else Nil)
      val combinedDone: Set[String] =
        if (combineTargets.size < 2) Set.empty
        else {
          val anyMatch = sinks.map(s => col(flagCol(s.name)))
            .reduceOption(_ || _).getOrElse(lit(false))
          val labels = combineSinks.map(sp => when(col(flagCol(sp.name)), lit(sp.name))) ++
            (if (combineDefault) Seq(when(!anyMatch, lit("_default"))) else Nil)
          val dropCols = flagged.columns
            .filter(c => c.startsWith("_m_") || c.startsWith(MetaPrefix))
          val combined = flagged
            .withColumn("_sink",
              explode(filter(array(labels.toIndexedSeq: _*), v => v.isNotNull)))
            .drop(dropCols.toIndexedSeq: _*)
          val staging = new org.apache.hadoop.fs.Path(
            outDir, s".sinkstage-${java.util.UUID.randomUUID().toString.take(8)}")
          try {
            combined.write.mode("overwrite").partitionBy("_sink").parquet(staging.toString)
            combineTargets.flatMap { name =>
              val src = new org.apache.hadoop.fs.Path(staging, s"_sink=$name")
              if (!outFs.exists(src)) None // zero rows: per-sink fallback keeps the empty layout
              else {
                val dst = new org.apache.hadoop.fs.Path(s"$outDir/$name")
                if (outFs.exists(dst)) outFs.delete(dst, true)
                require(outFs.rename(src, dst),
                  s"combined sink write: rename $src -> $dst failed")
                outFs.create(new org.apache.hadoop.fs.Path(dst, "_SUCCESS"), true).close()
                Some(name)
              }
            }.toSet
          } finally { outFs.delete(staging, true); () }
        }
      def writeIfNeeded(name: String, df: => DataFrame,
                        indexTemplate: Option[String] = None,
                        codec: Option[String] = None,
                        documentId: Option[String] = None,
                        csvFields: Seq[String] = Nil,
                        csvSep: String = ",",
                        esAction: Option[String] = None,
                        lineFormat: Option[String] = None): String = {
        val path = s"$outDir/$name"
        val success = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
        val fs = success.getFileSystem(hadoopConf)
        if (combinedDone(name)) () // written this run by the combined single-pass job
        else if (fs.exists(success)) { resumed += name }
        else {
          val d00 = df
          val dIdx = indexTemplate.fold(d00)(tpl =>
            d00.withColumn("_index", Mutate.sprintfFor(d00, tpl)))
          // document_id upsert semantics: one row per (index, id); see
          // SinkSpec scaladoc for the deterministic-winner contract
          val d = documentId.fold(dIdx) { tpl =>
            val keyed0 = dIdx.withColumn("_docid", Mutate.sprintfFor(dIdx, tpl))
            val keys = (if (indexTemplate.isDefined) Seq("_index") else Nil) :+ "_docid"
            esAction match {
              case None =>
                val payload = keyed0.columns.filterNot(keys.contains)
                keyed0.groupBy(keys.map(col).toIndexedSeq: _*)
                  .agg(min(struct(payload.map(col).toIndexedSeq: _*)).as("_row"))
                  .select((keys.map(col) ++
                    payload.map(c => col(s"_row.$c").as(c))).toIndexedSeq: _*)
              case Some(actTpl) =>
                // action variants (SinkSpec scaladoc): delete tombstones the
                // id; create keeps first, index/update keep last. One grouped
                // agg — map-side combined, exchange keyed on the id hash,
                // exactly like the documentId default.
                val keyed = keyed0.withColumn("_esact", Mutate.sprintfFor(keyed0, actTpl))
                val payload = keyed.columns.filterNot(c => keys.contains(c) || c == "_esact")
                val pay = struct(payload.map(col).toIndexedSeq: _*)
                val isCreate = col("_esact") === "create"
                val isDelete = col("_esact") === "delete"
                keyed.groupBy(keys.map(col).toIndexedSeq: _*)
                  .agg(
                    max(when(isDelete, 1).otherwise(0)).as("_del"),
                    min(when(isCreate, pay)).as("_cfirst"),
                    max(when(!isDelete && !isCreate, pay)).as("_ulast"))
                  .filter(col("_del") === 0)
                  .withColumn("_row",
                    when(col("_ulast").isNotNull, col("_ulast")).otherwise(col("_cfirst")))
                  .filter(col("_row").isNotNull) // an id of only-create-less rows can't occur; guard anyway
                  .select((keys.map(col) ++
                    payload.map(c => col(s"_row.$c").as(c))).toIndexedSeq: _*)
            }
          }
          val parts = (if (indexTemplate.isDefined) Seq("_index") else Nil) ++
            (if (buckets > 0 && d.columns.contains("doc_id")) Seq("_bucket") else Nil)
          val db = if (parts.contains("_bucket"))
            d.withColumn("_bucket", pmod(xxhash64(col("doc_id")), lit(buckets)))
          else d
          // cluster dynamic-partitioned sinks by their partition values
          // before the write (r6; guide 6: Iceberg hash distribution-mode
          // analogue): without it ONE writer task holds rows of EVERY
          // partition value — it sorts and writes all the dirs serially
          // (measured 0.8 s single-task writes in pipe_es_daily) and at
          // scale emits tasks x values small files. The exchange keys on
          // the rendered value, so each value lands in one task = one
          // right-sized file per dir; spark.sql.files.maxRecordsPerFile
          // re-splits a pathologically hot value's file at scale. The
          // partition count is pinned (defaultParallelism, scale-adaptive)
          // because a bare keyed repartition is an AQE-coalescible
          // exchange: byte-based coalescing folds a small sink back onto
          // one writer task, exactly the serial write this removes.
          def clustered(body: DataFrame): DataFrame =
            if (parts.isEmpty) body
            else body.repartition(
              body.sparkSession.sparkContext.defaultParallelism,
              parts.map(col): _*)
          if (codec.contains("line")) {
            // line output codec (logstash-codec-line): one sprintf'd line
            // per event (`format => "%{message} %{tags}"`); default renders
            // the message field. Partition layout rides beside the value.
            val tpl = lineFormat.getOrElse("%{message}")
            val body = db.select(
              coalesce(Mutate.sprintfFor(db, tpl).cast("string"), lit(""))
                .as("value") +: parts.map(col): _*)
            if (parts.nonEmpty)
              clustered(body).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(parts: _*).text(path)
            else body.write.mode("overwrite").text(path)
          } else if (codec.contains("csv")) {
            // csv output plugin: selected fields joined per line; partition
            // layout (index/bucket) rides beside the text value column
            val body = db.select(
              concat_ws(csvSep,
                csvFields.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
                .as("value") +: parts.map(col): _*)
            if (parts.nonEmpty)
              clustered(body).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(parts: _*).text(path)
            else body.write.mode("overwrite").text(path)
          } else if (codec.exists(c => c == "json_lines" || c == "json")) {
            // reference file-output default codec: one JSON doc per line.
            // A sprintf'd index/bucket layout still applies: partition
            // columns ride beside the single text value column, so
            // codec => json_lines + a dynamic index loses nothing.
            val payload = db.columns.filterNot(parts.contains)
            val body = db.select(
              to_json(struct(payload.map(col).toIndexedSeq: _*)).as("value") +:
                parts.map(col): _*)
            if (parts.nonEmpty)
              clustered(body).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(parts: _*).text(path)
            else body.write.mode("overwrite").text(path)
          } else if (parts.nonEmpty) {
            clustered(db).write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(parts: _*).parquet(path)
          } else db.write.mode("overwrite").parquet(path)
        }
        path
      }
      val paths = sinks.map { s =>
        s.name -> writeIfNeeded(s.name, sinkFrame(flagged, s), s.indexTemplate,
          s.codec, s.documentId, s.csvFields, s.csvSep, s.esAction, s.lineFormat)
      }.toMap ++
        (if (writeDefault) Map("_default" -> writeIfNeeded("_default", defaultFrame(flagged, sinks)))
         else Map.empty[String, String])
      // ONE per-partition aggregation produces BOTH epilogue surfaces
      // (r6, guide §2.4): the _lineage rows are its output, and the
      // per-sink counts are their exact integer column sums — the former
      // separate global-counts aggregate and the distributed _lineage
      // write collapse into this single collect (two full trunk passes
      // -> one; both tiny tables are then written driver-side). The
      // aggregation carries one extra unmatched-rows column for
      // `_default`; it is dropped before the _lineage rows are persisted,
      // so that table's schema is unchanged. Callers may ride extra
      // run-level counters along (runConfig records the SOURCE event
      // count as `_in` — the monitoring API's events.in).
      val anyMatchAll = sinks.map(s => col(flagCol(s.name)))
        .reduceOption(_ || _).getOrElse(lit(false))
      val lineAgg = flagged.groupBy(spark_partition_id().as("part"))
        .agg(count(lit(1)).as("rows"),
          (sinks.map(s => sum(col(flagCol(s.name)).cast("long")).as(s"n_${s.name}")) :+
            sum((!anyMatchAll).cast("long")).as("_n_default")): _*)
      val lineRows = lineAgg.collect()
      val lineSchema = org.apache.spark.sql.types.StructType(lineAgg.schema.dropRight(1))
      writeIfNeeded("_lineage", spark.createDataFrame(
        java.util.Arrays.asList(lineRows.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1))): _*), lineSchema))
      // same names, order and zero-on-empty semantics as sinkCounts():
      // per-partition sums of two-valued flags total to the global sums
      def colSum(i: Int): Long = lineRows.map(_.getLong(i)).sum
      val collected: Array[(String, Long)] =
        sinks.zipWithIndex.map { case (s, i) => s.name -> colSum(i + 2) }.toArray ++
          Array("_default" -> colSum(lineRows.headOption.map(_.length - 1).getOrElse(2)),
                "_total" -> lineRows.map(_.getLong(1)).sum)
      val withExtra = collected ++ extraCounts.toSeq.sortBy(_._1)
      spark.createDataFrame(withExtra.toIndexedSeq).toDF("sink", "n")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_counts")
      val counts = collected.toMap ++ extraCounts
      val manifest = writeManifest(spark, outDir, counts, paths, resumed.result())
      RunResult(counts, paths, resumed.result(), manifest)
    } finally flagged.unpersist()
  }

  /** The default network-sink payload: every non-internal column as one
    * JSON object per event (the tcp/http outputs' json_lines/json codec).
    * `@metadata` columns (`_meta_` prefix) are dropped like every sink.
    */
  def jsonPayload(df: DataFrame): Column =
    to_json(struct(df.columns
      .filterNot(c => c.startsWith("_meta_") || c.startsWith("__lscl_"))
      .map(col).toIndexedSeq: _*))

  /** tcp output (logstash-output-tcp client mode): each PARTITION opens one
    * connection to host:port and writes its events newline-framed — the
    * executor-side analogue of the reference's per-worker client socket.
    * Ordering across partitions is not part of the contract (the reference
    * runs N workers concurrently over one socket with the same property).
    * Connection failure fails the task (and the job after task retries) —
    * loud, like the reference's retry-then-fail.
    */
  def tcpSink(df: DataFrame, host: String, port: Int,
              payload: Option[Column] = None): Unit =
    df.select(payload.getOrElse(jsonPayload(df)).cast("string").as("line"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val sock = new java.net.Socket(host, port)
          try {
            val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
              sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
            it.foreach { r => out.write(r.getString(0)); out.write('\n') }
            out.flush()
          } finally sock.close()
        }
      }

  /** udp datagram sink (the statsd transport): one datagram per payload
    * row, executor-side, one socket per partition. Fire-and-forget like the
    * protocol itself — UDP has no delivery contract to fail loudly on.
    */
  def udpSink(df: DataFrame, host: String, port: Int,
              payload: Option[Column] = None): Unit =
    df.select(payload.getOrElse(jsonPayload(df)).cast("string").as("line"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val sock = new java.net.DatagramSocket()
          try {
            val addr = java.net.InetAddress.getByName(host)
            it.foreach { r =>
              val b = r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
              sock.send(new java.net.DatagramPacket(b, b.length, addr, port))
            }
          } finally sock.close()
        }
      }

  /** http output (logstash-output-http): POST payloads to `url`,
    * `batchSize` events per request as a JSON array (the reference's
    * `format => json_batch` — the only shape that survives scale; 1 = the
    * per-event `json` format). One HTTP connection per batch, per
    * partition, executor-side. Non-2xx fails the task — loud.
    */
  def httpSink(df: DataFrame, url: String, batchSize: Int = 50,
               payload: Option[Column] = None,
               ndjson: Boolean = false): Unit =
    df.select(payload.getOrElse(jsonPayload(df)).cast("string").as("line"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.map(_.getString(0)).grouped(math.max(1, batchSize)).foreach { batch =>
          val body = if (ndjson) batch.mkString("\n")
                     else if (batchSize == 1) batch.head
                     else batch.mkString("[", ",", "]")
          val conn = java.net.URI.create(url).toURL.openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setRequestProperty("Content-Type",
            if (ndjson) "application/x-ndjson" else "application/json")
          conn.setDoOutput(true)
          val os = conn.getOutputStream
          os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          os.close()
          val code = conn.getResponseCode
          conn.disconnect()
          require(code / 100 == 2, s"http output: POST $url returned $code")
        }
      }

  /** lumberjack output (logstash-output-lumberjack): ship events to a
    * lumberjack v2 receiver (a beats listener — [[graft.sources.BeatsSource]]
    * speaks the same public protocol, so the pair round-trips in-process).
    * Per PARTITION: one connection, windows of `windowSize` events as '2J'
    * json data frames (zlib-packed into one '2C' frame when `compress`),
    * then BLOCK until the receiver acks the window's last seq — ack implies
    * the receiver journaled every event, the protocol's at-least-once
    * contract. seq is cumulative per connection (real beats clients never
    * reset it). The reference plugin requires TLS; transport security is
    * deployment-external here, like the other socket sinks.
    */
  def lumberjackSink(df: DataFrame, host: String, port: Int,
                     windowSize: Int = 500, compress: Boolean = true,
                     payload: Option[Column] = None): Unit =
    df.select(payload.getOrElse(jsonPayload(df)).cast("string").as("line"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val sock = new java.net.Socket(host, port)
          try {
            val out = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(sock.getOutputStream))
            val in = new java.io.DataInputStream(sock.getInputStream)
            var seq = 0
            it.grouped(math.max(1, windowSize)).foreach { batch =>
              out.writeByte('2'); out.writeByte('W'); out.writeInt(batch.size)
              val frames = new java.io.ByteArrayOutputStream()
              val fd = new java.io.DataOutputStream(frames)
              batch.foreach { r =>
                seq += 1
                val p = r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
                fd.writeByte('2'); fd.writeByte('J')
                fd.writeInt(seq); fd.writeInt(p.length); fd.write(p)
              }
              if (compress) {
                val raw = frames.toByteArray
                val packed = new java.io.ByteArrayOutputStream()
                val dos = new java.util.zip.DeflaterOutputStream(packed)
                dos.write(raw); dos.close()
                val pb = packed.toByteArray
                out.writeByte('2'); out.writeByte('C'); out.writeInt(pb.length)
                out.write(pb)
              } else out.write(frames.toByteArray)
              out.flush()
              var acked = -1
              while (acked < seq) {
                val v = in.readByte(); val t = in.readByte()
                require(v == '2' && t == 'A',
                  s"lumberjack output: expected ack frame, got $v$t")
                acked = in.readInt()
              }
            }
          } finally sock.close()
        }
      }

  /** pipe output (logstash-output-pipe): stream rendered lines into the
    * stdin of `command`. The command may be sprintf'd per event (the
    * reference keeps one TTL'd pipe per rendered command string); here each
    * PARTITION keeps one process per distinct rendered command, executor-
    * side. stdout/stderr of the child are discarded (the reference inherits
    * them). A non-zero exit fails the task — loud, like a broken pipe in
    * the reference's retry-then-fail.
    */
  def pipeSink(df: DataFrame, cmd: Column, payload: Option[Column] = None): Unit =
    df.select(cmd.cast("string").as("cmd"),
        payload.getOrElse(jsonPayload(df)).cast("string").as("line"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val procs = scala.collection.mutable.LinkedHashMap
          .empty[String, (Process, java.io.BufferedWriter)]
        var ok = false
        try {
          it.foreach { r =>
            val c = r.getString(0)
            val (_, w) = procs.getOrElseUpdate(c, {
              val p = new ProcessBuilder("/bin/sh", "-c", c)
                .redirectOutput(ProcessBuilder.Redirect.DISCARD)
                .redirectError(ProcessBuilder.Redirect.DISCARD)
                .start()
              (p, new java.io.BufferedWriter(new java.io.OutputStreamWriter(
                p.getOutputStream, java.nio.charset.StandardCharsets.UTF_8)))
            })
            w.write(r.getString(1)); w.write('\n')
          }
          ok = true
        } finally {
          procs.values.foreach { case (_, w) =>
            try w.close() catch { case _: java.io.IOException => () }
          }
          if (ok) procs.foreach { case (c, (p, _)) =>
            val code = p.waitFor()
            require(code == 0, s"pipe output: `$c` exited $code")
          } else procs.values.foreach(_._1.destroyForcibly())
        }
      }

  /** exec output (logstash-output-exec): run the (sprintf'd per event)
    * `command` once PER EVENT, executor-side. The reference documents the
    * per-event fork cost and so does this scaladoc: this sink is for
    * low-volume alert/trigger streams, not the bulk path — at bulk volume
    * use [[pipeSink]] (one process per distinct command per partition,
    * lines streamed to stdin). A non-zero exit fails the task, loud.
    */
  def execSink(df: DataFrame, cmd: Column): Unit =
    df.select(cmd.cast("string").as("cmd"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val c = r.getString(0)
          val p = new ProcessBuilder("/bin/sh", "-c", c)
            .redirectOutput(ProcessBuilder.Redirect.DISCARD)
            .redirectError(ProcessBuilder.Redirect.DISCARD)
            .start()
          val code = p.waitFor()
          require(code == 0, s"exec output: `$c` exited $code")
        }
      }

  /** gelf output (logstash-output-gelf): one GELF-via-UDP datagram per
    * event. `frame` is an encoded GELF body ([[Gelf.encode]] — zlib'd 1.1
    * JSON); bodies larger than `chunkThreshold` split into spec chunks
    * (magic 1e 0f, 8-byte message id, seq/count — ≤128) with a
    * deterministic-per-(content, partition, ordinal) message id, so the
    * receiver's id-keyed reassembly never collides within a batch. One
    * socket per partition, fire-and-forget like every UDP transport.
    */
  def gelfSink(df: DataFrame, host: String, port: Int, frame: Column,
               chunkThreshold: Int = 8192): Unit =
    df.select(frame.cast("binary").as("f"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val sock = new java.net.DatagramSocket()
          val addr = java.net.InetAddress.getByName(host)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var ordinal = 0L
          def send(b: Array[Byte]): Unit =
            sock.send(new java.net.DatagramPacket(b, b.length, addr, port))
          try it.foreach { r =>
            val b = r.getAs[Array[Byte]](0)
            if (b != null) {
              if (b.length <= chunkThreshold) send(b)
              else {
                val n = math.min(128, (b.length + chunkThreshold - 1) / chunkThreshold)
                require(n.toLong * chunkThreshold >= b.length,
                  s"gelf output: body of ${b.length} B exceeds 128 chunks of $chunkThreshold B")
                val seed = (scala.util.hashing.MurmurHash3.bytesHash(b).toLong << 32) ^
                  (pid.toLong << 20) ^ ordinal
                Gelf.chunk(b, n, seed).foreach(send)
              }
              ordinal += 1
            }
          } finally sock.close()
        }
      }

  /** zabbix output (logstash-output-zabbix): ship (host, key, value) item
    * triples to a Zabbix trapper with the PUBLIC sender protocol — "ZBXD"
    * 0x01 header, 8-byte little-endian length, then
    * `{"request":"sender data","data":[{host,key,value}...]}`; the server
    * answers one envelope per request and closes. `item` is a pre-rendered
    * per-event JSON object (`to_json(struct(host,key,value))` — the typed
    * render stays codegen'd; the executor only frames bytes). One
    * connection per `batchSize` window per partition, matching the
    * trapper's one-request-per-connection contract; a non-`success`
    * response fails the task. Item-level rejects surface in the trapper's
    * `info` counts — the reference logs and drops those, so they are NOT
    * task failures here either.
    */
  def zabbixSink(df: DataFrame, host: String, port: Int, item: Column,
                 batchSize: Int = 250): Unit =
    df.select(item.cast("string").as("item"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.grouped(math.max(1, batchSize)).foreach { batch =>
          val body = batch.map(_.getString(0))
            .mkString("{\"request\":\"sender data\",\"data\":[", ",", "]}")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val sock = new java.net.Socket(host, port)
          try {
            val out = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(sock.getOutputStream))
            out.write('Z'); out.write('B'); out.write('X'); out.write('D')
            out.write(0x01)
            val len = java.nio.ByteBuffer.allocate(8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(body.length.toLong)
            out.write(len.array()); out.write(body); out.flush()
            val in = new java.io.DataInputStream(sock.getInputStream)
            val hdr = new Array[Byte](13)
            in.readFully(hdr)
            require(hdr(0) == 'Z' && hdr(1) == 'B' && hdr(2) == 'X' && hdr(3) == 'D',
              "zabbix output: malformed response header")
            val rlen = java.nio.ByteBuffer.wrap(hdr, 5, 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toInt
            val resp = new Array[Byte](rlen)
            in.readFully(resp)
            val rs = new String(resp, java.nio.charset.StandardCharsets.UTF_8)
            require(rs.contains("\"response\":\"success\""),
              s"zabbix output: trapper rejected the request: $rs")
          } finally sock.close()
        }
      }
}
