package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.conditions.Cond

/** Conditional fan-out routing to N sink tables — Logstash's output-section
  * if/else-gated outputs (SURVEY.md §2.6/§3), Spark-first.
  *
  * Physical plan stance (the one real physical decision, SURVEY.md §4):
  * like Logstash's compiled output DAG, a batch goes through the routing
  * once. [[run]] writes every parquet sink and the default branch in ONE
  * write job over the unpersisted trunk ([[fanOut]]), and the per-sink
  * counts and per-partition `_lineage` rows are counted in that same job
  * ([[Tally]]) — never one `count()` job per sink, never a cached trunk
  * re-read per sink. Only surfaces that change the row set or the file
  * format (index, codec, document id/action, csv, line format, ordered
  * mode, buckets) take a write of their own, over a trunk persisted for
  * the call.
  *
  * Logstash outputs are independently gated (an event can match several
  * sinks); `default` catches rows matching none — both supported.
  */
object Route {

  /** One routed output.
    *
    * `indexTemplate`: the elasticsearch output's per-event sprintf'd index
    * name (e.g. `logs-%{+YYYY.MM.dd}` daily indices). When set, the sink is
    * written `partitionBy(_index)` with the evaluated template — each index
    * value becomes one partition directory of the sink, the lake analogue
    * of per-day indices, and stays partition-prunable by date.
    *
    * `codec`: sink serialization — None = parquet (the lake-native default);
    * `json_lines` = one JSON document per line in text files (the reference
    * file output's DEFAULT codec), encoded executor-side via toJSON.
    *
    * `documentId`: the elasticsearch output's `document_id => "%{...}"` —
    * indexing twice under one id upserts, making replays and duplicate
    * events idempotent. Batch analogue: the sink keeps ONE row per rendered
    * id (per index when the index is also templated, matching ES identity =
    * (_index, _id)); the winner is the struct-minimum over the payload
    * columns — deterministic, and identical to any other pick in the
    * intended regime where same id = same document. Implemented as a
    * groupBy(min(struct)) so the exchange gets map-side combine and keys on
    * the id hash — the exact analogue of ES routing documents to shards by
    * _id hash.
    *
    * `csvFields`/`csvSep`: the csv output plugin (logstash-output-csv) —
    * codec "csv" writes the selected event fields joined by the separator,
    * one line per event (no quoting: the token world's values are
    * separator-free; a quoting writer would slot in here).
    *
    * `esAction`: the elasticsearch output's `action` — a sprintf template
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
    *
    * `lineFormat`: the line codec's sprintf'd `format` (default `%{message}`).
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
  def sinkFrame(flagged: DataFrame, spec: SinkSpec): DataFrame =
    payload(spec.decorator(flagged.filter(col(flagCol(spec.name)))))

  /** `df` without the match flags and `@metadata` columns: what a sink stores. */
  private def payload(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(c => c.startsWith("_m_") || c.startsWith(MetaPrefix)).toIndexedSeq: _*)

  /** Rows matching no sink (the implicit else branch). With zero sinks
    * (e.g. a config whose only outputs are network sinks) every row is
    * unmatched.
    */
  def defaultFrame(flagged: DataFrame, sinks: Seq[SinkSpec]): DataFrame = {
    val none = sinks.map(s => !col(flagCol(s.name)))
      .reduceOption(_ && _).getOrElse(lit(true))
    payload(flagged.filter(none))
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

  /** The fields of `s` that ask for a layout other than plain parquet:
    * index, codec, document id, csv, action or line format.
    */
  private def layouts(s: SinkSpec): Seq[String] =
    Seq("indexTemplate" -> s.indexTemplate.nonEmpty,
      "codec" -> s.codec.nonEmpty, "documentId" -> s.documentId.nonEmpty,
      "csvFields" -> s.csvFields.nonEmpty, "esAction" -> s.esAction.nonEmpty,
      "lineFormat" -> s.lineFormat.nonEmpty).collect { case (field, true) => field }

  /** Writers that store [[sinkFrame]] as plain parquet (the streaming
    * fan-out, snapshot-table sinks) have no index, codec, document-id,
    * csv, action or line-format layout: a sink asking for one fails here,
    * before anything is written, instead of silently landing as parquet.
    */
  private[graft] def requirePlainSinks(sinks: Seq[SinkSpec], writer: String): Unit =
    sinks.foreach { s =>
      val dropped = layouts(s)
      require(dropped.isEmpty,
        s"sink '${s.name}' sets ${dropped.mkString(", ")}, but $writer writes plain " +
          "parquet and would drop it — write that sink with Route.run instead")
    }

  /** One output of [[fanOut]]: the flagged rows `matched` selects, through
    * `decorator`.
    */
  private[graft] final case class FanTarget(matched: Column,
                                            decorator: Mutate.Decorator = Mutate.Decorator())

  /** `targets` over `flagged`, analysed once for [[fanOut]]. `schemas` holds
    * each target's payload schema (what it stores, as [[sinkFrame]] builds
    * it), so a caller can check them before anything is written. `groups`
    * holds the target ordinals of each write pass: the targets whose
    * payload schemas agree up to nullability (every file column is written
    * nullable). A decorator that adds a column so gets a pass of its own;
    * so does one with a nested `add_field`, which rebuilds its parent
    * struct on every row it runs over.
    */
  private[graft] final class FanPlan(val flagged: DataFrame, val targets: Seq[FanTarget]) {
    val schemas: Seq[org.apache.spark.sql.types.StructType] =
      targets.map(t => payload(t.decorator(flagged)).schema)
    // catalogString spells the names and types, not the nullability
    private val keys = targets.indices.map(i => schemas(i).catalogString ->
      (if (targets(i).decorator.addField.exists(_._1.startsWith("["))) i else -1))
    val groups: Seq[Seq[Int]] = keys.distinct.map(k => targets.indices.filter(keys(_) == k))
  }

  /** What [[fanOut]] staged for one target: its dir (a schema-only dir when
    * it got no rows), its row count, and column -> (min, max) for each of
    * its `bounds` columns (nulls when it holds no non-null value).
    */
  private[graft] final case class Fanned(dir: org.apache.hadoop.fs.Path, rows: Long,
                                         bounds: Map[String, (Any, Any)])

  /** The one fan-out writer (Logstash's compiled output DAG: each batch goes
    * through once, and every output leaf takes its own subset). Each row
    * explodes into the ordinals of the targets it matches, and one
    * `partitionBy(ordinal)` write stages every target of a group (see
    * [[FanPlan]]) in ONE pass, so no name needs partition-path escaping.
    * Each target's decorator runs in that pass on the rows of its own
    * ordinal only (`applyWhen`), which leave every other row as it is. With
    * one group nothing is persisted. With more, `flagged` is persisted for
    * the call, so the trunk is computed once and every target reads the
    * same rows: a nondeterministic column (LSCL's `uuid`, a random UDF)
    * then agrees across targets. A `flagged` the caller persisted is used
    * as it is, and left persisted. Row counts and the min/max of each
    * target's `bounds(i)` columns ride the write job (observed metrics).
    * `tally` counts the trunk in the first pass, above any persisted frame,
    * so a later pass that recomputes an evicted cache counts nothing twice;
    * with no target it counts in one `noop` write. Every plan is built
    * before the first write, so an analysis error writes nothing.
    *
    * `publish` gets each target's staged dir, in target order, and must
    * move it out; `staging` is deleted afterwards, whether it succeeds or
    * fails.
    */
  private[graft] def fanOut[T](plan: FanPlan, staging: org.apache.hadoop.fs.Path,
                               bounds: Int => Seq[String] = _ => Nil,
                               tally: Option[Tally] = None)
                              (publish: Seq[Fanned] => T): T = {
    val flagged = plan.flagged
    val targets = plan.targets
    val spark = flagged.sparkSession
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val taken = flagged.columns.toSet ++ plan.schemas.flatMap(_.fieldNames)
    val label = Iterator.iterate("_t")(_ + "_").find(n => !taken(n)).get
    val cache = plan.groups.size > 1 && flagged.storageLevel == StorageLevel.NONE
    if (cache) flagged.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val counted = tally.fold(flagged)(_.on(flagged))
      val passes = plan.groups.zipWithIndex.map { case (ords, g) =>
        val exploded = (if (g == 0) counted else flagged).withColumn(label, explode(filter(
          array(ords.map(i => when(targets(i).matched, lit(i))): _*), _.isNotNull)))
        val rows = payload(ords.foldLeft(exploded)((d, i) =>
          targets(i).decorator.applyWhen(d, col(label) === i)))
        def of(i: Int, c: Column) = when(col(label) === i, c)
        val aggs = ords.flatMap(i => count(of(i, lit(1))).as(s"n$i") +:
          bounds(i).zipWithIndex.flatMap { case (c, j) =>
            Seq(min(of(i, col(c))).as(s"lo${i}_$j"), max(of(i, col(c))).as(s"hi${i}_$j")) })
        val obs = org.apache.spark.sql.Observation()
        (new org.apache.hadoop.fs.Path(staging, s"g$g"), ords, obs,
          rows.observe(obs, aggs.head, aggs.tail: _*))
      }
      if (passes.isEmpty && tally.nonEmpty) counted.write.format("noop").mode("overwrite").save()
      val staged = passes.flatMap { case (dir, ords, obs, rows) =>
        rows.write.mode("overwrite").partitionBy(label).parquet(dir.toString)
        val m = obs.get
        ords.map { i =>
          val d = new org.apache.hadoop.fs.Path(dir, s"$label=$i")
          // a target with no rows gets no partition dir: stage its schema
          if (!fs.exists(d)) writeTable(spark, new org.apache.hadoop.fs.Path(d, "part-00000.parquet"),
            org.apache.spark.sql.types.StructType(rows.schema.filter(_.name != label)))
          i -> Fanned(d, m(s"n$i").asInstanceOf[Long], bounds(i).zipWithIndex.map {
            case (c, j) => c -> (m(s"lo${i}_$j"), m(s"hi${i}_$j")) }.toMap)
        }
      }.sortBy(_._1).map(_._2)
      publish(staged)
    } finally {
      fs.delete(staging, true)
      if (cache) flagged.unpersist(blocking = false)
      ()
    }
  }

  /** The row counts of a flagged trunk, per partition, taken by [[fanOut]]
    * in the pass it writes (Logstash's per-output `events.out` counters,
    * gathered at job end): for each partition id that holds rows, its rows,
    * its rows per column of `flags` (in that order) and its rows matching
    * none of them. An accumulator fed by a filter that passes every row, so
    * the counts cost no job of their own. Read them once the pass is done.
    */
  private[graft] final class Tally(flags: Seq[String])
      extends org.apache.spark.util.AccumulatorV2[(Int, Seq[Boolean]), Map[Int, Array[Long]]] {
    private val parts = scala.collection.mutable.Map.empty[Int, Array[Long]]
    private def of(part: Int) = parts.getOrElseUpdate(part, new Array[Long](flags.size + 2))

    /** `df`, counted as it passes. */
    private[Route] def on(df: DataFrame): DataFrame = {
      if (!isRegistered) df.sparkSession.sparkContext.register(this)
      val tally = this
      val seen = udf { (part: Int, hits: Seq[Boolean]) => tally.add(part -> hits); true }
      df.filter(seen.asNondeterministic()(spark_partition_id(),
        array(flags.map(col): _*).cast("array<boolean>")))
    }

    /** (partition id, counts) in partition order. */
    def partitions: Seq[(Int, Array[Long])] = parts.toSeq.sortBy(_._1)

    /** The counts summed over every partition. */
    def totals: Array[Long] = Array.tabulate(flags.size + 2)(i => parts.values.map(_(i)).sum)

    def add(v: (Int, Seq[Boolean])): Unit = {
      val n = of(v._1)
      n(0) += 1
      var i = 0
      v._2.foreach { hit => i += 1; if (hit) n(i) += 1 }
      if (!v._2.contains(true)) n(flags.size + 1) += 1
    }
    def merge(other: org.apache.spark.util.AccumulatorV2[(Int, Seq[Boolean]), Map[Int, Array[Long]]]): Unit =
      other.value.foreach { case (part, m) => val n = of(part); m.indices.foreach(i => n(i) += m(i)) }
    def isZero: Boolean = parts.isEmpty
    def reset(): Unit = parts.clear()
    def copy(): Tally = { val c = new Tally(flags); c.merge(this); c }
    def value: Map[Int, Array[Long]] = parts.toMap
  }

  /** A parquet file at `file` holding `schema` and `rows`, written on the
    * driver without a Spark job, by the writer a Spark write task uses (the
    * session's codec, type mapping and footer). With no rows it is the file
    * Spark writes for an empty frame: the schema in the footer, no row group.
    * For tiny tables only: every row passes through the driver.
    */
  private[graft] def writeTable(spark: SparkSession, file: org.apache.hadoop.fs.Path,
                                schema: org.apache.spark.sql.types.StructType,
                                rows: Seq[org.apache.spark.sql.Row] = Nil): Unit = {
    val (factory, conf) = parquetWriterFactory(spark, schema)
    val writer = openParquet(factory, conf, file.toString, schema)
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    finally writer.close()
  }

  /** The session's parquet writer for `schema` (codec, type mapping, footer
    * and `spark.hadoop.*` settings), set up on the driver. Both halves are
    * serializable: ship them to executors and open files there with
    * [[openParquet]].
    */
  private[graft] def parquetWriterFactory(spark: SparkSession, schema: org.apache.spark.sql.types.StructType)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.util.SerializableConfiguration) = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val conf = spark.sessionState.conf
    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(conf, job, schema, new ParquetOptions(Map.empty[String, String], conf))
    (factory, new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
  }

  /** A parquet file at `file` opened by a [[parquetWriterFactory]] writer. */
  private[graft] def openParquet(factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                                 conf: org.apache.spark.util.SerializableConfiguration, file: String,
                                 schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriter =
    factory.newInstance(file, schema, new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf.value, new org.apache.hadoop.mapreduce.TaskAttemptID()))

  /** The table dir `dir`, replaced by one [[writeTable]] file and the
    * `_SUCCESS` marker a Spark write leaves.
    */
  private def replaceTable(spark: SparkSession, dir: String,
                           schema: org.apache.spark.sql.types.StructType,
                           rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(d, true)
    writeTable(spark, new org.apache.hadoop.fs.Path(d, "part-00000.parquet"), schema, rows)
    fs.create(new org.apache.hadoop.fs.Path(d, "_SUCCESS"), true).close()
  }

  /** A fresh staging dir name under `outDir` for one [[fanOut]] call. */
  private[graft] def newStaging(outDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(outDir, s".sinkstage-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Deletes every staging dir under `outDir`: what a writer killed before
    * its `fanOut` cleanup left behind. One writer per `outDir` is the
    * contract, so no live staging is touched.
    */
  private[graft] def reapStaging(spark: SparkSession, outDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir))
      fs.listStatus(dir).filter(_.getPath.getName.startsWith(".sinkstage-"))
        .foreach(st => fs.delete(st.getPath, true))
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
    val rows = Seq(
      "events_in" -> total.toDouble,
      "duration_sec" -> durSec,
      "input_throughput_eps" -> (if (durSec > 0) total / durSec else 0.0)) ++
      r.counts.toSeq.sortBy(_._1).map { case (k, v) => s"events_out_$k" -> v.toDouble }
    replaceTable(spark, s"$outDir/_metrics",
      org.apache.spark.sql.types.StructType.fromDDL("metric STRING, value DOUBLE NOT NULL"),
      rows.map { case (k, v) => org.apache.spark.sql.Row(k, v) })
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
    val metrics: Seq[(String, Double)] = readIfPresent(spark, s"$outDir/_metrics")(
      _.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq.sortBy(_._1)).getOrElse(Nil)
    val lineageParts = readIfPresent(spark, s"$outDir/_lineage")(_.count()).getOrElse(0L)
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

  /** `f` over the parquet table at `path`; None when no such path exists.
    * Any other failure (a corrupt or unreadable table) fails naming the path:
    * a broken table must not read as an absent one.
    */
  private def readIfPresent[T](spark: SparkSession, path: String)(f: DataFrame => T): Option[T] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else try Some(f(spark.read.parquet(path))) catch {
      case e: Exception => throw new IllegalStateException(s"cannot read $path: ${e.getMessage}", e)
    }
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

  /** Execute the fan-out: write every sink and the default branch to
    * `outDir/<name>`, then the per-partition `_lineage` rows, `_counts` and
    * a manifest. Every parquet sink and the default branch, decorated or
    * not, are written by ONE [[fanOut]] job over the trunk, which is not
    * persisted, and every count and `_lineage` row is taken in that same
    * job ([[Tally]]), resumed sinks included. Only a sink whose surface
    * changes the row set or the file format (index, codec, document
    * id/action, csv, line format) and every sink of an `ordered` or
    * bucketed run take a write of their own, over a trunk persisted for the
    * call. Idempotent/resumable: a sink directory with a `_SUCCESS` marker
    * is skipped on re-run (its rows are still counted, so resumed runs
    * report exact totals; a run with nothing to write counts in one `noop`
    * pass).
    *
    * `ordered = true` reproduces the reference's `pipeline.ordered` mode
    * (CompiledPipeline.java:317-352): sink files are range-partitioned and
    * sorted by doc_id, so output order is deterministic — at the cost of one
    * extra range shuffle, exactly like the reference pays single-worker
    * serialization. Default is unordered (like the reference default).
    *
    * `buckets > 0` adds partition-level idempotent overwrite: every sink is
    * written `partitionBy(_bucket)` (deterministic hash of doc_id) with
    * dynamic partition overwrite, so a retried run after a partial failure
    * rewrites exactly the bucket directories it produces — never appends
    * duplicates — while untouched buckets of other sinks survive. This is
    * the per-partition idempotence the reference gets from PQ acked-batch
    * checkpoints (ackedqueue/Queue.java:200-335), on top of the sink-level
    * `_SUCCESS` skip. An empty sink still reads back with its payload schema.
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
    sinks.foreach(sp => require(sp.name.nonEmpty, "a sink name is empty: its dir would be outDir itself"))
    val trunk1 =
      if (ordered) trunk.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
      else trunk
    val outFs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed earlier write's staging goes, whatever this run writes (a
    // fully resumed rerun stages nothing)
    reapStaging(spark, outDir)
    def hasSuccess(name: String): Boolean =
      outFs.exists(new org.apache.hadoop.fs.Path(s"$outDir/$name", "_SUCCESS"))
    // the default branch is a sink with no surface, over the rows no sink took
    val outputs = sinks ++ (if (writeDefault) Seq(SinkSpec("_default", graft.conditions.True)) else Nil)
    val (done, pending) = outputs.partition(s => hasSuccess(s.name))
    val resumed = done.map(_.name) ++ (if (hasSuccess("_lineage")) Seq("_lineage") else Nil)
    // ordered runs (the dynamic-partition writer's internal sort on the
    // partition key need not be stable, and ordered mode's contract is
    // within-file order) and bucketed runs (two-level layout) keep the
    // per-sink writer
    val (fanned, own) = pending.partition(s => !ordered && buckets == 0 && layouts(s).isEmpty)
    val flagged0 = withSinkFlags(trunk1, sinks)
    val flagged = if (own.nonEmpty) flagged0.persist(StorageLevel.MEMORY_AND_DISK) else flagged0
    try {
      val tally = new Tally(sinks.map(s => flagCol(s.name)))
      val unmatched = !sinks.map(s => col(flagCol(s.name))).reduceOption(_ || _).getOrElse(lit(false))
      val targets = fanned.map(s =>
        if (s.name == "_default") FanTarget(unmatched) else FanTarget(col(flagCol(s.name)), s.decorator))
      // each staged dir is renamed to the sink's contract path and given its
      // _SUCCESS marker, so the read-back layout and resume are the per-sink
      // writer's
      fanOut(new FanPlan(flagged, targets), newStaging(outDir), tally = Some(tally)) { staged =>
        fanned.zip(staged).foreach { case (s, f) =>
          val dst = new org.apache.hadoop.fs.Path(s"$outDir/${s.name}")
          if (outFs.exists(dst)) outFs.delete(dst, true)
          outFs.mkdirs(dst.getParent)
          require(outFs.rename(f.dir, dst), s"combined sink write: rename ${f.dir} -> $dst failed")
          outFs.create(new org.apache.hadoop.fs.Path(dst, "_SUCCESS"), true).close()
        }
      }
      own.foreach(s => writeSink(s"$outDir/${s.name}",
        if (s.name == "_default") defaultFrame(flagged, sinks) else sinkFrame(flagged, s), s, buckets))
      // _lineage keeps the schema of the per-partition aggregate it came
      // from: part and rows NOT NULL, the per-sink sums nullable
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      if (!resumed.contains("_lineage")) replaceTable(spark, s"$outDir/_lineage",
        StructType(StructField("part", IntegerType, nullable = false) +:
          StructField("rows", LongType, nullable = false) +:
          sinks.map(s => StructField(s"n_${s.name}", LongType))),
        tally.partitions.map { case (part, n) => org.apache.spark.sql.Row.fromSeq(part +: n.init.toSeq) })
      val n = tally.totals
      val collected = sinks.map(_.name).zip(n.slice(1, sinks.size + 1)) ++
        Seq("_default" -> n.last, "_total" -> n.head)
      replaceTable(spark, s"$outDir/_counts",
        StructType.fromDDL("sink STRING, n BIGINT NOT NULL"),
        (collected ++ extraCounts.toSeq.sortBy(_._1)).map { case (k, v) => org.apache.spark.sql.Row(k, v) })
      val counts = collected.toMap ++ extraCounts
      val paths = outputs.map(s => s.name -> s"$outDir/${s.name}").toMap
      RunResult(counts, paths, resumed, writeManifest(spark, outDir, counts, paths, resumed))
    } finally if (own.nonEmpty) { flagged.unpersist(); () }
  }

  /** The per-sink writer: `df`, the rows of sink `s`, written to `path`
    * with the index, codec, document id/action, csv or line layout `s`
    * asks for, and `_bucket` partitions when `buckets > 0`.
    */
  private def writeSink(path: String, df: DataFrame, s: SinkSpec, buckets: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val dIdx = s.indexTemplate.fold(df)(tpl => df.withColumn("_index", Mutate.sprintfFor(df, tpl)))
    // document_id upsert semantics: one row per (index, id); see
    // SinkSpec scaladoc for the deterministic-winner contract
    val d = s.documentId.fold(dIdx) { tpl =>
      val keyed0 = dIdx.withColumn("_docid", Mutate.sprintfFor(dIdx, tpl))
      val keys = (if (s.indexTemplate.isDefined) Seq("_index") else Nil) :+ "_docid"
      s.esAction match {
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
    val parts = (if (s.indexTemplate.isDefined) Seq("_index") else Nil) ++
      (if (buckets > 0 && d.columns.contains("doc_id")) Seq("_bucket") else Nil)
    val db = if (parts.contains("_bucket"))
      d.withColumn("_bucket", pmod(xxhash64(col("doc_id")), lit(buckets)))
    else d
    // a text codec writes one `value` line per event; a sprintf'd index or
    // bucket layout rides beside it, so codec + a dynamic index loses nothing
    val line: Option[Column] =
      if (s.codec.contains("line")) // logstash-codec-line: `format`, default %{message}
        Some(coalesce(Mutate.sprintfFor(db, s.lineFormat.getOrElse("%{message}")).cast("string"), lit("")))
      else if (s.codec.contains("csv")) // logstash-output-csv: the selected fields joined
        Some(concat_ws(s.csvSep, s.csvFields.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
      else if (s.codec.exists(c => c == "json_lines" || c == "json")) // the file output's default
        Some(to_json(struct(db.columns.filterNot(parts.contains).map(col).toIndexedSeq: _*)))
      else None
    val body = line.fold(db)(v => db.select(v.as("value") +: parts.map(col): _*))
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
    val writer =
      if (parts.isEmpty) body.write.mode("overwrite")
      else body.repartition(body.sparkSession.sparkContext.defaultParallelism, parts.map(col): _*)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(parts: _*)
    if (line.nonEmpty) writer.text(path) else writer.parquet(path)
    // a dynamic-partition parquet write of zero rows leaves no file at
    // all: write the payload schema, as an unpartitioned write does
    val dir = new org.apache.hadoop.fs.Path(path)
    if (line.isEmpty && parts.nonEmpty && (!fs.exists(dir) || fs.listStatus(dir).isEmpty))
      db.drop(parts: _*).limit(0).write.mode("overwrite").parquet(path)
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
