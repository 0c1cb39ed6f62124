package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.conditions._
import graft.model.Tok
import graft.operators.{Enrich, Mutate, Parse, Route}

/** Public API: a Logstash-capability pipeline as composed Spark stages.
  *
  * {{{
  * LogPipeline.read(seqs)                       // (doc_id, tokens, n_tok, source)
  *   .parse()                                   // dissect-over-tokens + severity
  *   .enrich(dictDf, on = "source")             // translate: broadcast left join
  *   .route(Route.SinkSpec("errors", cond), …)  // conditional fan-out
  *   .run(spark, outDir)                        // one write job: sinks, counts, lineage
  * }}}
  */
final case class LogPipeline(
    input: DataFrame,
    stages: Vector[DataFrame => DataFrame] = Vector.empty,
    sinks: Vector[Route.SinkSpec] = Vector.empty) {

  def stage(f: DataFrame => DataFrame): LogPipeline = copy(stages = stages :+ f)

  /** dissect-over-tokens + severity decode (parse stage). */
  def parse(): LogPipeline = stage { df =>
    Parse.dissectTokens(df).withColumn("severity", Parse.severity(col("tokens")))
  }

  def grok(source: String, pattern: String): LogPipeline =
    stage(Parse.grok(_, source, pattern))

  def enrich(dict: DataFrame, on: String, fallback: Map[String, String] = Map.empty): LogPipeline =
    stage(Enrich.lookup(_, dict, on, fallback))

  def mutate(f: DataFrame => DataFrame): LogPipeline = stage(f)

  def filter(c: Cond): LogPipeline = stage(_.filter(Cond.predicate(c)))

  def route(specs: Route.SinkSpec*): LogPipeline = copy(sinks = sinks ++ specs)

  /** The fully-transformed (pre-routing) frame. */
  def trunk: DataFrame = stages.foldLeft(input)((df, f) => f(df))

  /** Trunk + per-sink boolean match flags (single projection). */
  def flagged: DataFrame = Route.withSinkFlags(trunk, sinks)

  def sinkFrame(name: String): DataFrame =
    Route.sinkFrame(flagged, sinks.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"no sink $name")))

  def counts: DataFrame = Route.sinkCounts(flagged, sinks)

  def run(spark: SparkSession, outDir: String): Route.RunResult =
    Route.run(spark, trunk, sinks, outDir)
}

object LogPipeline {
  def read(input: DataFrame): LogPipeline = LogPipeline(input)

  /** Production session defaults for the 100 TB plan shape (SCALE.md): AQE
    * with skew-join splitting and partition coalescing, shuffle parallelism
    * sized by the caller (≈2-3x total cores; AQE coalesces down), 128 MB
    * input splits, dynamic partition overwrite so bucketed sink retries are
    * idempotent (Route.run(buckets > 0)).
    */
  def session(appName: String, master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder().appName(appName).master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
}

/** The flagship fixture pipeline (FIXTURES.md F1–F4): documents -> tokenize ->
  * dissect/severity -> translate-enrich -> 3 conditional sinks + default.
  * Mirrors the reference's env_variables_condition_spec.yml golden pipeline
  * shape; every condition-operator class from SURVEY.md §2.6 is exercised.
  * Both the Spark plan and the DuckDB oracle SQL are generated from the same
  * constants here, so they cannot drift.
  */
object StandardPipeline {

  /** F2 dictionary: src0..src14 present (src15..19 miss -> null team/tier). */
  val dict: Seq[(String, String, String)] =
    (0 until 15).map(k => (s"src$k", s"team-${k % 5}", if (k % 2 == 0) "prod" else "staging"))

  def dictDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    dict.toDF("source", "team", "tier")
  }

  val sinkErrors   = Route.SinkSpec("sink_errors", Eq("severity", "ERROR") && Eq("tier", "prod"),
    Mutate.Decorator(addTag = Seq("routed_error")))
  val sinkWarnBig  = Route.SinkSpec("sink_warn_big", Eq("severity", "WARN") && Gt("n_tok", 64))
  val sinkTeamA    = Route.SinkSpec("sink_teamA", InList("team", Seq("team-0", "team-1")))
  val sinks: Seq[Route.SinkSpec] = Seq(sinkErrors, sinkWarnBig, sinkTeamA)

  /** Build the pipeline over a documents frame. */
  def over(spark: SparkSession, documents: DataFrame): LogPipeline =
    LogPipeline.read(Tok.rawSequences(documents))
      .parse()
      .enrich(dictDf(spark), on = "source")
      .route(sinks: _*)

  def fromDir(spark: SparkSession, dir: String): LogPipeline =
    over(spark, spark.read.parquet(s"$dir/documents.parquet"))

  // ---------------- DuckDB oracle SQL (same constants) ----------------

  /** CTE `trunk`: raw_sequences + parse + enrich, exactly mirroring the Spark
    * stages. tokens[1] is 1-based in DuckDB like element_at in Spark.
    */
  def sqlTrunk: String = {
    val dictValues = dict.map { case (s, tm, tr) => s"('$s','$tm','$tr')" }.mkString(", ")
    s"""${Tok.sqlRawSequences},
       |parsed AS (
       |  SELECT *,
       |         tokens[1] AS hdr_tok,
       |         tokens[2] AS sev_tok,
       |         coalesce(list_position(tokens, ${Tok.DelimId}), 0) AS delim_pos,
       |         CASE WHEN coalesce(list_position(tokens, ${Tok.DelimId}),0) > 0
       |              THEN n_tok - list_position(tokens, ${Tok.DelimId}) ELSE 0 END AS payload_len,
       |         CASE tokens[1] % 3 WHEN 0 THEN 'INFO' WHEN 1 THEN 'WARN' ELSE 'ERROR' END AS severity
       |  FROM raw
       |),
       |dict(source, team, tier) AS (VALUES $dictValues),
       |trunk AS (
       |  SELECT p.*, d.team, d.tier
       |  FROM parsed p LEFT JOIN dict d USING (source)
       |)""".stripMargin
  }

  /** Per-sink match predicates in DuckDB SQL with the same two-valued
    * semantics (coalesce(cond,false)).
    */
  val sqlSinkPreds: Seq[(String, String)] = Seq(
    "sink_errors"   -> "coalesce(severity = 'ERROR' AND tier = 'prod', FALSE)",
    "sink_warn_big" -> "coalesce(severity = 'WARN' AND n_tok > 64, FALSE)",
    "sink_teamA"    -> "coalesce(team IN ('team-0','team-1'), FALSE)")
}
