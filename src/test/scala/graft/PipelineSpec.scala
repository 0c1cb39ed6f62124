package graft

import org.apache.spark.sql.functions._
import graft.conditions._
import graft.model.Tok
import graft.operators.{Mutate, Parse, Route}

/** Golden end-to-end pipeline tests over the deterministic fixture
  * (mirrors the reference's qa/integration env_variables_condition_spec
  * golden-output strategy, re-expressed over the token table).
  */
class PipelineSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val pipe = StandardPipeline.fromDir(spark, sfDir)
  private lazy val flagged = pipe.flagged.cache()

  // the session is shared by every suite: a trunk left cached here would
  // spare a later suite the jobs it counts
  override def afterAll(): Unit = try flagged.unpersist() finally super.afterAll()

  test("tokenize: ids are vocabulary positions, n_tok invariant holds") {
    val raw = Tok.rawSequences(spark.read.parquet(s"$sfDir/documents.parquet"))
    val bad = raw.filter(size(col("tokens")) =!= col("n_tok")).count()
    assert(bad == 0)
    val ids = raw.select(explode(col("tokens")).as("t")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(ids.subsetOf((0 to Tok.Vocab.size).toSet))
    // round-trip: detokenize inverts tokenize for in-vocab words
    val rt = raw.withColumn("words", Tok.detokenize(col("tokens")))
      .filter(!array_contains(col("words"), "<unk>"))
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text")), "doc_id")
      .filter(array_join(col("words"), " ") =!= col("text")).count()
    assert(rt == 0)
  }

  test("routing partitions: every row lands in exactly the sinks the oracle says") {
    val rows = flagged.select(col("doc_id"), col("severity"), col("n_tok"),
      col("team"), col("tier"),
      col(Route.flagCol("sink_errors")), col(Route.flagCol("sink_warn_big")),
      col(Route.flagCol("sink_teamA"))).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val m = Map[String, Any]("severity" -> r.get(1), "n_tok" -> r.get(2),
        "team" -> r.get(3), "tier" -> r.get(4))
      assert(r.getBoolean(5) == RowOracle.eval(StandardPipeline.sinkErrors.cond, m), s"errors @ $r")
      assert(r.getBoolean(6) == RowOracle.eval(StandardPipeline.sinkWarnBig.cond, m), s"warnbig @ $r")
      assert(r.getBoolean(7) == RowOracle.eval(StandardPipeline.sinkTeamA.cond, m), s"teamA @ $r")
    }
  }

  test("single-pass counts equal per-sink frame counts") {
    val counts = pipe.counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("sink_errors") == pipe.sinkFrame("sink_errors").count())
    assert(counts("sink_warn_big") == pipe.sinkFrame("sink_warn_big").count())
    assert(counts("sink_teamA") == pipe.sinkFrame("sink_teamA").count())
    assert(counts("_total") == flagged.count())
    // default + at-least-one-match partition the trunk
    val anyMatch = flagged.filter(
      col(Route.flagCol("sink_errors")) || col(Route.flagCol("sink_warn_big")) ||
        col(Route.flagCol("sink_teamA"))).count()
    assert(counts("_default") + anyMatch == counts("_total"))
  }

  test("sink frames carry byte-exact token arrays + decorator tags; metadata dropped") {
    val errs = pipe.sinkFrame("sink_errors")
    assert(!errs.columns.exists(_.startsWith("_m_")))
    assert(errs.columns.contains("tags"))
    val tagged = errs.filter(array_contains(col("tags"), "routed_error")).count()
    assert(tagged == errs.count())
    // tokens in the sink equal tokens in the source for the same doc_id
    val src = Tok.rawSequences(spark.read.parquet(s"$sfDir/documents.parquet"))
      .select(col("doc_id"), Tok.tokStr(col("tokens")).as("src_tok"))
    val diff = errs.select(col("doc_id"), Tok.tokStr(col("tokens")).as("out_tok"))
      .join(src, "doc_id").filter(col("out_tok") =!= col("src_tok")).count()
    assert(diff == 0)
  }

  test("run() writes sinks, lineage, counts; resume skips completed sinks") {
    val out = java.nio.file.Files.createTempDirectory("graft_run").toString
    val r1 = pipe.run(spark, out)
    assert(r1.resumedSinks.isEmpty)
    val errRows = spark.read.parquet(s"$out/sink_errors").count()
    assert(errRows == r1.counts("sink_errors"))
    val lineage = spark.read.parquet(s"$out/_lineage")
    assert(lineage.agg(sum("rows")).collect()(0).getLong(0) == r1.counts("_total"))
    // resume: second run skips all sinks but reports identical counts
    val r2 = pipe.run(spark, out)
    assert(r2.resumedSinks.toSet.contains("sink_errors"))
    assert(r2.counts == r1.counts)
  }

  test("decorator order: add_field -> remove_field -> add_tag -> remove_tag, dedup'd") {
    import spark.implicits._
    val df = Seq(("a", "x"), ("b", "y")).toDF("id", "v")
    val dec = Mutate.Decorator(
      addField = Seq("greeting" -> "hello %{id}", "gone" -> "tmp"),
      removeField = Seq("gone"),
      addTag = Seq("t1", "t1", "t2"),
      removeTag = Seq("t2"))
    val out = dec(df).collect().map(r =>
      (r.getAs[String]("greeting"), r.getAs[String]("gone"),
        r.getAs[collection.Seq[String]]("tags")))
    assert(out.forall(_._2 == null))
    assert(out.map(_._1).toSet == Set("hello a", "hello b"))
    assert(out.forall(_._3.toSeq == Seq("t1")))
  }

  test("sprintf leaves unresolved refs literal (reference StringInterpolation behavior)") {
    import spark.implicits._
    val df = Seq(("x", 3)).toDF("a", "n")
    val got = df.select(Mutate.sprintf("v=%{a}/%{n}/%{missing}", Set("a", "n")).as("s"))
      .collect()(0).getString(0)
    assert(got == "v=x/3/%{missing}")
  }

  test("grok: extraction, coercion, failure tag") {
    import spark.implicits._
    val df = Seq(
      ("2024-01-02 10:11:12 ERROR svc1 took 42 ms", 1),
      ("garbage line", 2)).toDF("msg", "id")
    val out = Parse.grok(df, "msg",
      "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{WORD:svc} took %{INT:ms:int} ms")
      .collect().sortBy(_.getAs[Int]("id"))
    val ok = out(0)
    assert(ok.getAs[String]("level") == "ERROR" && ok.getAs[Long]("ms") == 42L)
    assert(ok.getAs[collection.Seq[String]]("tags").isEmpty)
    val bad = out(1)
    assert(bad.getAs[String]("level") == null)
    assert(bad.getAs[collection.Seq[String]]("tags").toSeq == Seq("_grokparsefailure"))
  }

  test("dlq side-channel matches malformed rows") {
    val dlq = pipe.trunk.filter(col("delim_pos") === 0)
    val tagged = pipe.trunk.filter(array_contains(col("tags"), "_dissectfailure"))
    assert(dlq.count() == tagged.count())
  }

  test("plan invariants: pruned scan, broadcast enrich, whole-stage codegen spans") {
    val flagged = StandardPipeline.fromDir(spark, sfDir).flagged
    flagged.collect() // finalize THIS QueryExecution's adaptive plan
    val plan = flagged.queryExecution.executedPlan.toString
    // the scan reads only the three columns the pipeline consumes
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      plan.take(400))
    // the dictionary enrich must stay a broadcast join (no shuffle)
    assert(plan.contains("BroadcastHashJoin"), "enrich fell off the broadcast path")
    assert(!plan.contains("SortMergeJoin"), "unexpected shuffle join in the flagship plan")
    // the parse+flag projection runs inside whole-stage codegen
    // (final-plan operators carry the `*(n)` codegen markers)
    assert(plan.contains("*("), "flagship plan lost whole-stage codegen:\n" + plan.take(400))
  }

  test("plan invariants: round-5 operators keep their at-scale shapes") {
    import spark.implicits._
    // jdbc_streaming-style grouped-dim lookup: event side must NOT shuffle
    // (dimension collapses then broadcasts)
    val events = spark.range(0, 1000).select(col("id"), (col("id") % 5).cast("string").as("k"))
    val dim = Seq(("0", "a"), ("0", "b"), ("1", "c")).toDF("k", "v")
    val grouped = dim.groupBy("k").agg(array_sort(collect_list(col("v"))).as("vs"))
    val joined = events.join(org.apache.spark.sql.functions.broadcast(grouped), Seq("k"), "left")
    joined.collect()
    val jp = joined.queryExecution.executedPlan.toString
    assert(jp.contains("BroadcastHashJoin"), "list-lookup lost the broadcast join")
    assert(!jp.contains("SortMergeJoin"), "event side shuffled in a broadcast lookup")
    // ecosystem filters are pure projections: no exchange at all
    val ext = events.select(
      graft.operators.Extras.parseBytes(concat(col("id").cast("string"), lit("kb"))).as("b"),
      graft.operators.Extras.tldParse(lit("a.example.co.uk")).as("t"),
      graft.operators.Extras.transliterate(lit("café")).as("x"))
    ext.collect()
    val ep = ext.queryExecution.executedPlan.toString
    assert(!ep.contains("Exchange"), "ecosystem projections grew an exchange:\n" + ep.take(300))
  }

  test("plan invariants: packSequences and bpeApply keep their at-scale shapes") {
    import spark.implicits._
    val docs = spark.range(0, 2000).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.sequence(lit(1), (col("id") % 20 + 2).cast("int")).as("tokens"),
      (col("id") % 20 + 2).cast("int").as("n_tok"))
    // bpeApply: pure chained projections — ZERO exchanges, and the chain
    // must stay one-projection-per-rule (a collapsed fold would nest 3^m)
    val enc = graft.functions.Text.bpeApply(docs, "tokens", "enc",
      Seq((1, 2), (3, 4), (5, 6), (7, 8)), newIdBase = 1000000)
    enc.collect()
    val ep = enc.queryExecution.executedPlan.toString
    assert(!ep.contains("Exchange"), "bpeApply grew an exchange:\n" + ep.take(300))
    // packSequences: no Window (the global cumsum is the two-phase rdd
    // machinery), and the assembly exchange is keyed on pack_id
    val packs = graft.functions.Text.packSequences(docs, "doc_id", "tokens", "n_tok", 64)
    packs.collect()
    val pp = packs.queryExecution.executedPlan.toString
    assert(!pp.contains("Window"), "packSequences grew a Window:\n" + pp.take(300))
    assert(pp.contains("pack_id"), pp.take(300))
  }
}
