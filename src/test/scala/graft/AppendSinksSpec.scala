package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.conditions.{Eq, Gte, Lte}
import graft.operators.{Mutate, Route, SnapshotTable => ST}
import scala.jdk.CollectionConverters._

/** `SnapshotTable.appendSinks` and the fan-out writer it shares with
  * `Route.run`: every committed sink holds exactly its `Route.sinkFrame`
  * rows, a sink that already holds the batch id costs no Spark job, a
  * schema conflict fails before anything is written, and the staging dir
  * never outlives its call.
  */
class AppendSinksSpec extends SparkSpec {

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_sinks").toString

  private def trunk(ids: Range): DataFrame = {
    val sev = Seq("ERROR", "WARN", "INFO")
    val rows = ids.map(i => Row(i.toLong, sev(i % 3),
      if (i % 2 == 0) null else Seq(s"t$i"), s"m$i"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, sev STRING, tags ARRAY<STRING>, _meta_src STRING")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val sinks = Seq(
    Route.SinkSpec("errs", Eq("sev", "ERROR")),
    Route.SinkSpec("hi", Gte("doc_id", 6L)),                                   // overlaps errs
    Route.SinkSpec("tagged", Eq("sev", "WARN"), Mutate.Decorator(addTag = Seq("warned"))),
    Route.SinkSpec("noted", Eq("sev", "ERROR"),                                // a second schema
      Mutate.Decorator(addField = Seq("note" -> "n%{doc_id}"))),
    Route.SinkSpec("none", Eq("sev", "FATAL")),                                // no rows
    Route.SinkSpec("a=b", Lte("doc_id", 2L)),
    Route.SinkSpec("x y", Eq("sev", "INFO")))

  test("every committed sink holds exactly its sinkFrame rows, batch after batch") {
    val root = tmp()
    Seq("b1" -> trunk(0 until 10), "b2" -> trunk(10 until 14)).foldLeft(Map.empty[String, Seq[String]]) {
      case (before, (batch, t)) =>
        val commits = ST.appendSinks(spark, t, sinks, root, batch)
        assert(commits.keySet == sinks.map(_.name).toSet)
        assert(commits.values.forall(!_.skippedExisting), batch)
        val flagged = Route.withSinkFlags(t, sinks)
        sinks.map { s =>
          val want = Route.sinkFrame(flagged, s)
          val got = ST.read(spark, s"$root/${s.name}")
          assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType),
            s.name)
          val all = before.getOrElse(s.name, Nil) ++ sorted(want)
          assert(sorted(got) == all.sorted, s"${s.name} after $batch")
          s.name -> all
        }.toMap
    }
    assert(ST.read(spark, s"$root/none").count() == 0)
    assert(ST.read(spark, s"$root/tagged").filter(array_contains(col("tags"), "warned")).count() == 5)
  }

  test("a fully committed replay starts no Spark job") {
    val root = tmp()
    val first = ST.appendSinks(spark, trunk(0 until 10), sinks, root, "b1")
    val (replayed, jobs) = jobsOf(ST.appendSinks(spark, trunk(0 until 10), sinks, root, "b1"))
    assert(jobs == 0, s"replay started $jobs jobs")
    assert(replayed == first.map { case (k, c) => k -> c.copy(skippedExisting = true) })
  }

  test("a sink that already holds the batch is skipped; the others commit in one pass") {
    val root = tmp()
    val plain = sinks.take(2) ++ Seq(sinks(4), sinks.last) // errs, hi, none, "x y": one schema
    val t = trunk(0 until 10)
    ST.append(spark, Route.sinkFrame(Route.withSinkFlags(t, plain), plain.head),
      s"$root/errs", Some("b1"))
    val (commits, jobs) = jobsOf(ST.appendSinks(spark, t, plain, root, "b1"))
    assert(commits("errs") == ST.Commit(0L, skippedExisting = true))
    assert(plain.tail.forall(s => commits(s.name) == ST.Commit(0L, skippedExisting = false)))
    assert(jobs == 1, s"$jobs jobs for the three pending sinks")
    assert(ST.latestId(spark, s"$root/errs").contains(0L))
    assert(ST.read(spark, s"$root/errs").count() == 4)
    assert(ST.read(spark, s"$root/hi").count() == 4)
    assert(ST.read(spark, s"$root/none").schema == ST.read(spark, s"$root/hi").schema)
  }

  // the LSCL uuid filter's expression, and a random UDF no seed pins
  private def random(t: DataFrame): DataFrame = {
    val rnd = udf(() => java.util.UUID.randomUUID().toString).asNondeterministic()
    t.withColumn("uuid", expr("uuid()")).withColumn("rid", rnd())
  }

  private def ids(root: String, name: String) =
    ST.read(spark, s"$root/$name").select("doc_id", "uuid", "rid")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap

  test("a plain and an add_tag sink are written in one pass") {
    val root = tmp()
    spark.catalog.clearCache()
    val two = Seq(
      Route.SinkSpec("plain", Eq("sev", "ERROR")),
      Route.SinkSpec("decorated", Eq("sev", "ERROR"), Mutate.Decorator(addTag = Seq("e"))))
    val (_, jobs) = jobsOf(ST.appendSinks(spark, random(trunk(0 until 10)), two, root, "b1"))
    assert(jobs == 1, s"$jobs jobs for one pass")
    assert(ids(root, "plain").size == 4)
    assert(ids(root, "plain") == ids(root, "decorated"))
    assert(spark.sharedState.cacheManager.isEmpty, "a cache outlived the call")
  }

  test("sinks written in separate passes read the same trunk rows") {
    val root = tmp()
    spark.catalog.clearCache()
    val two = Seq(
      Route.SinkSpec("plain", Eq("sev", "ERROR")),
      Route.SinkSpec("noted", Eq("sev", "ERROR"), Mutate.Decorator(addField = Seq("note" -> "n%{doc_id}"))))
    val (_, jobs) = jobsOf(ST.appendSinks(spark, random(trunk(0 until 10)), two, root, "b1"))
    assert(jobs == 2, s"$jobs jobs for two passes")
    assert(ids(root, "plain").size == 4)
    assert(ids(root, "plain") == ids(root, "noted"))
    assert(spark.sharedState.cacheManager.isEmpty, "the trunk's cache outlived the call")
  }

  test("Route.run and appendSinks store each sink's sinkFrame rows, decorators in the pass") {
    // tags are null on even ids; a sink that adds a column takes a second
    // pass; doc_id 4 matches no sink
    val four = Seq(
      Route.SinkSpec("plain", Eq("sev", "ERROR")),
      Route.SinkSpec("tagged", Gte("doc_id", 7L), Mutate.Decorator(addTag = Seq("hit"))),
      Route.SinkSpec("edited", Eq("sev", "INFO"), Mutate.Decorator(
        addField = Seq("sev" -> "s-%{sev}"), removeTag = Seq("t5"))),
      Route.SinkSpec("noted", Lte("doc_id", 1L), Mutate.Decorator(addField = Seq("note" -> "n%{doc_id}"))))
    val t = trunk(0 until 12)
    val flagged = Route.withSinkFlags(t, four)
    val (out, root) = (tmp(), tmp())
    val (run, runJobs) = jobsOf(Route.run(spark, t, four, out))
    val (_, sinkJobs) = jobsOf(ST.appendSinks(spark, t, four, root, "b1"))
    assert(runJobs == 2 && sinkJobs == 2, s"Route.run $runJobs jobs, appendSinks $sinkJobs")
    def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    four.foreach { s =>
      val want = Route.sinkFrame(flagged, s)
      Seq(spark.read.parquet(run.sinkPaths(s.name)), ST.read(spark, s"$root/${s.name}")).foreach { got =>
        assert(typed(got) == typed(want), s.name)
        assert(sorted(got) == sorted(want), s.name)
      }
    }
    val default = spark.read.parquet(run.sinkPaths("_default"))
    assert(sorted(default) == sorted(Route.defaultFrame(flagged, four)))
    // rows no decorator ran on keep their null tags
    assert(default.filter(col("tags").isNull).count() == 1)
    Seq(spark.read.parquet(run.sinkPaths("plain")), ST.read(spark, s"$root/plain"))
      .foreach(p => assert(p.filter(col("tags").isNull).count() == 2))
    assert(run.counts == Map("plain" -> 4L, "tagged" -> 5L, "edited" -> 4L, "noted" -> 2L,
      "_default" -> 1L, "_total" -> 12L))
  }

  test("a nested add_field sink takes a pass of its own, so no other sink's null struct changes") {
    // add_field [ctx][k] rebuilds a null ctx as a struct on every row it runs over
    val t = trunk(0 until 6).withColumn("ctx",
      when(col("doc_id") % 2 === 0, struct(lit("k0").as("k"))))
    val two = Seq(
      Route.SinkSpec("plain", Gte("doc_id", 0L)),
      Route.SinkSpec("nested", Eq("sev", "ERROR"), Mutate.Decorator(addField = Seq("[ctx][k]" -> "e%{doc_id}"))))
    val (run, jobs) = jobsOf(Route.run(spark, t, two, tmp()))
    assert(jobs == 2, s"$jobs jobs")
    val flagged = Route.withSinkFlags(t, two)
    two.foreach(s => assert(sorted(spark.read.parquet(run.sinkPaths(s.name))) ==
      sorted(Route.sinkFrame(flagged, s)), s.name))
    assert(spark.read.parquet(run.sinkPaths("plain")).filter(col("ctx").isNull).count() == 3)
  }

  private def debris(root: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("fanstage-")).toSeq
    finally s.close()
  }
  test("a schema conflict in any sink fails before anything is written or committed") {
    import spark.implicits._
    val root = tmp()
    // sev is a long in the second sink's table, a string in the trunk
    ST.append(spark, Seq((100L, 5L)).toDF("doc_id", "sev"), s"$root/hi", Some("b0"))
    val e = intercept[IllegalArgumentException](
      ST.appendSinks(spark, trunk(0 until 10), sinks.take(3), root, "b1"))
    assert(e.getMessage == "requirement failed: schema evolution cannot change column 'sev' " +
      "from bigint to string", e.getMessage)
    assert(ST.latestId(spark, s"$root/errs").isEmpty, "errs committed before the conflict")
    assert(ST.latestId(spark, s"$root/hi").contains(0L))
    assert(new java.io.File(s"$root/hi/data").list().toSeq == Seq("snap-000000"))
    assert(debris(root).isEmpty)
  }

  test("a failed write leaves no staging dir and commits nothing") {
    val root = tmp()
    val poisoned = trunk(0 until 10).withColumn("sev",
      when(col("doc_id") === 7L, raise_error(lit("boom"))).otherwise(col("sev")))
    intercept[Exception](ST.appendSinks(spark, poisoned, sinks.take(3), root, "b1"))
    sinks.take(3).foreach(s => assert(ST.latestId(spark, s"$root/${s.name}").isEmpty, s.name))
    assert(debris(root).isEmpty, debris(root))
  }

  test("calls with disjoint sinks under one root never touch each other's staging") {
    val root = tmp()
    // another call's in-flight staging under the `hi` table
    val other = new java.io.File(s"$root/hi/data/fanstage-other/_t=0")
    assert(other.mkdirs())
    val mine = Seq(sinks.head, sinks.last)
    ST.appendSinks(spark, trunk(0 until 10), mine, root, "b1")
    assert(other.exists(), "a disjoint call's staging was removed")
    // two calls at once over disjoint sinks both commit in full
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = Seq(mine, Seq(sinks(1), sinks(5))).map { ss =>
        pool.submit(new java.util.concurrent.Callable[Map[String, ST.Commit]] {
          def call() = ST.appendSinks(spark, trunk(0 until 10), ss, root, "b2")
        })
      }
      calls.foreach(c => assert(c.get().values.forall(!_.skippedExisting)))
    } finally pool.shutdown()
    assert(ST.read(spark, s"$root/errs").count() == 8)
    assert(ST.read(spark, s"$root/hi").count() == 4)
    assert(ST.read(spark, s"$root/a=b").count() == 3)
    // after a killed JVM, vacuum reaps a staging dir like any orphan
    assert(ST.vacuum(spark, s"$root/hi") == Seq("fanstage-other"))
    assert(debris(root).isEmpty)
  }
}
