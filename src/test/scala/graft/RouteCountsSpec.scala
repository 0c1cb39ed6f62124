package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.operators.Route

/** `Route.writeTable`, the driver-side writer of tiny tables, and the
  * `_counts` table `Route.run` writes with it: each reads back exactly as
  * the Spark-job write it replaces, and costs no Spark job.
  */
class RouteCountsSpec extends SparkSpec {

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_counts").toString

  private def same(got: String, want: String): Unit = {
    val (g, w) = (spark.read.parquet(got), spark.read.parquet(want))
    assert(g.schema == w.schema, s"${g.schema.treeString} vs ${w.schema.treeString}")
    assert(g.schema.map(_.nullable) == w.schema.map(_.nullable))
    assert(g.collect().toSeq == w.collect().toSeq)
  }

  test("writeTable reads back as a one-file Spark write of the same rows, without a job") {
    val dir = tmp()
    val schema = StructType.fromDDL(
      "s STRING, n BIGINT NOT NULL, d DOUBLE, xs ARRAY<STRING>, ts TIMESTAMP")
    val rows = Seq(
      Row("a", 1L, 0.5, Seq("x", null), java.sql.Timestamp.valueOf("2024-01-02 03:04:05")),
      Row(null, -2L, null, null, null),
      Row("c", Long.MaxValue, Double.NaN, Seq.empty[String], null))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(s"$dir/spark")
    // a streaming query another suite left running is not this call's
    val (_, jobs) = jobsOf(Route.writeTable(spark,
      new org.apache.hadoop.fs.Path(s"$dir/tiny/part-00000.parquet"), schema, rows),
      e => Option(e.properties).forall(_.getProperty("streaming.sql.batchId") == null))
    assert(jobs == 0)
    same(s"$dir/tiny", s"$dir/spark")
    // no rows: the schema alone
    Route.writeTable(spark, new org.apache.hadoop.fs.Path(s"$dir/empty/part-00000.parquet"), schema)
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema).write.parquet(s"$dir/sempty")
    same(s"$dir/empty", s"$dir/sempty")
  }

  test("Route.run's _counts reads back as the Spark-job write it replaced, and nodeStats agrees") {
    val out = tmp()
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val r = Route.run(spark, pipe.trunk, StandardPipeline.sinks, out, extraCounts = Map("_in" -> 7L))
    // the rows in the order the earlier writer stored them: sinks in spec
    // order, then _default and _total, then the extra counters by name
    val ordered = StandardPipeline.sinks.map(_.name) ++ Seq("_default", "_total", "_in")
    val legacy = s"${tmp()}/out"
    new java.io.File(legacy).mkdirs()
    Seq("_manifests", "_lineage").foreach(d => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$out/$d"), new java.io.File(s"$legacy/$d")))
    spark.createDataFrame(ordered.map(k => k -> r.counts(k))).toDF("sink", "n")
      .coalesce(1).write.parquet(s"$legacy/_counts")
    same(s"$out/_counts", s"$legacy/_counts")
    assert(Route.nodeStats(spark, out) == Route.nodeStats(spark, legacy))
  }
}
