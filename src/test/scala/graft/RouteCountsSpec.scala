package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.operators.Route

/** `Route.writeTable`, the driver-side writer of tiny tables, and the
  * `_counts`, `_lineage` and `_metrics` tables `Route.run` and
  * `runWithMetrics` write with it: each reads back as the Spark-job write
  * it replaces, and costs no Spark job.
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
    val (_, jobs) = jobsOf(Route.writeTable(spark,
      new org.apache.hadoop.fs.Path(s"$dir/tiny/part-00000.parquet"), schema, rows))
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

  test("Route.run's _lineage and runWithMetrics' _metrics read back as the Spark-job writes they replaced") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache() // a suite that cached the flagged trunk would save its jobs
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val sinks = StandardPipeline.sinks
    // one input partition (one _lineage row), four, and four of which at
    // least one is empty (three severities hashed into four partitions)
    val empty = pipe.trunk.repartition(4, col("severity"))
    for (trunk <- Seq(pipe.trunk, pipe.trunk.repartition(4, col("doc_id")), empty)) {
      val out = tmp()
      val r = Route.runWithMetrics(spark, trunk, sinks, out)
      Seq("_lineage", "_metrics").foreach(d => assert(new java.io.File(s"$out/$d/_SUCCESS").exists, d))
      // the tables as the earlier writer stored them: _lineage as a Spark
      // write of the per-partition rows, _metrics as a one-file Spark write
      val legacy = s"${tmp()}/out"
      new java.io.File(legacy).mkdirs()
      Seq("_manifests", "_counts").foreach(d => org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$out/$d"), new java.io.File(s"$legacy/$d")))
      val lineRows = Route.withSinkFlags(trunk, sinks).groupBy(spark_partition_id().as("part"))
        .agg(count(lit(1)).as("rows"),
          sinks.map(s => sum(col(Route.flagCol(s.name)).cast("long")).as(s"n_${s.name}")): _*)
        .collect()
      spark.createDataFrame(java.util.Arrays.asList(lineRows: _*), StructType.fromDDL(
        "part INT NOT NULL, rows BIGINT NOT NULL, " + sinks.map(s => s"n_${s.name} BIGINT").mkString(", ")))
        .write.parquet(s"$legacy/_lineage")
      val metrics = spark.read.parquet(s"$out/_metrics").collect()
        .map(m => m.getString(0) -> m.getDouble(1)).toSeq
      assert(metrics.map(_._1) == Seq("events_in", "duration_sec", "input_throughput_eps") ++
        r.counts.keys.toSeq.sorted.map(k => s"events_out_$k"))
      spark.createDataFrame(metrics).toDF("metric", "value").coalesce(1).write.parquet(s"$legacy/_metrics")
      same(s"$out/_metrics", s"$legacy/_metrics")
      // the Spark write's row order followed its file listing; the driver
      // writes the rows in partition order
      val (got, want) = (spark.read.parquet(s"$out/_lineage"), spark.read.parquet(s"$legacy/_lineage"))
      assert(got.schema == want.schema && got.schema.map(_.nullable) == want.schema.map(_.nullable))
      assert(got.collect().toSeq == want.collect().toSeq.sortBy(_.getInt(0)))
      // an empty partition has no row, as in the per-partition aggregate
      val parts = trunk.rdd.mapPartitions(it => Iterator(it.nonEmpty)).collect()
      assert(got.count() == parts.count(identity))
      if (trunk eq empty) assert(parts.contains(false), "the trunk has no empty partition")
      assert(Route.nodeStats(spark, out) == Route.nodeStats(spark, legacy))
      // a fully resumed rerun resumes _lineage as before, and counts in one
      // pass: the jobs of a noop write of the flagged trunk
      val (_, noop) = jobsOf(Route.withSinkFlags(trunk, sinks).write.format("noop").mode("overwrite").save())
      val (rerun, jobs) = jobsOf(Route.run(spark, trunk, sinks, out))
      assert(rerun.resumedSinks == sinks.map(_.name) ++ Seq("_default", "_lineage"))
      assert(rerun.counts == r.counts)
      assert(jobs == noop, s"$jobs jobs for a fully resumed rerun, a noop write takes $noop")
      assert(spark.read.parquet(s"$out/_lineage").collect().toSeq == got.collect().toSeq)
    }
  }

  test("Route.run writes _lineage without a Spark job, and runWithMetrics adds none") {
    spark.catalog.clearCache()
    val pipe = StandardPipeline.fromDir(spark, sfDir)
    val (_, run) = jobsOf(Route.run(spark, pipe.trunk, StandardPipeline.sinks, tmp()))
    val (_, withMetrics) = jobsOf(Route.runWithMetrics(spark, pipe.trunk, StandardPipeline.sinks, tmp()))
    // the dictionary's broadcast and the one fan-out write
    assert(run == 2)
    assert(withMetrics == run)
    assert(spark.sharedState.cacheManager.isEmpty, "Route.run left a cached frame")
  }
}
