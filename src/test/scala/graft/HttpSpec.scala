package graft

import org.apache.spark.sql.streaming.Trigger

/** HttpSource: POST bodies -> journal -> byte-offset micro-batches (the
  * webhook front door), with the 413 size guard; plus the exec input from
  * config text.
  */
class HttpSpec extends SparkSpec {

  private def post(port: Int, body: String): Int = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port/"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("POST bodies journal line-framed; oversized body -> 413, never journaled") {
    val port = 15961
    val tmp = java.nio.file.Files.createTempDirectory("graft_http")
    val journal = tmp.resolve("http.journal")
    graft.sources.HttpSource.ensureListener(port, journal, sizeLimit = 256)
    try {
      assert(post(port, "hook-1\nhook-2\n") == 200)
      assert(post(port, "hook-3") == 200)
      assert(post(port, "X" * 1000) == 413) // over the 256 B cap
      val ck = s"$tmp/ck"; val out = s"$tmp/out"
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft.sources.HttpSource")
          .option("port", port).option("journal", journal.toString)
          .option("size_limit", 256).load() // the live listener's settings
          .writeStream.option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", out).start()
        q.awaitTermination(60000); ()
      }
      runOnce()
      val got = spark.read.parquet(out).collect().map(_.getString(1)).sorted.toSeq
      assert(got == Seq("hook-1", "hook-2", "hook-3"))
      // restart: only the delta lands, exactly once
      assert(post(port, "hook-4") == 200)
      runOnce()
      assert(spark.read.parquet(out).count() == 4)
    } finally graft.sources.HttpSource.stopListener(port)
  }

  test("exec input runs the command, one event per stdout line") {
    val cfg = graft.lscl.Lscl.parse(
      """input { exec { command => "printf 'line-a\nline-b\nline-c\n'" } }
        |""".stripMargin, Map.empty)
    val df = graft.lscl.LsclRun.source(spark, cfg.inputs)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.map(_._1) == Seq("line-a", "line-b", "line-c"))
    assert(rows.forall(_._2.startsWith("printf")))
  }
}
