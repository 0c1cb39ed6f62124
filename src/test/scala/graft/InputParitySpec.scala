package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lscl.{Lscl, LsclRun}
import graft.operators.{Collectd, Gelf}

/** Batch/stream parity of the LSCL input lowering: each row runs one input
  * config through `LsclRun.source` and through `runConfigStream`
  * (AvailableNow over the same journal or file — one micro-batch) and
  * compares columns and rows. A row's expected columns also pin that its
  * codec ran at all, on both paths.
  */
class InputParitySpec extends SparkSpec {

  private val Ddl = "version STRING, host STRING, short_message STRING, " +
    "full_message STRING, timestamp DOUBLE, level BIGINT, _facility STRING"

  private def b64(b: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(b)

  private val gelfFrames: Seq[String] = (0 until 6).flatMap { i =>
    val json = s"""{"version":"1.1","host":"h$i","short_message":"sm$i",""" +
      s""""timestamp":${100 + i}.5,"level":$i,"_facility":"f${i % 2}"}"""
    // every third message arrives as three chunks (reassembled per batch)
    if (i % 3 == 0) Gelf.chunk(Gelf.deflate(json), 3, 40L + i).map(b64)
    else Seq(b64(Gelf.deflate(json)))
  }

  private val collectdFrames: Seq[Array[Byte]] = (0 until 4).map(i =>
    Collectd.packet(s"web$i", 1700000000L + i, "load", "", "load", "", 10L,
      Seq(Seq(("gauge", i * 1.5)), Seq(("counter", 7.0 + i)))))

  private val cefLines = Seq(
    """CEF:0|Acme|fw|1.0|100|blocked|5|src=10.0.0.1 dst=10.0.0.2""",
    """<13>Oct 11 host CEF:0|Acme|fw|1.0|101|allowed|3|msg=a\=b""",
    "not a cef line")

  private val raw = Set("offset", "message")
  private val cefCols = raw ++ Set("cef_prefix", "cef_version", "cef_vendor",
    "cef_product", "cef_device_version", "cef_signature", "cef_name",
    "cef_severity", "cef_ext", "tags")
  private val gelfCols = Set("version", "host", "short_message", "full_message",
    "level", "@timestamp")
  private val collectdCols = Set("host", "collectd_time", "plugin", "plugin_instance",
    "collectd_type", "type_instance", "interval", "values", "dstypes")

  /** `input(dir, port)` is the input section body; `lines` land in
    * `dir/in` (the journal or tailed file) before either run; `cols` are
    * the columns both runs must yield (None: parity only).
    */
  private final case class Row(name: String, input: (String, Int) => String,
                               lines: Seq[String], cols: Option[Set[String]])

  private val rows: Seq[Row] = Seq(
    // one row per transport with no codec
    Row("tcp", (d, p) => s"""tcp { port => $p journal => "$d/in" }""",
      Seq("a 1", "b 2", "c 3"), Some(raw)),
    Row("udp", (d, p) => s"""udp { port => $p journal => "$d/in" }""",
      Seq("u1", "u2"), Some(raw)),
    Row("unix", (d, _) => s"""unix { path => "$d/s" journal => "$d/in" }""",
      Seq("x1", "x2"), Some(raw)),
    Row("http", (d, p) => s"""http { port => $p journal => "$d/in" }""",
      Seq("""{"a":1}""", """{"a":2}"""), Some(raw)),
    Row("beats", (d, p) => s"""beats { port => $p journal => "$d/in" }""",
      Seq("""{"message":"b1"}"""), Some(raw)),
    Row("relp", (d, p) => s"""relp { port => $p journal => "$d/in" }""",
      Seq("<13>Oct 11 22:14:15 h app: r1"), Some(raw)),
    Row("syslog", (d, p) => s"""syslog { port => $p journal => "$d/in" }""",
      Seq("<13>Oct 11 22:14:15 h1 app[7]: one", "<34>Oct 11 22:14:16 h2 su: two", "junk"),
      None),
    Row("logstash", (d, p) =>
      s"""logstash { ssl_enabled => false port => $p journal => "$d/in"
         |  schema => "a STRING, n BIGINT" }""".stripMargin,
      Seq("""{"a":"x","n":1}""", """{"a":"y","n":2}"""), Some(raw ++ Set("a", "n"))),
    Row("file tail", (d, _) => s"""file { path => "$d/in" mode => "tail" }""",
      Seq("f1", "f2", "f3"), Some(raw)),
    Row("generator", (_, _) => """generator { count => 7 lines => ["g1", "g2"] }""",
      Nil, Some(Set("seq", "message"))),
    Row("heartbeat", (_, _) => """heartbeat { count => 3 message => "sequence" }""",
      Nil, Some(Set("seq", "message", "clock"))),
    // the divergences: a codec one path applied and the other dropped
    Row("unix multiline", (d, _) =>
      s"""unix { path => "$d/s" journal => "$d/in"
         |  codec => multiline { pattern => "^ " what => "previous" } }""".stripMargin,
      Seq("head 1", "  cont a", "  cont b", "head 2", "head 3", "  cont c"),
      Some(Set("event_group", "message", "n_lines", "tags"))),
    Row("file tail gelf", (d, _) =>
      s"""file { path => "$d/in" mode => "tail" codec => gelf { schema => "$Ddl" } }""",
      gelfFrames, Some(gelfCols ++ Set("message", "facility"))),
    Row("file tail gelf, no remap/strip", (d, _) =>
      s"""file { path => "$d/in" mode => "tail" codec => gelf { schema => "$Ddl"
         |  remap => false strip_leading_underscore => false } }""".stripMargin,
      gelfFrames, Some(gelfCols + "_facility")),
    Row("tcp bareword cef", (d, p) =>
      s"""tcp { port => $p journal => "$d/in" codec => cef }""",
      cefLines, Some(cefCols)),
    Row("tcp block cef", (d, p) =>
      s"""tcp { port => $p journal => "$d/in" codec => cef { } }""",
      cefLines, Some(cefCols)),
    // bareword and block binary codecs read the same base64 frames
    Row("udp bareword collectd", (d, p) =>
      s"""udp { port => $p journal => "$d/in" codec => collectd }""",
      collectdFrames.map(b64), Some(collectdCols)),
    Row("udp block collectd", (d, p) =>
      s"""udp { port => $p journal => "$d/in" codec => collectd { } }""",
      collectdFrames.map(b64), Some(collectdCols)),
    Row("named gelf input", (d, p) =>
      s"""gelf { port => $p journal => "$d/in" schema => "$Ddl" }""",
      gelfFrames, Some(gelfCols ++ Set("message", "facility"))),
    Row("named graphite input", (d, p) =>
      s"""graphite { port => $p journal => "$d/in" }""",
      Seq("cpu.load 1.5 1700000000", "mem.free 42 1700000001", "bad"),
      Some(raw ++ Set("metric", "value", "@timestamp", "metrics", "tags"))))

  /** Every row as sorted JSON lines over sorted columns (maps included). */
  private def rowsOf(df: DataFrame): Seq[String] = {
    val cs = df.columns.sorted.toSeq
    df.select(to_json(struct(cs.map(c => col(s"`$c`")): _*))).collect()
      .map(_.getString(0)).toSeq.sorted
  }

  private def stopListeners(dir: String, port: Int): Unit = {
    graft.sources.TcpSource.stopListener(port)
    graft.sources.UdpSource.stopListener(port)
    graft.sources.HttpSource.stopListener(port)
    graft.sources.BeatsSource.stopListener(port)
    graft.sources.RelpSource.stopListener(port)
    graft.sources.UnixSource.stopListener(java.nio.file.Paths.get(s"$dir/s"))
  }

  for ((row, i) <- rows.zipWithIndex) {
    test(s"batch == stream: ${row.name}") {
      val dir = java.nio.file.Files.createTempDirectory("gpar").toString
      val port = 16601 + i
      if (row.lines.nonEmpty) java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/in"), row.lines.mkString("", "\n", "\n"))
      val cfg = s"input { ${row.input(dir, port)} }\noutput { sink { id => \"all\" } }"
      try {
        val batch = LsclRun.source(spark, Lscl.parse(cfg, Map.empty).inputs)
        val q = LsclRun.runConfigStream(spark, cfg, s"$dir/out", s"$dir/ck", Map.empty)
        q.awaitTermination(120000)
        q.exception.foreach(e => throw e)
        val stream = spark.read.parquet(s"$dir/out/all")
        row.cols.foreach { want =>
          assert(batch.columns.toSet == want, s"batch columns of ${row.name}")
          assert(stream.columns.toSet == want, s"stream columns of ${row.name}")
        }
        assert(stream.columns.toSet == batch.columns.toSet, s"columns of ${row.name}")
        val got = rowsOf(batch)
        assert(got.nonEmpty, s"${row.name} read no rows")
        assert(rowsOf(stream) == got, s"rows of ${row.name}")
      } finally stopListeners(dir, port)
    }
  }

  test("file gelf archive honours remap and strip_leading_underscore") {
    val dir = java.nio.file.Files.createTempDirectory("gpar").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in"),
      gelfFrames.mkString("", "\n", "\n"))
    def read(flags: String) = LsclRun.source(spark, Lscl.parse(
      s"""input { file { path => "$dir/in" codec => gelf { schema => "$Ddl" $flags } } }""",
      Map.empty).inputs)
    val kept = read("remap => false strip_leading_underscore => false")
    assert(kept.columns.toSet == gelfCols + "_facility")
    assert(read("").columns.toSet == gelfCols ++ Set("message", "facility"))
    assert(kept.count() == 6)
  }

  test("udp bareword codec => collectd journals whole datagrams like the block form") {
    val port = 16661
    val dir = java.nio.file.Files.createTempDirectory("gpar").toString
    def cfg(codec: String) = Lscl.parse(
      s"""input { udp { port => $port journal => "$dir/in" codec => $codec } }""",
      Map.empty).inputs
    try {
      // the first read starts the listener in the config's journal mode
      assert(LsclRun.source(spark, cfg("collectd")).isEmpty)
      val sock = new java.net.DatagramSocket()
      try collectdFrames.foreach(b => sock.send(new java.net.DatagramPacket(b, b.length,
        java.net.InetAddress.getLoopbackAddress, port)))
      finally sock.close()
      val journal = java.nio.file.Paths.get(s"$dir/in")
      val deadline = System.currentTimeMillis() + 30000
      while ((!java.nio.file.Files.exists(journal) ||
          java.nio.file.Files.readAllLines(journal).size() < collectdFrames.size) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      val bare = LsclRun.source(spark, cfg("collectd"))
      assert(bare.columns.toSet == collectdCols)
      assert(bare.count() == 2L * collectdFrames.size) // two VALUES parts each
      assert(rowsOf(bare) == rowsOf(LsclRun.source(spark, cfg("collectd { }"))))
    } finally graft.sources.UdpSource.stopListener(port)
  }
}
