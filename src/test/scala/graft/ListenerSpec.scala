package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableCapability, TableProvider}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import graft.sources._

/** The six listener sources' shared contract, one case per format: a live
  * endpoint keeps one journal and one set of settings (a request that
  * differs fails loudly, naming the setting and the endpoint),
  * `stopListener` frees the endpoint for a new listener, and every table
  * reads the journal as `FileTailSource.Schema` in batch and micro-batch.
  */
class ListenerSpec extends AnyFunSuite {
  private val tmp = Files.createTempDirectory("graft_listeners")
  private val sock = tmp.resolve("l.sock")

  /** A listener source: its provider, the option naming its endpoint, the
    * endpoint as errors name it, and its registry calls.
    */
  private case class Format(name: String, provider: TableProvider,
                            endpointOption: (String, String), endpoint: String,
                            ensure: Path => AnyRef, stop: () => Unit)

  private def port(kind: String, p: Int, provider: TableProvider,
                   ensure: (Int, Path) => AnyRef, stop: Int => Unit) =
    Format(kind, provider, "port" -> p.toString, s"$kind port $p",
      ensure(p, _), () => stop(p))

  private val formats = Seq(
    port("tcp", 16741, new TcpSource, TcpSource.ensureListener(_, _), TcpSource.stopListener),
    port("udp", 16742, new UdpSource, UdpSource.ensureListener(_, _), UdpSource.stopListener),
    Format("unix", new UnixSource, "socket" -> sock.toString, s"unix socket $sock",
      UnixSource.ensureListener(sock, _), () => UnixSource.stopListener(sock)),
    port("relp", 16743, new RelpSource, RelpSource.ensureListener, RelpSource.stopListener),
    port("beats", 16744, new BeatsSource, BeatsSource.ensureListener, BeatsSource.stopListener),
    port("http", 16745, new HttpSource, HttpSource.ensureListener(_, _), HttpSource.stopListener))

  private def table(f: Format, opts: (String, String)*): SupportsRead =
    f.provider.getTable(null, Array.empty, (Map(f.endpointOption) ++ opts).asJava)
      .asInstanceOf[SupportsRead]

  for (f <- formats)
    test(s"${f.name}: one journal per endpoint, stopListener frees it, FileTail table") {
      val j1 = tmp.resolve(s"${f.name}-1.journal")
      val j2 = tmp.resolve(s"${f.name}-2.journal")
      val t = table(f, "journal" -> j1.toString)
      assert(t.schema() == FileTailSource.Schema)
      assert(f.provider.inferSchema(CaseInsensitiveStringMap.empty()) == FileTailSource.Schema)
      assert(t.capabilities().asScala ==
        Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ))
      try {
        // planning a scan starts the listener; the same request joins it
        // (a second bind of the endpoint would throw)
        assert(t.newScanBuilder(CaseInsensitiveStringMap.empty()).build().readSchema() ==
          FileTailSource.Schema)
        val live = f.ensure(j1)
        assert(f.ensure(j1) eq live)
        val e = intercept[IllegalArgumentException](f.ensure(j2))
        assert(e.getMessage.contains(f.endpoint) && e.getMessage.contains("journal"),
          e.getMessage)
        f.stop()
        assert(f.ensure(j2) ne live) // the endpoint is free: a new listener binds it
      } finally f.stop()
    }

  private val j = tmp.resolve("settings.journal")

  /** A request that differs from `first` in `setting` only. */
  private case class Mismatch(kind: String, endpoint: String, setting: String,
                              first: () => AnyRef, differing: () => AnyRef, stop: () => Unit)

  private val mismatches = Seq(
    Mismatch("tcp", "tcp port 16751", "size_limit", () => TcpSource.ensureListener(16751, j),
      () => TcpSource.ensureListener(16751, j, sizeLimit = 64),
      () => TcpSource.stopListener(16751)),
    Mismatch("udp", "udp port 16752", "size_limit", () => UdpSource.ensureListener(16752, j),
      () => UdpSource.ensureListener(16752, j, sizeLimit = 512),
      () => UdpSource.stopListener(16752)),
    Mismatch("udp", "udp port 16753", "frames", () => UdpSource.ensureListener(16753, j),
      () => UdpSource.ensureListener(16753, j, base64Frames = true),
      () => UdpSource.stopListener(16753)),
    Mismatch("unix", s"unix socket $sock", "size_limit", () => UnixSource.ensureListener(sock, j),
      () => UnixSource.ensureListener(sock, j, sizeLimit = 64),
      () => UnixSource.stopListener(sock)),
    Mismatch("unix", s"unix socket $sock", "force_unlink", () => UnixSource.ensureListener(sock, j),
      () => UnixSource.ensureListener(sock, j, forceUnlink = true),
      () => UnixSource.stopListener(sock)),
    Mismatch("http", "http port 16754", "size_limit", () => HttpSource.ensureListener(16754, j),
      () => HttpSource.ensureListener(16754, j, sizeLimit = 256),
      () => HttpSource.stopListener(16754)))

  for (m <- mismatches)
    test(s"${m.kind}: a request with a different ${m.setting} fails, naming it and the endpoint") {
      try {
        val live = m.first()
        val e = intercept[IllegalArgumentException](m.differing())
        assert(e.getMessage.contains(m.endpoint) && e.getMessage.contains(m.setting),
          e.getMessage)
        assert(m.first() eq live) // the live listener is untouched
      } finally m.stop()
    }

  test("a table whose options differ from the live listener fails at scan planning") {
    val f = formats.head
    try {
      TcpSource.ensureListener(16741, j, sizeLimit = 64)
      val e = intercept[IllegalArgumentException](
        table(f, "journal" -> j.toString).newScanBuilder(CaseInsensitiveStringMap.empty()))
      assert(e.getMessage.contains("tcp port 16741") && e.getMessage.contains("size_limit"),
        e.getMessage)
      table(f, "journal" -> j.toString, "size_limit" -> "64")
        .newScanBuilder(CaseInsensitiveStringMap.empty())
    } finally f.stop()
  }
}
