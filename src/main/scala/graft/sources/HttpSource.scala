package graft.sources

import java.nio.file.Path
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Logstash `http` input (logstash-input-http, a default plugin — the
  * webhook front door) as a journaled listener source (see
  * [[JournaledListener]]).
  *
  *   spark.readStream.format("graft.sources.HttpSource")
  *     .option("port", 8080).load()  // -> (offset BIGINT, message STRING)
  *
  * A JDK `com.sun.net.httpserver` handler journals each POST/PUT body as
  * line-framed text — one event per non-empty body line, like the reference
  * input's default `line`-ish treatment of newline-delimited payloads. The
  * handler answers 200 "ok" after the journal append (the reference acks
  * after enqueue — ack implies durable), and 413 for a body over
  * `size_limit` without buffering it.
  */
class HttpSource extends ListenerSource(HttpSource.table)

object HttpSource extends PortListeners("http") {

  val DefaultSizeLimit: Int = 1 << 20 // 1 MiB per request body

  final class Listener(port: Int, journal: Path,
                       sizeLimit: Int = DefaultSizeLimit) extends JournaledListener(journal) {
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    def localPort: Int = server.getAddress.getPort

    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        if (declared > sizeLimit) {
          // refuse oversized bodies WITHOUT reading them (memory bounded)
          ex.sendResponseHeaders(413, -1)
        } else {
          val body = ex.getRequestBody.readNBytes(sizeLimit + 1)
          if (body.length > sizeLimit) ex.sendResponseHeaders(413, -1)
          else {
            val text = new String(body, java.nio.charset.StandardCharsets.UTF_8)
            val lines = text.split("\n").filter(_.nonEmpty)
            if (lines.nonEmpty) append(lines.mkString("", "\n", "\n"))
            val ok = "ok".getBytes(java.nio.charset.StandardCharsets.UTF_8)
            ex.sendResponseHeaders(200, ok.length)
            ex.getResponseBody.write(ok)
          }
        }
      } finally ex.close()
    })
    server.setExecutor(null) // serial handler = single journal writer
    server.start()

    def close(): Unit = server.stop(0)
  }

  /** Idempotently start the listener for `port` journaling to `journal`;
    * a request that differs from the live listener's settings fails loudly.
    */
  def ensureListener(port: Int, journal: Path,
                     sizeLimit: Int = DefaultSizeLimit): Listener =
    Listeners.ensure(endpoint(port), "journal" -> journal, "size_limit" -> sizeLimit)(
      new Listener(port, journal, sizeLimit))

  protected def listen(port: Int, journal: Path, options: CaseInsensitiveStringMap): Listener =
    ensureListener(port, journal, options.getInt("size_limit", DefaultSizeLimit))
}
