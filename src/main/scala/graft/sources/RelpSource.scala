package graft.sources

import java.nio.file.Path
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Logstash `relp` input as a journaled listener source (see
  * [[JournaledListener]]), speaking RELP — the Reliable Event Logging
  * Protocol rsyslog ships (PUBLIC spec, rsyslog.com/doc and the librelp
  * protocol description; the implementation here is original, written from
  * the framing rules):
  *
  *   frame    = TXNR SP COMMAND SP DATALEN [SP DATA] '\n'
  *   open     client offers, e.g. "relp_version=0\ncommands=syslog" — the
  *            server answers `rsp` 200 OK + its own offers
  *   syslog   DATA is one syslog message; the server MUST NOT ack before
  *            the message is safely stored — RELP's whole point vs plain
  *            syslog/tcp (each is acked `TXNR rsp 6 200 OK`)
  *   close    session end — acked, then the connection closes
  *
  * One journal line per syslog command (embedded newlines flatten to
  * spaces), acked AFTER the append — ack implies journaled, the protocol's
  * at-least-once contract. A grok/syslog_pri stage recovers the message
  * structure downstream, exactly like the syslog input.
  */
class RelpSource extends ListenerSource(RelpSource.table)

object RelpSource extends PortListeners("relp") {

  /** Largest accepted DATALEN — the librelp default maxDataSize ballpark;
    * a frame past it kills the connection (bounded buffering, like the tcp
    * listener's size_limit).
    */
  val DefaultSizeLimit: Int = 1 << 20 // 1 MiB

  final class Listener(port: Int, journal: Path,
                       sizeLimit: Int = DefaultSizeLimit) extends JournaledListener(journal) {
    private val server = new java.net.ServerSocket(port)
    def localPort: Int = server.getLocalPort

    def close(): Unit = stopAccepting(server)

    /** Read one space- or newline-terminated decimal token. */
    private def readToken(in: java.io.InputStream): (String, Int) = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      while (c != -1 && c != ' ' && c != '\n') { sb.append(c.toChar); c = in.read() }
      if (c == -1 && sb.length() == 0) throw new java.io.EOFException
      (sb.toString, c)
    }

    private def respond(out: java.io.OutputStream, txnr: Long,
                        data: String): Unit = {
      val d = data.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val head = s"$txnr rsp ${d.length} "
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.write(head); out.write(d); out.write('\n'); out.flush()
    }

    /** One RELP session, until `close` or the end of the stream. */
    private def session(sock: java.net.Socket): Unit = {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      var running = true
      while (running) {
        val (txnrS, _) = readToken(in)
        val txnr = txnrS.toLong
        val (cmd, _) = readToken(in)
        val (lenS, lenDelim) = readToken(in)
        val len = lenS.toInt
        require(len <= sizeLimit,
          s"relp frame of $len B exceeds size limit $sizeLimit")
        val data = new Array[Byte](len)
        if (in.readNBytes(data, 0, len) < len) throw new java.io.EOFException
        // trailer: frames with data still end in '\n'; a zero-length
        // frame's token delimiter WAS the trailer
        if (len > 0 || lenDelim == ' ') in.read()
        cmd match {
          case "open" =>
            // offers: accept any relp_version, answer with ours —
            // 200 OK line, then the offer set (spec response form)
            respond(out, txnr,
              "200 OK\nrelp_version=0\nrelp_software=graft\ncommands=syslog")
          case "syslog" =>
            val line = new String(data,
              java.nio.charset.StandardCharsets.UTF_8).replace("\n", " ")
            append(line + "\n") // journal BEFORE ack: ack implies durable
            respond(out, txnr, "200 OK")
          case "close" =>
            respond(out, txnr, "200 OK")
            running = false
          case other =>
            // unknown command: RELP answers 500 and carries on
            respond(out, txnr, s"500 unknown command $other")
        }
      }
    }

    acceptLoop(s"relp-$port", () => server.accept())(session)
  }

  def ensureListener(port: Int, journal: Path): Listener =
    Listeners.ensure(endpoint(port), "journal" -> journal)(new Listener(port, journal))

  protected def listen(port: Int, journal: Path, options: CaseInsensitiveStringMap): Listener =
    ensureListener(port, journal)
}
