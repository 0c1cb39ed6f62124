package graft.sources

import java.nio.file.Path
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Logstash `udp` input (logstash-input-udp, a default plugin; also the
  * syslog input's datagram transport) as a journaled listener source (see
  * [[JournaledListener]]).
  *
  *   spark.readStream.format("graft.sources.UdpSource")
  *     .option("port", 5140)
  *     .option("journal", "/shared/udp-5140.journal")   // optional
  *     .load()  // -> (offset BIGINT, message STRING)
  *
  * One event per datagram, with embedded newlines splitting into multiple
  * events exactly like the reference udp input's per-datagram line codec.
  * With `frames => base64` (the binary codecs: gelf, collectd, netflow, ...)
  * each whole datagram is journaled as one base64 line instead. A datagram
  * larger than the receive buffer is truncated by UDP itself (the
  * transport's own size contract), so the buffer bound (`size_limit`,
  * default 64 KiB = the UDP maximum) is memory-safe by construction.
  */
class UdpSource extends ListenerSource(UdpSource.table)

object UdpSource extends PortListeners("udp") {

  val DefaultSizeLimit: Int = 64 * 1024 // the UDP datagram maximum

  /** Receives datagrams on `port` and journals each one's non-empty lines
    * (or, with `base64Frames`, the whole datagram as one base64 line).
    */
  final class Listener(port: Int, journal: Path,
                       sizeLimit: Int = DefaultSizeLimit,
                       base64Frames: Boolean = false) extends JournaledListener(journal) {
    private val socket = new java.net.DatagramSocket(port)
    def localPort: Int = socket.getLocalPort

    private val loop = new Thread(() => {
      val buf = new Array[Byte](sizeLimit)
      while (!closed) {
        try {
          val pkt = new java.net.DatagramPacket(buf, buf.length)
          socket.receive(pkt)
          if (base64Frames) {
            // binary-codec mode (e.g. gelf): journal the WHOLE datagram as
            // one base64 line — line-framed for the FileTail machinery,
            // byte-safe for compressed/chunked frames
            val raw = java.util.Arrays.copyOfRange(
              pkt.getData, pkt.getOffset, pkt.getOffset + pkt.getLength)
            if (raw.nonEmpty)
              append(java.util.Base64.getEncoder.encodeToString(raw) + "\n")
          } else {
            val text = new String(pkt.getData, pkt.getOffset, pkt.getLength,
              java.nio.charset.StandardCharsets.UTF_8)
            val lines = text.split("\n").filter(_.nonEmpty)
            if (lines.nonEmpty) append(lines.mkString("", "\n", "\n"))
          }
        } catch { case _: Throwable => () }
      }
    }, s"graft-udp-recv-$port")
    loop.setDaemon(true)
    loop.start()

    def close(): Unit = { closed = true; socket.close(); loop.join() }
  }

  /** Idempotently start the listener for `port` journaling to `journal`;
    * a request that differs from the live listener's settings (journal,
    * size limit or framing) fails loudly.
    */
  def ensureListener(port: Int, journal: Path,
                     sizeLimit: Int = DefaultSizeLimit,
                     base64Frames: Boolean = false): Listener =
    Listeners.ensure(endpoint(port), "journal" -> journal, "size_limit" -> sizeLimit,
      "frames" -> (if (base64Frames) "base64" else "line"))(
      new Listener(port, journal, sizeLimit, base64Frames))

  protected def listen(port: Int, journal: Path, options: CaseInsensitiveStringMap): Listener =
    ensureListener(port, journal, options.getInt("size_limit", DefaultSizeLimit),
      "base64".equalsIgnoreCase(options.getOrDefault("frames", "line")))
}
