package graft.sources

import java.nio.file.Path
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Logstash `tcp` input as a journaled listener source (see
  * [[JournaledListener]]): one line per event.
  *
  *   spark.readStream.format("graft.sources.TcpSource")
  *     .option("port", 5140)
  *     .option("journal", "/shared/tcp-5140.journal")   // optional
  *     .option("size_limit", 1048576)                   // optional
  *     .load()  // -> (offset BIGINT, message STRING)
  */
class TcpSource extends ListenerSource(TcpSource.table)

object TcpSource extends PortListeners("tcp") {

  /** Default per-frame size cap, mirroring the reference BufferedTokenizer's
    * sizeLimit contract (common/BufferedTokenizerExt.java): a writer that
    * never sends a newline must not grow the accept buffer unboundedly.
    */
  val DefaultSizeLimit: Int = 1 << 20 // 1 MiB

  /** Accepts connections on `port` and journals each received line.
    *
    * Frame-size guard: a line exceeding `sizeLimit` bytes is DROPPED and
    * counts in [[oversized]] — the reference BufferedTokenizer raises
    * "input buffer full" and the event is lost to the DLQ-less tcp input;
    * dropping+counting is the journal analogue.
    */
  final class Listener(port: Int, journal: Path,
                       sizeLimit: Int = DefaultSizeLimit) extends JournaledListener(journal) {
    private val server = new java.net.ServerSocket(port)
    private val dropped = new java.util.concurrent.atomic.AtomicLong(0)
    def localPort: Int = server.getLocalPort
    /** Frames dropped for exceeding sizeLimit. */
    def oversized: Long = dropped.get

    def close(): Unit = stopAccepting(server)

    acceptLoop(s"tcp-$port", () => server.accept())(sock =>
      appendLines(sock.getInputStream, sizeLimit, dropped))
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
