package graft.sources

import java.nio.file.Path
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Logstash `unix` input (logstash-input-unix, server mode) as a journaled
  * listener source (see [[JournaledListener]]) over an AF_UNIX stream
  * socket:
  *
  *   spark.readStream.format("graft.sources.UnixSource")
  *     .option("socket", "/var/run/app.sock")
  *     .option("journal", "/shared/app-sock.journal")   // optional
  *     .load()  // -> (offset BIGINT, message STRING)
  *
  * Line framing, the per-frame size cap (`size_limit`) and flush-on-close
  * are the tcp listener's ([[TcpSource.Listener]]). The reference plugin's
  * `force_unlink` option (remove a stale socket file before binding) is
  * honored — without it a leftover path fails loudly, like the reference's
  * "could not start UNIX server" error.
  */
class UnixSource extends ListenerSource(UnixSource.table)

object UnixSource {

  /** Accepts connections on the socket path and journals each received
    * line; closing removes the socket file.
    */
  final class Listener(socket: Path, journal: Path,
                       sizeLimit: Int = TcpSource.DefaultSizeLimit,
                       forceUnlink: Boolean = false) extends JournaledListener(journal) {
    if (forceUnlink) java.nio.file.Files.deleteIfExists(socket)
    private val server =
      java.nio.channels.ServerSocketChannel.open(java.net.StandardProtocolFamily.UNIX)
    server.bind(java.net.UnixDomainSocketAddress.of(socket))
    private val dropped = new java.util.concurrent.atomic.AtomicLong(0)
    def oversized: Long = dropped.get

    def close(): Unit = {
      stopAccepting(server)
      java.nio.file.Files.deleteIfExists(socket); ()
    }

    acceptLoop(s"unix-$socket", () => server.accept())(ch =>
      appendLines(java.nio.channels.Channels.newInputStream(ch), sizeLimit, dropped))
  }

  private def endpoint(socket: Path): String = s"unix socket $socket"

  /** Idempotently start the listener for `socket` journaling to `journal`;
    * a request that differs from the live listener's settings fails loudly.
    */
  def ensureListener(socket: Path, journal: Path,
                     sizeLimit: Int = TcpSource.DefaultSizeLimit,
                     forceUnlink: Boolean = false): Listener =
    Listeners.ensure(endpoint(socket), "journal" -> journal,
      "size_limit" -> sizeLimit, "force_unlink" -> forceUnlink)(
      new Listener(socket, journal, sizeLimit, forceUnlink))

  def stopListener(socket: Path): Unit = Listeners.stop(endpoint(socket))

  def defaultJournal(socket: Path): Path =
    Listeners.defaultJournal("unix", Integer.toHexString(socket.toString.hashCode))

  private[sources] def table(options: CaseInsensitiveStringMap): Table = {
    val socket = java.nio.file.Paths.get(Option(options.get("socket")).getOrElse(
      throw new IllegalArgumentException("unix source: socket path required")))
    new ListenerTable("unix", socket.toString, options, defaultJournal(socket))(
      ensureListener(socket, _, options.getInt("size_limit", TcpSource.DefaultSizeLimit),
        options.getBoolean("force_unlink", false)))
  }
}
