package graft.sources

import java.util
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The journal machinery shared by the network inputs (tcp, udp, unix,
  * relp, beats, http); each source keeps only its wire protocol.
  *
  * A socket is not replayable, so exactly-once needs the reference's own
  * architecture: ingest -> durable queue -> workers (every Logstash input
  * pushes into one persistent queue). Here the queue is a line-framed
  * JOURNAL file. A listener (a driver-side daemon, one per endpoint) decodes
  * its protocol and appends one line per event to the journal; the
  * micro-batch stream then reads byte-offset DELTAS of the journal through
  * [[FileTailScan]], with the same sincedb-style offsets as
  * [[FileTailSource]]. A restarted query replays from the committed journal
  * offset, so received events are never lost or duplicated, even across
  * crashes: the persistent-queue guarantee. Protocols that ack (beats,
  * relp, http) ack only after the append returns, so an ack implies the
  * event is journaled. At cluster scale the journal lives on shared storage
  * and the listener on the driver (a reference network input is likewise
  * a single socket owner feeding the queue).
  *
  * The pieces, one of each:
  *  - [[JournaledListener]]: owns the journal path and its `append`, the
  *    accept loop of the stream protocols and the tcp/unix line framer;
  *  - [[Listeners]]: the process-wide registry of live listeners, keyed by
  *    endpoint ("tcp port 5140", "unix socket /run/app.sock");
  *  - [[ListenerSource]] and [[ListenerTable]]: the DSv2 provider and table.
  *    Planning a scan starts (or joins) the listener; the scan itself is a
  *    [[FileTailScan]] of the journal (batch splits and micro-batch byte
  *    deltas), with schema `(offset BIGINT, message STRING)`;
  *  - [[PortListeners]]: what the port-bound sources' companions share.
  */
abstract class JournaledListener(journal: Path) {
  @volatile protected var closed = false
  def journalPath: Path = journal
  def close(): Unit

  /** Append under the listener's lock: open, append and close on every
    * call, so the bytes are in the file when it returns (an ack may follow)
    * and a journal deleted between runs is simply created again.
    */
  protected final def append(lines: String): Unit = synchronized {
    Files.writeString(journal, lines,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private var acceptor: Thread = _

  /** Accept connections on a daemon thread until [[stopAccepting]]; each
    * connection is served on a daemon thread of its own and closed after.
    * A connection that fails ends; the listener keeps accepting. Call it
    * last in the constructor, once the server is bound.
    */
  protected final def acceptLoop[C <: java.io.Closeable](name: String,
      accept: () => C)(serve: C => Unit): Unit = {
    acceptor = new Thread(() => {
      while (!closed) {
        try {
          val conn = accept()
          val t = new Thread(() => {
            try serve(conn)
            catch { case scala.util.control.NonFatal(_) => () }
            finally conn.close()
          }, s"graft-$name-conn")
          t.setDaemon(true); t.start()
        } catch { case _: Throwable => () }
      }
    }, s"graft-$name-accept")
    acceptor.setDaemon(true)
    acceptor.start()
  }

  /** Close the server and wait for the accept loop to end: a thread blocked
    * in `accept` holds the socket until it wakes, so only then is the
    * endpoint free for a new listener.
    */
  protected final def stopAccepting(server: java.io.Closeable): Unit = {
    closed = true; server.close(); acceptor.join()
  }

  /** The tcp/unix line framer: journal each '\n'-terminated line of `in`.
    * A line past `sizeLimit` bytes stops buffering at once (memory stays
    * bounded at `sizeLimit` per connection), is dropped at its newline and
    * counted in `dropped`. The end of the stream flushes a final
    * unterminated line (the reference line codec's flush-on-close: a client
    * sending "foo" then closing must not lose the event).
    */
  protected final def appendLines(stream: java.io.InputStream, sizeLimit: Int,
                                  dropped: java.util.concurrent.atomic.AtomicLong): Unit = {
    val in = new java.io.BufferedInputStream(stream)
    val buf = new java.io.ByteArrayOutputStream()
    var over = false
    var b = in.read()
    while (b != -1) {
      if (b == '\n') {
        if (over) dropped.incrementAndGet()
        else append(buf.toString("UTF-8") + "\n")
        buf.reset(); over = false
      } else if (!over) {
        if (buf.size >= sizeLimit) { over = true; buf.reset() }
        else buf.write(b)
      }
      b = in.read()
    }
    if (buf.size > 0 && !over) append(buf.toString("UTF-8") + "\n")
    else if (over) dropped.incrementAndGet()
  }
}

/** The live listeners, process-wide, keyed by endpoint. A request for a
  * live endpoint joins its listener only when it asks for the same
  * settings; any difference (journal, size limit, framing, ...) fails
  * loudly, naming the setting and the endpoint. Keeping the first
  * listener's settings in silence would, for a different journal, make the
  * new source read an empty path with no error.
  */
private[sources] object Listeners {
  private val live =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[(String, Any)], JournaledListener)]

  def ensure[L <: JournaledListener](endpoint: String, settings: (String, Any)*)(
      start: => L): L = {
    val (had, l) = live.getOrElseUpdate(endpoint, (settings, start))
    for (((key, was), (_, want)) <- had.zip(settings) if was != want)
      throw new IllegalArgumentException(s"$endpoint already listens with " +
        s"$key = $was, not $want — stopListener first or request the same $key")
    l.asInstanceOf[L]
  }

  def stop(endpoint: String): Unit = live.remove(endpoint).foreach(_._2.close())

  def defaultJournal(kind: String, id: String): Path =
    Paths.get(sys.props("java.io.tmpdir"), s"graft_${kind}_$id.journal")
}

/** The companion base of the port-bound sources (tcp, udp, relp, beats,
  * http): the endpoint of a port, its `stopListener` and `defaultJournal`,
  * and the table over a `port` option (default 0, an ephemeral port).
  */
abstract class PortListeners(kind: String) {
  protected final def endpoint(port: Int): String = s"$kind port $port"

  def stopListener(port: Int): Unit = Listeners.stop(endpoint(port))

  def defaultJournal(port: Int): Path = Listeners.defaultJournal(kind, port.toString)

  /** Start (or join) the listener a table over `options` asks for. */
  protected def listen(port: Int, journal: Path,
                       options: CaseInsensitiveStringMap): JournaledListener

  private[sources] def table(options: CaseInsensitiveStringMap): Table = {
    val port = options.getInt("port", 0)
    new ListenerTable(kind, port.toString, options, defaultJournal(port))(
      listen(port, _, options))
  }
}

/** The DSv2 provider of every listener source; `table` builds its table. */
abstract class ListenerSource(table: CaseInsensitiveStringMap => Table)
  extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FileTailSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    table(new CaseInsensitiveStringMap(properties))
}

/** A listener source's table: the `journal` option (else `defaultJournal`)
  * is the journal; planning a scan runs `listen` on it, then reads it as a
  * tailed file.
  */
private[sources] final class ListenerTable(kind: String, endpoint: String,
    options: CaseInsensitiveStringMap, defaultJournal: Path)(
    listen: Path => JournaledListener) extends Table with SupportsRead {

  private val journal = Option(options.get("journal"))
    .map(Paths.get(_)).getOrElse(defaultJournal)

  override def name(): String = s"graft_$kind($endpoint -> $journal)"
  override def schema(): StructType = FileTailSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    listen(journal)
    val merged = new util.HashMap[String, String](options)
    merged.putAll(opts)
    merged.put("path", journal.toString)
    new FileTailScan(new CaseInsensitiveStringMap(merged))
  }
}
