package graft.sources

import java.nio.file.Path
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Logstash `beats` input as a journaled listener source (see
  * [[JournaledListener]]), speaking the PUBLIC lumberjack v2 wire protocol
  * (the Beats transport; spec published with elastic/go-lumber and the
  * beats protocol docs — implementation here is original, written from the
  * framing rules):
  *
  *   frame  = version '2' + type byte
  *   'W'    window size: uint32 count (events before the client expects ack)
  *   'J'    json data:   uint32 seq, uint32 len, payload (one event as JSON)
  *   'D'    data:        uint32 seq, uint32 npairs, then per pair
  *                       uint32 klen + key, uint32 vlen + value
  *   'C'    compressed:  uint32 len, zlib payload of concatenated frames
  *   ack    server -> client: '2' 'A' uint32 seq (highest processed)
  *
  * ONE JSON LINE PER EVENT is journaled ('J' payloads verbatim, 'D' pairs
  * encoded as a flat JSON object), acked AFTER the journal append — ack
  * implies durable, the protocol's at-least-once contract. A `json` filter
  * (with schema) recovers the event fields downstream.
  */
class BeatsSource extends ListenerSource(BeatsSource.table)

object BeatsSource extends PortListeners("beats") {

  private def jsonEscape(s: String): String = graft.model.Json.escape(s)

  final class Listener(port: Int, journal: Path) extends JournaledListener(journal) {
    private val server = new java.net.ServerSocket(port)
    def localPort: Int = server.getLocalPort

    def close(): Unit = stopAccepting(server)

    private def sendAck(out: java.io.OutputStream, seq: Int): Unit = {
      val b = java.nio.ByteBuffer.allocate(6)
      b.put('2'.toByte).put('A'.toByte).putInt(seq)
      out.write(b.array()); out.flush()
    }

    private final class ConnState {
      var window: Int = 0
      var inWindow: Int = 0 // events since the last ack (a 'C' frame counts each inner event)
      var maxSeq: Int = 0
    }

    /** Decode one frame from `in`, journaling data events and updating the
      * connection's window counters (inner frames of a compressed batch each
      * count); throws EOFException at stream end.
      */
    private def handleFrame(in: java.io.DataInputStream,
                            state: ConnState): Unit = {
      in.readByte() // protocol version ('2'; v1 frames share the layout used here)
      in.readByte().toChar match {
        case 'W' =>
          state.window = in.readInt()
        case 'J' =>
          val seq = in.readInt()
          val len = in.readInt()
          val payload = new Array[Byte](len)
          in.readFully(payload)
          val line = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
            .replace("\n", " ") // journal is line-framed; payloads are one event
          append(line + "\n")
          state.maxSeq = math.max(state.maxSeq, seq); state.inWindow += 1
        case 'D' =>
          val seq = in.readInt()
          val n = in.readInt()
          val sb = new java.lang.StringBuilder("{")
          var i = 0
          while (i < n) {
            val k = new Array[Byte](in.readInt()); in.readFully(k)
            val v = new Array[Byte](in.readInt()); in.readFully(v)
            if (i > 0) sb.append(',')
            sb.append('"').append(jsonEscape(new String(k, "UTF-8"))).append("\":\"")
              .append(jsonEscape(new String(v, "UTF-8"))).append('"')
            i += 1
          }
          sb.append('}')
          append(sb.toString + "\n")
          state.maxSeq = math.max(state.maxSeq, seq); state.inWindow += 1
        case 'C' =>
          val len = in.readInt()
          val packed = new Array[Byte](len)
          in.readFully(packed)
          val inner = new java.io.DataInputStream(new java.util.zip.InflaterInputStream(
            new java.io.ByteArrayInputStream(packed)))
          try { while (true) handleFrame(inner, state) }
          catch { case _: java.io.EOFException => () }
        case other =>
          throw new java.io.IOException(s"unknown lumberjack frame type `$other`")
      }
    }

    /** Frames until the end of the stream, acking each filled window; the
      * end acks whatever the last window journaled.
      */
    private def session(sock: java.net.Socket): Unit = {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val out = sock.getOutputStream
      val state = new ConnState
      try {
        while (true) {
          handleFrame(in, state)
          // ack after the journal append once the window fills —
          // ack implies durable (at-least-once contract)
          if (state.window > 0 && state.inWindow >= state.window) {
            sendAck(out, state.maxSeq); state.inWindow = 0
          }
        }
      } catch {
        case _: java.io.EOFException =>
          if (state.inWindow > 0) sendAck(out, state.maxSeq)
      }
    }

    acceptLoop(s"beats-$port", () => server.accept())(session)
  }

  def ensureListener(port: Int, journal: Path): Listener =
    Listeners.ensure(endpoint(port), "journal" -> journal)(new Listener(port, journal))

  protected def listen(port: Int, journal: Path, options: CaseInsensitiveStringMap): Listener =
    ensureListener(port, journal)
}
