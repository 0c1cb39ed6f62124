package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics used for every reported timing. */
object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A percentile is reported only when at least ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size * 0.1 >= 10) Some(quantile(xs, 0.9)) else None
}

/** One timed interval at a layer boundary. `parent` is -1 for a root span.
  * Spans of one iteration share `trace` ("<workload>/<iteration>").
  */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its direct children (children may overlap each
    * other and may stick out of the parent; only the covered part counts).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - covered(clipped))
    }.toMap
  }

  /** Length of the union of half-open intervals (empty ones ignored). */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var a = 0L
    var b = Long.MinValue
    ivs.filter { case (x, y) => y > x }.sortBy(_._1).foreach { case (x, y) =>
      if (x > b) {
        if (b != Long.MinValue) total += b - a
        a = x; b = y
      } else b = math.max(b, y)
    }
    if (b != Long.MinValue) total += b - a
    total
  }
}

/** In-memory span recorder for the driver thread. Disabled, `span` only runs
  * the body; enabled, it records name, start, end, parent and trace id.
  * Nothing is written until [[write]] is called at exit.
  */
final class Tracer {
  var enabled = false
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var traceId = ""

  def inTrace[T](id: String)(body: => T): T = {
    val prev = traceId
    traceId = id
    try body finally traceId = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, traceId, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val self = Span.selfTimes(done.toSeq)
    val lines = done.sortBy(_.startNs).map { s =>
      s"""{"trace":${Json.q(s.trace)},"span":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
