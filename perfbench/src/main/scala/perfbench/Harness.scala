package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one benchmark process shares with its workload. */
final class Ctx(var spark: SparkSession, val seed: Long, val inputs: Path, val work: Path) {
  val tracer = new Tracer
  private var dirs = 0

  /** Traced wall seconds per phase since the last reset. */
  val phaseWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** In the traced run, odd iterations are traced and even ones are not, so
    * both kinds see the same warm-up drift.
    */
  var alternate = false

  def traceIteration(k: Int): Unit = tracer.enabled = alternate && k % 2 == 1

  /** Time `body` as part of `phase`. When traced, the jobs it starts are
    * marked with the phase for the engine listener.
    */
  def timed[T](phase: String)(body: => T): (T, Double) =
    if (!tracer.enabled) Io.time(body)
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(EngineListener.Timed, phase)
      try {
        val r = Io.time(body)
        phaseWall(phase) += r._2
        r
      } finally sc.setLocalProperty(EngineListener.Timed, null)
    }

  /** A fresh, never-used directory under this run's work dir. */
  def freshDir(tag: String): String = {
    dirs += 1
    work.resolve(f"$tag-$dirs%05d").toString
  }
}

/** Counts of operations and the samples of one run. Every operation either
  * passes all of its correctness checks or counts once as failed.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val iterS = mutable.ArrayBuffer.empty[Double]
  val tracedIterS = mutable.ArrayBuffer.empty[Double]
  val readS = mutable.ArrayBuffer.empty[Double]
  var rows = 0L
  var timedS = 0.0
  var sinkBytes = 0L
  var sinkFiles = 0L

  /** One iteration's time, kept apart when the iteration was traced. */
  def sample(traced: Boolean, s: Double): Unit = if (traced) tracedIterS += s else iterS += s

  def iterations: Int = iterS.size + tracedIterS.size

  /** Record one operation; `checks` are (passed, description) pairs. */
  def op(checks: Seq[(Boolean, String)]): Boolean = {
    attempted += 1
    val bad = checks.filterNot(_._1)
    bad.foreach(b => System.err.println(s"perfbench: check failed: ${b._2}"))
    if (bad.nonEmpty) failed += 1
    bad.isEmpty
  }

  /** Record an operation that threw instead of finishing. */
  def crashed(e: Throwable): Unit = {
    attempted += 1; failed += 1
    System.err.println(s"perfbench: operation failed: $e")
    e.printStackTrace()
  }
}

/** One reported metric: a value, its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Int)

/** One workload of the benchmark. */
trait Workload {
  def name: String

  /** Generate this seed's inputs under `ctx.inputs`. */
  def prepare(ctx: Ctx): Unit

  /** One set-up round: build the job from its inputs and run it once. */
  def setupRound(ctx: Ctx): Unit

  /** Set-up rounds per run; the later ones also warm the JVM up. */
  def setupRounds: Int = 3

  /** The timed operations for `seconds` of wall time, checks recorded in `out`. */
  def measure(ctx: Ctx, out: Outcome, seconds: Double): Unit

  /** Workload-specific metrics printed with the end-to-end ones (not bounded). */
  def extraMetrics(out: Outcome): Seq[(String, Metric)] = Nil

  /** Per-layer metrics after the traced loop `traced`, whose engine
    * counters are `eng`; the caller adds the engine and tracing metrics.
    */
  def layers(ctx: Ctx, traced: Outcome, eng: EngineStats): Map[String, Double]
}

/** A closed loop: the next operation starts when the previous one ends. */
trait ClosedLoop extends Workload {
  /** The `k`-th timed operation of a loop, with its checks recorded in `out`. */
  def iteration(ctx: Ctx, out: Outcome, k: Int): Unit

  def measure(ctx: Ctx, out: Outcome, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      ctx.traceIteration(k)
      ctx.tracer.inTrace(s"$name/$k")(iteration(ctx, out, k))
      k += 1
    }
    ctx.tracer.enabled = false
  }
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** (data files, bytes) under a directory, ignoring markers and checksums. */
  def dataFiles(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        s.filter(Files.isRegularFile(_)).forEach { f =>
          val name = f.getFileName.toString
          if (!name.startsWith(".") && !name.startsWith("_")) { n += 1; b += Files.size(f) }
        }
        (n, b)
      } finally s.close()
    }
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
