package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** The `engine` layer, observed from outside: a SparkListener registered in
  * the traced run only. It keeps the intervals, task metrics and stage task
  * run times of the jobs started inside [[Ctx.timed]] since the last
  * [[reset]]; jobs of the correctness checks are not counted.
  */
final class EngineListener extends SparkListener {
  import EngineListener.Task

  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val timedStages = mutable.Set.empty[Int]
  private val jobs = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val rddBlocks = mutable.Set.empty[String]
  private var cachedBytes = 0L

  def reset(): Unit = synchronized {
    jobStart.clear(); jobs.clear(); tasks.clear(); timedStages.clear()
    cachedBytes = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.Timed)))
    phase.foreach { p =>
      jobStart(e.jobId) = (p, e.time)
      timedStages ++= e.stageIds
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (p, t0) => jobs += ((p, t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && timedStages(e.stageId)) tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      if (size == 0) rddBlocks.remove(info.blockId.name)
      else if (rddBlocks.add(info.blockId.name)) cachedBytes += size
    }
  }

  /** Everything observed since [[reset]]; `wallS` gives the timed driver
    * time of each phase, run on `cores` task slots. Waits for the listener
    * bus first.
    */
  def snapshot(sc: org.apache.spark.SparkContext, wallS: Map[String, Double], cores: Int): EngineStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      def gap(p: String) =
        math.max(0.0, wallS(p) - Span.covered(jobs.filter(_._1 == p).map(j => (j._2, j._3)).toSeq) / 1e3)
      val wall = wallS.values.sum
      // widest reduce stage: the shuffle-reading stage with the most tasks
      val reduceStages = tasks.filter(_.shuffleRead > 0).groupBy(_.stage)
      val skew = if (reduceStages.isEmpty) 0.0 else {
        val widest = reduceStages.values.maxBy(_.size).map(_.runMs.toDouble)
        val med = Stats.median(widest.toSeq)
        if (med > 0) widest.max / med else 0.0
      }
      EngineStats(
        jobs = jobs.size, tasks = tasks.size,
        busyRatio = tasks.map(_.runMs).sum / 1e3 / (wall * cores),
        cpuS = tasks.map(_.cpuNs).sum / 1e9, gcS = tasks.map(_.gcMs).sum / 1e3,
        driverGapS = wallS.keys.toSeq.map(gap).sum,
        phaseJobs = wallS.keys.map(p => p -> jobs.count(_._1 == p)).toMap,
        phaseGapS = wallS.keys.map(p => p -> gap(p)).toMap,
        shuffleWrite = tasks.map(_.shuffleWrite).sum, shuffleRead = tasks.map(_.shuffleRead).sum,
        spill = tasks.map(_.spill).sum, bytesRead = tasks.map(_.bytesRead).sum,
        skewRatio = skew, cachedBytes = cachedBytes)
    }
  }
}

object EngineListener {
  /** Local property that marks the jobs of a timed operation with its phase. */
  val Timed = "perfbench.timed"

  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        bytesRead: Long)
}

final case class EngineStats(jobs: Int, tasks: Int, busyRatio: Double, cpuS: Double,
                             gcS: Double, driverGapS: Double,
                             phaseJobs: Map[String, Int], phaseGapS: Map[String, Double],
                             shuffleWrite: Long,
                             shuffleRead: Long, spill: Long, bytesRead: Long,
                             skewRatio: Double, cachedBytes: Long)
