package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** After each test: a streaming query the test left running is stopped,
    * and the test fails naming it. The session is shared by every suite, so
    * such a query would run its batches under later tests.
    */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val outcome = super.withFixture(test)
    val left = SparkSession.getDefaultSession.toSeq.flatMap(_.streams.active.toSeq)
    left.foreach(_.stop())
    if (left.isEmpty || !outcome.isSucceeded) outcome
    else org.scalatest.Failed("streaming queries still active after the test, now stopped: " +
      left.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
  }

  /** `body`'s result and the number of Spark jobs it started that `counted`
    * accepts. The listener bus is drained before and after `body`, so no
    * job of an earlier test is counted and none of `body`'s is missed.
    */
  def jobsOf[T](body: => T, counted: SparkListenerJobStart => Boolean = _ => true): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e)) { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.ListenerDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
