package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single-session base for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs started while it ran. A marker
    * job afterwards flushes the listener queue, which delivers events in
    * order, so every job `body` started has been counted by then.
    */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val marker = s"jobs-during-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          flushed.countDown()
        else if (flushed.getCount > 0) seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      spark.sparkContext.setJobGroup(marker, "flush", interruptOnCancel = false)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, seen.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  /** The entry points' own session, so a conf dropped from the shared
    * builder shows up in the suites.
    */
  lazy val session: SparkSession = SparkEntry.localSession(4)
}
