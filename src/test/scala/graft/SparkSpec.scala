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

  /** The root paths of each file relation `df` reads, in plan order: the
    * directories (or files) its file index was built over.
    */
  protected def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        r.location.rootPaths.map(_.toString)
    }

  /** The shard directories of the base postings scans in `df`, each scan's
    * as one set of shard numbers (segment and tombstone reads excluded).
    */
  protected def baseShardScans(df: org.apache.spark.sql.DataFrame,
                               table: String): Seq[Set[Int]] =
    scanRoots(df).filter(r => r.nonEmpty && r.forall(_.matches(s".*/$table(\\.v\\d+)?/shard=\\d+")))
      .map(_.map(_.split("shard=").last.toInt).toSet)

  /** The shard of each BM25 query term at `nShards` (`String.hashCode`
    * mod nShards, as the index writes it).
    */
  protected def bm25QueryShards(queries: Seq[(String, String)], nShards: Int): Set[Int] =
    queries.flatMap(q => graft.operators.Bm25.queryTerms(q._2))
      .map(t => math.floorMod(t.hashCode, nShards)).toSet
}

object SparkSpec {
  /** The entry points' own session, so a conf dropped from the shared
    * builder shows up in the suites.
    */
  lazy val session: SparkSession = SparkEntry.localSession(4)
}
