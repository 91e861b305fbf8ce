package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Dev tool: warm min-of-N timing for named queries (or `all`), split by
  * layer — the per-query feedback loop between full Bench runs.
  * `SPARK_GRAFT_SF_DIR=... runMain graft.MicroBench <all|q1,q2,…> [reps]`
  *
  * Each query runs reps + 1 times (the first absorbs codegen). One line
  * per query: the warm min, and for that fastest rep the driver-side
  * DataFrame construction (where the index lifecycle's listings and
  * leases run), Catalyst planning (`queryExecution.executedPlan`), the
  * action, the wall of the Spark jobs it started, and its whole-stage
  * codegen compiles.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val which = if (args.nonEmpty) args(0) else "all"
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    System.setProperty("graft.sf.dir", sfDir)
    val spark = SparkEntry.localSession(SparkEntry.cpus)
    val sc = spark.sparkContext
    val names =
      if (which == "all") SparkEntry.queries.keys.toSeq.sorted
      else which.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    // job wall (ms) per job group; each rep runs in its own group
    val started = new ConcurrentHashMap[Int, (String, Long)]()
    val jobWall = new ConcurrentHashMap[String, Long]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.put(e.jobId, (g, e.time)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (g, t0) =>
          jobWall.merge(g, e.time - t0, (a: Long, b: Long) => a + b)
        }
    })
    // the listener bus delivers events in order: once a marker job's end
    // has arrived, so has every earlier job's
    def settle(tag: String): Unit = {
      sc.setJobGroup(tag, "settle")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!jobWall.containsKey(tag) && System.nanoTime() < deadline)
        Thread.sleep(5)
    }

    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    final case class Rep(group: String, wall: Double, construct: Double,
                         plan: Double, action: Double, compiles: Long)
    names.foreach { name =>
      try {
        val fn = SparkEntry.queries(name)
        val runs = (0 to reps).map { i =>
          val group = s"micro:$name:$i"
          sc.setJobGroup(group, name)
          val cg0 = cg.getCount
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan
            val t2 = System.nanoTime()
            df.count()
            val t3 = System.nanoTime()
            Rep(group, (t3 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
              (t3 - t2) / 1e6, cg.getCount - cg0)
          } finally { sc.clearJobGroup(); spark.catalog.clearCache() }
        }
        settle(s"micro:$name:settle")
        val best = runs.tail.minBy(_.wall)
        val wall = jobWall.getOrDefault(best.group, 0L)
        val all = runs.map(r => f"${r.wall}%.1f").mkString(",")
        println(f"[micro] $name warmMin=${best.wall}%.1f ms | fastest rep: " +
          f"construct=${best.construct}%.1f plan=${best.plan}%.1f " +
          f"action=${best.action}%.1f jobWall=$wall%d ms " +
          f"cgCompiles=${best.compiles}%d | all=$all ms")
      } catch { case e: Exception =>
        println(s"[micro] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
