package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine: the end-to-end latency metrics are
  * computed from these. `error` is the exception class and message of a
  * failed call; failures are counted, never dropped.
  */
final case class Op(kind: String, name: String, group: String, startNs: Long, ms: Double,
                    error: Option[String], fsDelta: Seq[Long])

/** Everything a run measures from outside the engine.
  *
  * Untraced, it only times ops. Traced, it also records a span around
  * each call into a layer (id, parent, request id, layer, name, start,
  * end), tags every Spark job the call launches with the span id as its
  * job group, takes filesystem counter deltas per op, and collects
  * per-job task metrics and per-query Catalyst phase times from
  * listeners. Spans stay in memory and are written once, at the end of
  * the run.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  /** epoch ns = System.nanoTime + offset; listener times are epoch ms */
  val offsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs

  val ops = ArrayBuffer.empty[Op]
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Long] = Nil
  private var nextId = 0L
  private var request = 0L
  /** Ops recorded while set share it: the calls of one unit of work (an
    * ingest batch); empty for ops that are a unit on their own.
    */
  var group = ""

  private def fsCounters: Seq[Long] = {
    val (br, bw) = CountingFs.bytes()
    Seq(CountingFs.reads.get, CountingFs.lists.get, CountingFs.stats.get,
      CountingFs.writes.get, br, bw)
  }

  /** Time `body` as a span of `layer`; a no-op wrapper when not tracing. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!traced) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(id.toString, s"$layer:$name", interruptOnCancel = false)
      val t0 = nowNs
      try body
      finally {
        val t1 = nowNs
        spans += Map("id" -> id, "parent" -> parent, "req" -> request,
          "layer" -> layer, "name" -> name, "start_ns" -> t0, "end_ns" -> t1)
        stack = stack.tail
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(parent.toString, "", interruptOnCancel = false)
      }
    }

  /** One timed op (a query, a pipeline stage, a lifecycle call, a
    * search): a root span of layer "bench" whose duration is the op
    * latency. A failed op is recorded with its exception class and
    * message, and the exception propagates to the caller.
    */
  def opValue[T](kind: String, name: String)(body: => T): T = {
    request += 1
    val fs0 = if (traced) fsCounters else Nil
    val t0 = System.nanoTime()
    def done(err: Option[String]): Unit = {
      val ms = (System.nanoTime() - t0) / 1e6
      val fs = if (traced) fsCounters.zip(fs0).map { case (a, b) => a - b } else Nil
      ops += Op(kind, name, group, t0 + offsetNs, ms, err, fs)
    }
    try { val v = span("bench", s"$kind:$name")(body); done(None); v }
    catch {
      case e: Throwable =>
        done(Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse("")}"))
        throw e
    }
  }

  /** [[opValue]] for a loop that carries on past a failed op: the failure
    * is recorded and printed, and the op is returned.
    */
  def op(kind: String, name: String)(body: => Unit): Op = {
    try opValue(kind, name)(body)
    catch { case e: Throwable => System.err.println(s"[perfbench] $kind $name failed:"); e.printStackTrace() }
    ops.last
  }

  // ---- listeners: jobs (task metrics) and Catalyst phases -------------

  private final class JobRec(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs = 0L
    val tasks, cpuNs, runMs, gcMs, shRead, shWrite, spill, inBytes, outBytes =
      new AtomicLong()
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val seenPhases = ConcurrentHashMap.newKeySet[(Int, String)]()

  if (traced) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        jobs.put(e.jobId, new JobRec(e.jobId, g, e.time))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
        val m = e.taskMetrics
        if (j != null && m != null) {
          j.tasks.incrementAndGet()
          j.cpuNs.addAndGet(m.executorCpuTime)
          j.runMs.addAndGet(m.executorRunTime)
          j.gcMs.addAndGet(m.jvmGCTime)
          j.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          j.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          j.inBytes.addAndGet(m.inputMetrics.bytesRead)
          j.outBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val key = System.identityHashCode(qe)
        qe.tracker.phases.foreach { case (phase, s) =>
          if (seenPhases.add((key, phase)))
            phases.add(Map("phase" -> phase, "start_ms" -> s.startTimeMs,
              "end_ms" -> s.endTimeMs))
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  /** Wait (bounded) until every started job has ended and the listener
    * queue has delivered it, so the written job list is complete.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobs.values.asScala.exists(_.endMs == 0L) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq
  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("job" -> j.id, "group" -> Option(j.group).getOrElse(""),
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks.get,
      "cpu_ns" -> j.cpuNs.get, "run_ms" -> j.runMs.get, "gc_ms" -> j.gcMs.get,
      "shuffle_read" -> j.shRead.get, "shuffle_write" -> j.shWrite.get,
      "spill" -> j.spill.get, "input_bytes" -> j.inBytes.get,
      "output_bytes" -> j.outBytes.get)
  }
  def phaseRecords: Seq[Map[String, Any]] = phases.asScala.toSeq
}

/** JVM-level gauges: total GC time and the peak old-generation use left
  * after any collection of the run, set-up and warm-up included (from GC
  * notifications, so it is a post-GC figure, not a sample of garbage that
  * happened to be around). Young pools (eden, survivor) and non-heap pools
  * (metaspace, code cache) are left out.
  */
object Jvm {
  private val peakAfterGc = new AtomicLong()
  private lazy val oldGenPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden") &&
      !p.getName.contains("Survivor"))
    .map(_.getName).toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if oldGenPools(pool) => u.getUsed }.sum
            peakAfterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }, null, null)
      case _ => ()
    }

  def peakAfterGcBytes: Long = peakAfterGc.get
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
