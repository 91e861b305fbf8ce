package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** An output check: the engine's answer next to its reference. The
  * comparison itself happens in run.py (`checks.compare`), so one tested
  * function decides pass or fail for every workload.
  */
final case class Check(name: String, got: Seq[String], want: Seq[String])

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, rec: Recorder, plan: JValue,
                     inputs: String, scratch: String, out: String, cpus: Int) {
  implicit val formats: Formats = DefaultFormats
  def dir(name: String): String = s"$scratch/$name"
}

trait Workload {
  /** One complete set-up into fresh directories. The first, cold one is
    * the set-up time a user waits for.
    */
  def setup(rep: Int): Unit
  /** Untimed work after the cold set-up that warms the JVM on the timed
    * code paths and leaves the state the timed phase measures: by default
    * a second set-up. Ops it records are dropped.
    */
  def warmup(): Unit = setup(2)
  /** Issue ops in a closed loop (one client, next op after the previous
    * one returns) until `deadlineNs`, then finish the pass or batch in
    * flight.
    */
  def run(deadlineNs: Long): Unit
  /** Output checks, computed after the timed phase. */
  def checks(): Seq[Check]
  /** Figures only the workload knows (docs curated, index bytes, ...). */
  def extra(): Map[String, Any] = Map.empty
}

object Main {
  /** Rows as comparable strings (columns joined by `|`). */
  def rowStrings(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|"))
  def rowStrings(df: DataFrame): Seq[String] = rowStrings(df.collect().toSeq)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val (inputs, scratch, out) = (opt("inputs"), opt("scratch"), opt("out"))
    val cpus = Runtime.getRuntime.availableProcessors()
    Jvm.install()

    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the traced run's counting filesystem must replace any local FS
    // instance cached before the session's Hadoop conf was applied
    if (traced) org.apache.hadoop.fs.FileSystem.closeAll()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val plan = JsonMethods.parse(new java.io.File(s"$inputs/plan.json"))
    val rec = new Recorder(spark, traced)
    val ctx = Ctx(spark, rec, plan, inputs, scratch, out, cpus)
    val wl: Workload = workload match {
      case "query_mix"    => new QueryMix(ctx)
      case "index_ingest" => new IndexIngest(ctx)
      case w => sys.error(s"unknown workload $w")
    }

    def elapsedS(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Seq(elapsedS(wl.setup(1)), elapsedS(wl.warmup()))
    rec.ops.clear()
    System.gc()
    val gc0 = Jvm.gcMs
    val cg0 = codegen()
    val t0 = System.nanoTime()
    val timedStartNs = rec.nowNs
    wl.run(t0 + (seconds * 1e9).toLong)
    val timedEndNs = rec.nowNs
    val timedS = (System.nanoTime() - t0) / 1e9
    val cg1 = codegen()
    val gcMs = Jvm.gcMs - gc0
    System.gc()
    val heapPeak = Jvm.peakAfterGcBytes
    rec.drain()

    val c0 = System.nanoTime()
    val checks = wl.checks()
    val extra = wl.extra()
    val checksS = (System.nanoTime() - c0) / 1e9
    implicit val formats: Formats = DefaultFormats
    val result = Map(
      "workload" -> workload, "cpus" -> cpus, "traced" -> traced,
      "session_s" -> sessionS, "setup_s" -> setupS, "timed_s" -> timedS, "checks_s" -> checksS,
      "timed_start_ns" -> timedStartNs, "timed_end_ns" -> timedEndNs,
      "gc_ms" -> gcMs, "heap_peak_mb" -> heapPeak / 1048576.0,
      "codegen_compiles" -> (cg1._1 - cg0._1),
      "codegen_compile_ms" -> (cg1._2 - cg0._2) / 1e6,
      "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "group" -> o.group,
        "start_ns" -> o.startNs, "ms" -> o.ms, "error" -> o.error.orNull,
        "fs" -> o.fsDelta)),
      "checks" -> checks.map(c => Map("name" -> c.name, "got" -> c.got, "want" -> c.want)),
      "extra" -> extra,
      "spans" -> rec.spanRecords, "jobs" -> rec.jobRecords,
      "phases" -> rec.phaseRecords)
    val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try w.write(Serialization.write(result)) finally w.close()
    spark.stop()
  }

  /** (compilations, compile ns) of generated code so far in this JVM. */
  private def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
