package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: phase-by-phase anatomy of a dedup-index segment build —
  * what makes a micro-batch fold cost what it costs.
  */
object SegProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"[segprobe] documents rows=${docs.count()}")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[segprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val base = java.nio.file.Files.createTempDirectory("segprobe").toString
    // warm the pipeline once
    t("warm full build") {
      graft.operators.DedupOps.writeDedupIndex(docs, "doc_id", "text", 3,
        s"$base/warm")
    }
    t("warm full build 2") {
      graft.operators.DedupOps.writeDedupIndex(docs, "doc_id", "text", 3,
        s"$base/warm2")
    }
    // one-file input like a micro-batch
    val oneDir = s"$base/onefile"
    docs.filter(col("doc_id") % 3 === 1).select("doc_id", "text")
      .repartition(1).write.parquet(oneDir)
    val one = spark.read.parquet(oneDir)
    println(s"[segprobe] one-file batch rows=${one.count()}")
    t("segment build SHARDED (old path)") {
      graft.operators.DedupOps.writeDedupIndex(one, "doc_id", "text", 3,
        s"$base/seg1")
    }
    t("segment build UNPARTITIONED (segment path)") {
      graft.operators.DedupOps.writeDedupIndex(
        one.repartition(32), "doc_id", "text", 3,
        graft.operators.DedupOps.paths(s"$base/warm").segment(0))
    }
    t("segment build UNPARTITIONED x2") {
      graft.operators.DedupOps.writeDedupIndex(
        one.repartition(32), "doc_id", "text", 3,
        graft.operators.DedupOps.paths(s"$base/warm").segment(1))
    }
    val probeBatch = docs.filter(col("doc_id") % 10 === 0)
    t("check vs base only (warm2)") {
      graft.operators.DedupOps.dedupAgainstIndex(spark, s"$base/warm2",
        probeBatch, "doc_id", "text", 3, 0.5).count()
    }
    t("check vs base + 2 unpartitioned segments") {
      graft.operators.DedupOps.dedupAgainstIndex(spark, s"$base/warm",
        probeBatch, "doc_id", "text", 3, 0.5).count()
    }
    // read-amplification sweep: the LSM trade — reads degrade linearly
    // with accumulated segments, compaction restores the base cost
    val sweep = s"$base/sweep"
    graft.operators.DedupOps.writeDedupIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3, sweep)
    val segDocs = docs.filter(col("doc_id") % 2 === 1).cache()
    segDocs.count()
    var done = 0
    def checkMin(label: String): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.DedupOps.dedupAgainstIndex(spark, sweep,
          probeBatch, "doc_id", "text", 3, 0.5).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[segprobe] sweep $label: min=${ts.min}%.2f s")
    }
    checkMin("0 segments")
    Seq(4, 16, 32).foreach { target =>
      (done until target).foreach { i =>
        graft.operators.DedupOps.writeDedupIndex(
          segDocs.filter(pmod(col("doc_id"), lit(32)) === i), "doc_id",
          "text", 3, graft.operators.DedupOps.paths(sweep).segment(i))
      }
      done = target
      checkMin(s"$target segments")
    }
    t("compaction of 32 segments") {
      graft.operators.DedupOps.compactDedupIndex(spark, sweep)
    }
    checkMin("post-compaction")
    spark.stop()
  }
}
