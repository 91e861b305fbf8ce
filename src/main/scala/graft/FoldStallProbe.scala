package graft

import graft.operators.{BqIndex, DedupOps, IndexLayout, PortableAnn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: price the `*Maintained` IN-THREAD fold stall. The
  * fold-inside-foreachBatch placement is the consistency design (batch
  * serialization structurally excludes fold-vs-replay races, see
  * `StreamingOps.streamDedupIndexMaintained`), and its cost is the
  * standard LSM ingestion trade: a fold batch blocks the stream for the
  * fold's duration; tighter thresholds buy smaller, more frequent
  * folds. This probe runs the EXACT foreachBatch body the maintained
  * streams run — segment write, planner consult, planner-gated fold —
  * over N fixed-size micro-batches per threshold setting, for the
  * heaviest fold (dedup: shingle re-shard) and the lightest (BQ: 8 B
  * codes), and reports ingest-only vs fold-batch wall so the default
  * `maxLiveSegments = 8` is evidence, not a guess.
  *
  * `runMain graft.FoldStallProbe [nBatches] [maxLiveSegments list]`,
  * default `16 2,4,8,16`.
  */
object FoldStallProbe {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.nonEmpty) args(0).toInt else 16
    val settings = (if (args.length > 1) args(1) else "2,4,8,16")
      .split(",").map(_.trim.toInt).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
      .localCheckpoint()
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), PortableAnn.quant(col("embedding")).as("qv"))
      .localCheckpoint()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def report(tag: String, maxSeg: Int, walls: Seq[(Double, Boolean)])
        : Unit = {
      val (foldW, ingW) = walls.partition(_._2)
      def mean(xs: Seq[Double]) =
        if (xs.isEmpty) 0.0 else xs.sum / xs.length
      println(f"[foldstall] $tag maxLiveSegments=$maxSeg " +
        f"batches=${walls.length} folds=${foldW.length} " +
        f"ingestMean=${mean(ingW.map(_._1))}%.2fs " +
        f"foldMean=${mean(foldW.map(_._1))}%.2fs " +
        f"foldMax=${foldW.map(_._1).foldLeft(0.0)(math.max)}%.2fs " +
        f"total=${walls.map(_._1).sum}%.2fs")
    }

    settings.foreach { maxSeg =>
      val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = maxSeg)

      // dedup — the heaviest fold (shingle re-shard + fingerprint merge)
      val ddDir = Scratch.dir(s"foldstall_dd_$maxSeg")
      DedupOps.writeDedupIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", 3, ddDir)
      val ddWalls = (0 until nBatches).map { b =>
        val batch = docs
          .filter(col("doc_id") % 2 === 1 &&
            pmod(col("doc_id"), lit(nBatches * 2)) === (2 * b + 1))
          .select((col("doc_id") + (b + 1).toLong * 10000000L).as("doc_id"),
            col("text"))
        var folded = false
        val w = time {
          DedupOps.writeDedupIndex(batch, "doc_id", "text", 3,
            DedupOps.paths(ddDir).segment(b), 256)
          folded = IndexLayout.cycle(DedupOps.maintenancePlan(spark, ddDir, t),
            (), () => DedupOps.compactDedupIndex(spark, ddDir, "doc_id"))
            ._1.acted.nonEmpty
        }
        (w, folded)
      }
      report("dedup", maxSeg, ddWalls)

      // BQ — the lightest fold (8 B/vector code table)
      val bqDir = Scratch.dir(s"foldstall_bq_$maxSeg")
      BqIndex.writeIndex(vecs.filter(col("vec_id") % 2 === 0),
        "vec_id", "qv", bqDir)
      val bqWalls = (0 until nBatches).map { b =>
        val batch = vecs
          .filter(col("vec_id") % 2 === 1 &&
            pmod(col("vec_id"), lit(nBatches * 2)) === (2 * b + 1))
          .select((col("vec_id") + (b + 1).toLong * 10000000L).as("vec_id"),
            col("qv"))
        var folded = false
        val w = time {
          BqIndex.writeSegment(batch, "vec_id", "qv", bqDir, batchId = b)
          folded = IndexLayout.cycle(BqIndex.maintenancePlan(spark, bqDir, t),
            (), () => BqIndex.compactIndex(spark, bqDir, "vec_id"))
            ._1.acted.nonEmpty
        }
        (w, folded)
      }
      report("bq", maxSeg, bqWalls)
    }
    spark.stop()
  }
}
