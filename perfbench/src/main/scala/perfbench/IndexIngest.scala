package perfbench

import graft.functions.TextFns
import graft.operators.{Bm25, DataSelection, DedupOps, IndexLayout}
import graft.sinks.Sinks
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s._

object IndexIngest {
  val K = 10
  val ShingleN = 3
  val NearDup = 0.5

  final case class Batch(id: Int, lo: Long, hi: Long, remove: List[Long], terms: List[String])
}

/** index_ingest: curated micro-batches into the two streamed layouts.
  *
  * Set-up builds BM25 and dedup-shingle indexes over a base corpus and
  * starts their `StreamingOps` maintained streams. The plan's first batch
  * is the warm-up: it runs untimed, so the timed batches run on a JVM
  * that has already compiled every stage's code (a cold batch takes
  * ~1.7x as long as a warm one, and varies more). Each micro-batch then
  * runs the curation spine (clean, exact dedup, MinHash-LSH near-dedup,
  * dedup against the live dedup index, quality select, chunk + pack,
  * stage write), lands the survivors in the two streams' source
  * directories (one segment each), tombstones a few live docs out of both
  * layouts, searches BM25 on that fresh state (base + segment +
  * tombstones; the next batch's history stage is the dedup layout's
  * fresh read), then consults each layout's maintenance under the
  * engine's default thresholds, which a run's few batches leave far from
  * due: the call reads the layout and plans, and compacts only when its
  * plan says so. Every stage, lifecycle call and search is one
  * timed op; the batch is the unit of work the end-to-end latency counts.
  */
final class IndexIngest(ctx: Ctx) extends Workload {
  import ctx._
  import IndexIngest._
  import spark.implicits._

  private val batches = (plan \ "batches").children.map(b => Batch(
    (b \ "batch").extract[Int], (b \ "add_lo").extract[Long], (b \ "add_hi").extract[Long],
    (b \ "remove").extract[List[Long]], (b \ "terms").extract[List[String]]))
  private val baseN = (plan \ "base_docs").extract[Long]

  private val docs = spark.read.parquet(s"$inputs/documents.parquet").select("doc_id", "text", "source")
  private val probe = spark.read.parquet(s"$inputs/probes.parquet").select("doc_id", "text")

  private var root = ""
  private var streams: Map[String, StreamingQuery] = Map.empty
  private var next = 0
  private var timedFrom = 0
  private var live = Set.empty[Long]
  // timed-phase tallies
  private var batchBytes = 0L
  private var docsIn = 0L
  private val plans = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  private def bm = s"$root/bm25"
  private def dd = s"$root/dedup"
  private def src(layout: String) = s"$root/incoming_$layout"

  /** The text each layout received: base docs as generated, batch docs as
    * curated (cleaned) and written by the stage sink.
    */
  private def indexedDocs(): DataFrame = docs.filter(col("doc_id") < baseN).select("doc_id", "text")
    .unionByName(spark.read.parquet(s"$root/stages/stage=curated").select("doc_id", "text"))

  def setup(rep: Int): Unit = {
    streams.values.foreach(_.stop())
    root = dir(s"ingest_$rep")
    val base = docs.filter(col("doc_id") < baseN)
    rec.span("index", "build.bm25")(Bm25.writeIndex(base, "doc_id", "text", bm))
    rec.span("index", "build.dedup")(DedupOps.writeDedupIndex(base, "doc_id", "text", ShingleN, dd))
    def in(layout: String) = {
      new java.io.File(src(layout)).mkdirs()
      spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src(layout))
    }
    streams = Map(
      "bm25" -> StreamingOps.streamBm25IndexMaintained(in("bm25"), "doc_id", "text", bm,
        s"$root/ckpt_bm25"),
      "dedup" -> StreamingOps.streamDedupIndexMaintained(in("dedup"), "doc_id", "text", ShingleN, dd,
        s"$root/ckpt_dedup"))
    live = (0L until baseN).toSet
    next = 0
  }

  /** The first batch, untimed; the timed-phase tallies restart after it. */
  override def warmup(): Unit = {
    ingest(batches(0))
    next = 1
    timedFrom = 1
    batchBytes = 0L
    docsIn = 0L
    plans.clear()
    progress.clear()
  }

  private def stage[T](name: String)(body: => T): T =
    rec.opValue("stage", name)(rec.span("pipeline", name)(body))

  private def commit(call: String, layout: String)(body: => Unit): Unit =
    rec.opValue("commit", s"$call.$layout")(rec.span("index", s"$call.$layout")(body))

  private def search(layout: String)(body: => Unit): Unit =
    rec.opValue("search", layout)(rec.span("index", s"search.$layout")(body))

  /** The curation spine over one batch: returns the selected docs and
    * their stage-write directory.
    */
  private def curate(b: Batch): (DataFrame, String) = {
    val in = docs.filter(col("doc_id") >= b.lo && col("doc_id") < b.hi)
    val cleaned = stage("clean")(in.select(col("doc_id"), TextFns.cleanText(col("text")).as("text"),
      col("source")).filter(length(col("text")) > 0).localCheckpoint())
    val exact = stage("exact_dedup") {
      val groups = DedupOps.exactDupGroups(cleaned, "doc_id", TextFns.fingerprint(col("text")))
      cleaned.withColumn("fp", TextFns.fingerprint(col("text")))
        .join(groups.select("fp", "keeper"), Seq("fp"), "left")
        .filter(col("keeper").isNull || col("doc_id") === col("keeper"))
        .select("doc_id", "text", "source").localCheckpoint()
    }
    val near = stage("near_dedup") {
      val pairs = DedupOps.minhashLshPairs(exact, "doc_id", "text", ShingleN, 0.8)
      exact.join(pairs.select(col("id_b").cast("long").as("doc_id")).distinct(), Seq("doc_id"),
        "left_anti").localCheckpoint()
    }
    val novel = stage("history_dedup") {
      val marks = DedupOps.dedupAgainstIndex(spark, dd, near, "doc_id", "text", ShingleN, NearDup)
      near.join(marks.filter(col("exact_dup") === 0L && col("near_dup") === 0L).select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint()
    }
    val selected = stage("select")(novel
      .withColumn("__alpha", length(regexp_replace(col("text"), "[^a-zA-Z]", "")))
      .filter(length(col("text")).between(32, 100000) && col("__alpha") * 2 > length(col("text")))
      .drop("__alpha").localCheckpoint())
    stage("pack")(DataSelection.packWithChunking(selected, "doc_id", "text", 512L, cpus * 2).count())
    val sunk = rec.opValue("stage", "sink")(rec.span("sinks", "writeStage")(
      Sinks.writeStage(selected.coalesce(1), s"$root/stages", "curated", s"b${b.id}")))
    (selected, sunk)
  }

  /** The batch's curated file lands in a stream's source directory by an
    * atomic move; the commit is the stream turning it into a segment.
    */
  private def streamed(layout: String, sunk: String, b: Batch): Unit = {
    val q = streams(layout)
    new java.io.File(sunk).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val tmp = java.nio.file.Paths.get(src(layout), s".b${b.id}-${f.getName}")
      java.nio.file.Files.copy(f.toPath, tmp)
      java.nio.file.Files.move(tmp, tmp.resolveSibling(s"b${b.id}-${f.getName}"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val before = q.recentProgress.length
    commit("segment", layout)(rec.span("streaming", "processAllAvailable")(q.processAllAvailable()))
    q.recentProgress.drop(before).filter(_.numInputRows > 0).foreach { p =>
      progress += Map("layout" -> layout) ++
        p.durationMs.entrySet.toArray.map { e =>
          val x = e.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]]
          x.getKey -> x.getValue.longValue
        }.toMap
    }
  }

  private def maintained(layout: String)(body: => IndexLayout.MaintenancePlan): Unit =
    commit("maintain", layout) {
      val p = body
      plans += Map("layout" -> layout, "live_segments" -> p.liveSegments,
        "tombstone_batches" -> p.tombstoneBatches, "data_files" -> p.dataFiles,
        "actions" -> p.actions.size)
    }

  private def ingest(b: Batch): Unit = {
    rec.group = s"b${b.id}"
    val (selected, sunk) = curate(b)
    val kept = selected.select("doc_id").as[Long].collect().toSeq
    batchBytes += new java.io.File(sunk).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    docsIn += b.hi - b.lo
    streamed("bm25", sunk, b)
    streamed("dedup", sunk, b)
    val rm = b.remove.toDF("doc_id")
    commit("remove", "bm25")(Bm25.removeFromIndex(rm, "doc_id", bm))
    commit("remove", "dedup")(DedupOps.removeFromDedupIndex(rm, "doc_id", dd))
    live = live -- b.remove ++ kept
    search("bm25")(Bm25.topKIndexed(spark, bm, "doc_id", Seq("q" -> b.terms.mkString(" ")), K).collect())
    maintained("bm25")(Bm25.maintain(spark, bm, "doc_id").plan)
    maintained("dedup")(DedupOps.maintain(spark, dd, "doc_id").plan)
  }

  /** Batches until the deadline; a batch whose op fails is abandoned (the
    * failure is recorded with the op) and the next batch goes on.
    */
  def run(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs && next < batches.length) {
      try ingest(batches(next))
      catch { case e: Throwable => System.err.println(s"[perfbench] batch $next failed:"); e.printStackTrace() }
      next += 1
    }

  /** After the last batch, each layout answers exactly as its in-memory
    * twin over the live set (the text each layout received): BM25
    * retrieval as `Bm25.topK`, dedup probes as scan-path `dedupAgainst`.
    */
  def checks(): Seq[Check] = {
    streams.values.foreach(_.stop())
    val liveDocs = indexedDocs().join(live.toSeq.toDF("id"), col("doc_id") === col("id"), "left_semi")
      .localCheckpoint()
    val queries = batches.take(next).map(b => s"b${b.id}" -> b.terms.mkString(" "))
    // probes: the probe batch plus a slice of the corpus, live or not
    val probes = probe.unionByName(docs.filter(col("doc_id") % 37 === 0).select("doc_id", "text"))
    def sorted(df: DataFrame) = Main.rowStrings(df).sorted
    Seq(
      Check("bm25:live", sorted(Bm25.topKIndexed(spark, bm, "doc_id", queries, K)),
        sorted(Bm25.topK(liveDocs, "doc_id", "text", queries, K))),
      Check("dedup:live", sorted(DedupOps.dedupAgainstIndex(spark, dd, probes, "doc_id", "text", ShingleN, NearDup)),
        sorted(DedupOps.dedupAgainst(probes, liveDocs, "doc_id", "text", ShingleN, NearDup))))
  }

  override def extra(): Map[String, Any] = {
    def bytes(dirs: String*) = dirs.map(d => IndexLayout.parquetBytes(spark, d)).sum
    Map("index_bytes" -> bytes(bm, dd),
      "live_docs" -> live.size, "batches" -> (next - timedFrom), "docs_in" -> docsIn,
      "batch_bytes" -> batchBytes,
      "plans" -> plans.toSeq, "progress" -> progress.toSeq)
  }
}
