package graft

import graft.operators.{Bm25, BqIndex, DedupOps, IndexLayout, IvfIndex, PortableAnn}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintenance POLICY layer: [[IndexLayout.listLease]] (lease triage)
  * and [[IndexLayout.maintenancePlan]] (threshold-gated fold / compact /
  * retrain recommendations) against synthetic layouts driven to each
  * pressure point, plus the per-family wrappers' path conventions.
  */
class MaintenancePlanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Scratch.dir(tag)

  private def docs = Tables(spark, sf, "documents").select("doc_id", "text")
  private def qvecs: DataFrame =
    Tables(spark, sf, "embeddings").select(col("vec_id"),
      PortableAnn.quant(col("embedding")).as("qv"))

  // ───────────────────────── listLease ─────────────────────────

  test("listLease surfaces op, holder metadata and age; empty when unheld") {
    val root = s"${tmp("lease_triage")}/index"
    new java.io.File(root).mkdirs()
    assert(IndexLayout.listLease(spark, root).isEmpty)
    IndexLayout.acquireLease(spark, root, "BqIndex.compactIndex")
    try {
      val Some((op, holder, age)) = IndexLayout.listLease(spark, root)
      assert(op == "BqIndex.compactIndex")
      assert(holder.contains("pid=") && holder.contains("acquired="))
      assert(age >= 0L)
    } finally IndexLayout.releaseLease(spark, root)
    assert(IndexLayout.listLease(spark, root).isEmpty,
      "released lease must disappear from triage")
  }

  test("a crashed maintainer's stale lease is visible, blocks maintenance, and releaseLease recovers") {
    val dir = s"${tmp("lease_crash")}/index"
    val c = qvecs
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    // simulate the crash: acquire and never release
    IndexLayout.acquireLease(spark, dir, "BqIndex.compactIndex")
    val plan = BqIndex.maintenancePlan(spark, dir)
    assert(plan.lease.exists(_._1 == "BqIndex.compactIndex"),
      "the plan must surface the held lease for triage")
    intercept[IllegalStateException](BqIndex.compactIndex(spark, dir))
    // the runbook move: verify the holder is dead, then release
    IndexLayout.releaseLease(spark, dir)
    BqIndex.compactIndex(spark, dir) // succeeds now
    assert(BqIndex.maintenancePlan(spark, dir).lease.isEmpty)
  }

  // ───────────────────────── maintenancePlan ─────────────────────────

  test("a fresh index recommends nothing") {
    val dir = s"${tmp("plan_fresh")}/index"
    BqIndex.writeIndex(qvecs, "vec_id", "qv", dir)
    val plan = BqIndex.maintenancePlan(spark, dir)
    assert(plan.actions.isEmpty, plan.actions.toString)
    assert(plan.liveSegments == 0 && plan.tombstoneBatches == 0)
  }

  test("segment accumulation recommends fold; folding clears the pressure") {
    val dir = s"${tmp("plan_segs")}/index"
    val c = qvecs
    BqIndex.writeIndex(c.filter(col("vec_id") % 5 === 0), "vec_id", "qv", dir)
    (1L to 3L).foreach { b =>
      BqIndex.writeSegment(c.filter(col("vec_id") % 5 === b), "vec_id",
        "qv", dir, batchId = b)
    }
    val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = 3)
    val plan = BqIndex.maintenancePlan(spark, dir, t)
    assert(plan.liveSegments == 3)
    assert(plan.recommends("fold"))
    assert(!plan.recommends("retrain"))
    BqIndex.compactIndex(spark, dir)
    val after = BqIndex.maintenancePlan(spark, dir, t)
    assert(after.liveSegments == 0 && !after.recommends("fold"))
    // retired-with-grace segments are visible as awaiting-retire context
    assert(after.foldedAwaitingRetire == 3)
  }

  test("tombstone accumulation recommends compact; compaction clears it") {
    val dir = s"${tmp("plan_tombs")}/index"
    val c = qvecs
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    (1L to 4L).foreach { i =>
      BqIndex.removeFromIndex(Seq(i).toDF("vec_id"), "vec_id", dir)
    }
    val t = IndexLayout.MaintenanceThresholds(maxTombstoneBatches = 4)
    val plan = BqIndex.maintenancePlan(spark, dir, t)
    assert(plan.tombstoneBatches == 4)
    assert(plan.recommends("compact"))
    BqIndex.compactIndex(spark, dir)
    assert(!BqIndex.maintenancePlan(spark, dir, t).recommends("compact"))
  }

  test("append-accumulated small files recommend compact") {
    val dir = s"${tmp("plan_files")}/index"
    val c = qvecs
    BqIndex.writeIndex(c.filter(col("vec_id") >= 100), "vec_id", "qv", dir)
    (0L until 4L).foreach { i =>
      BqIndex.appendToIndex(c.filter(col("vec_id") === i), "vec_id", "qv",
        dir)
    }
    val base = IndexLayout.dataFileCount(spark, s"$dir/codes")
    val t = IndexLayout.MaintenanceThresholds(maxDataFiles = base)
    val plan = BqIndex.maintenancePlan(spark, dir, t)
    assert(plan.dataFiles == base)
    assert(plan.recommends("compact"))
    BqIndex.compactIndex(spark, dir)
    assert(IndexLayout.dataFileCount(spark, s"$dir/codes") < base)
  }

  test("retrain is gated on the measured drift, never on FS metadata") {
    val dir = s"${tmp("plan_drift")}/index"
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val model = IvfIndex.train(vecs, "vec_id", "embedding", k = 4, iters = 1)
    IvfIndex.writeIndex(vecs, "vec_id", "embedding", model, dir)
    // no drift measurement supplied -> never recommends retrain
    assert(!IvfIndex.maintenancePlan(spark, dir).recommends("retrain"))
    // gap below the 1000-bps default -> no retrain
    assert(!IvfIndex.maintenancePlan(spark, dir,
      drift = Some((1050L, 1000L))).recommends("retrain"))
    // material measured gap (the q236 audit's mean_d2 pair) -> retrain
    val p = IvfIndex.maintenancePlan(spark, dir, drift = Some((1200L, 1000L)))
    assert(p.recommends("retrain"))
    // degenerate measurement never divides by zero
    assert(!IvfIndex.maintenancePlan(spark, dir,
      drift = Some((1200L, 0L))).recommends("retrain"))
  }

  test("BQ bit-flip gate: no measurement never retrains; the 500-bps default separates quiet from drifted") {
    val dir = s"${tmp("plan_flip")}/index"
    val c = qvecs
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    // no measurement supplied -> never recommends retrain
    assert(!BqIndex.maintenancePlan(spark, dir).recommends("retrain"))
    // at or under the default 500 bps -> quiet
    assert(!BqIndex.maintenancePlan(spark, dir, bitFlipBps = Some(500L))
      .recommends("retrain"))
    // over it -> rebuild recommended
    val p = BqIndex.maintenancePlan(spark, dir, bitFlipBps = Some(501L))
    assert(p.recommends("retrain"))
    assert(p.actions.exists(_._2.contains("bps")))
    // caller-tuned threshold moves the gate
    val tight = IndexLayout.MaintenanceThresholds(maxBitFlipBps = 100L)
    assert(BqIndex.maintenancePlan(spark, dir, tight, Some(101L))
      .recommends("retrain"))
  }

  test("packaged audits are zero at the fixed point: a just-built index measures no drift") {
    // BQ: the persisted model IS a fresh train over the same corpus, so
    // the flip spectrum is exactly zero (pure integer arithmetic)
    val bq = s"${tmp("plan_audit_bq")}/index"
    val c = qvecs
    BqIndex.writeIndex(c, "vec_id", "qv", bq)
    assert(BqIndex.maintenanceAudit(spark, bq, c, "qv") == 0L)
    // IVF: audit retrains on the same live rows the model was trained
    // on (deterministic first-k init), so current == retrained mean d2
    // up to double-merge wobble in the x1e6 scaling
    val iv = s"${tmp("plan_audit_ivf")}/index"
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val model = IvfIndex.train(vecs, "vec_id", "embedding", k = 4, iters = 2)
    IvfIndex.writeIndex(vecs, "vec_id", "embedding", model, iv)
    val drift = IvfIndex.maintenanceAudit(spark, iv, "vec_id", "embedding",
      model, iters = 2)
    assert((drift._1 - drift._2).abs <= 1L, s"fixed-point audit $drift")
    assert(!IvfIndex.maintenancePlan(spark, iv, drift = Some(drift))
      .recommends("retrain"))
  }

  test("the full measure-then-act loop: real drift from a shifted corpus recommends retrain; uniform appends do not") {
    val dir = s"${tmp("plan_loop")}/index"
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val model = IvfIndex.train(vecs, "vec_id", "embedding", k = 4, iters = 1)
    IvfIndex.writeIndex(vecs, "vec_id", "embedding", model, dir)

    val all = qvecs
    val cut = all.count() * 4L / 5L
    val base = all.filter(col("vec_id") < cut)
    // q236's measurement, computed here for a given full corpus: mean
    // integer d2-to-assigned-centroid under the pre-append model vs a
    // retrained one
    def meanD2(corpus: DataFrame, m: PortableAnn.QModel): Long = {
      val r = corpus.agg(
        sum(PortableAnn.bestDist2(col("qv"), m)).cast("long").as("s"),
        count(lit(1)).cast("long").as("n")).head()
      r.getLong(0) / r.getLong(1)
    }
    def driftPair(corpus: DataFrame): (Long, Long) = {
      val before = PortableAnn.train(base, "vec_id", "qv", k = 4, iters = 2)
      val after = PortableAnn.train(corpus, "vec_id", "qv", k = 4, iters = 2)
      (meanD2(corpus, before), meanD2(corpus, after))
    }
    // distribution-SHIFTED appends: the tail lands far from every
    // trained centroid (+4 per original unit ≈ +4096 in the quantized
    // domain on every dim)
    val shiftedTail = all.filter(col("vec_id") >= cut)
      .select(col("vec_id"),
        transform(col("qv"), x => x + lit(4096L)).as("qv"))
    val shifted = driftPair(base.unionByName(shiftedTail))
    assert(IvfIndex.maintenancePlan(spark, dir, drift = Some(shifted))
      .recommends("retrain"),
      s"shifted-corpus drift $shifted must recommend retrain")
    // uniform (id-distribution-preserving) appends: same data, no shift
    val uniform = driftPair(all)
    assert(!IvfIndex.maintenancePlan(spark, dir, drift = Some(uniform))
      .recommends("retrain"),
      s"uniform-append drift $uniform must stay under the gap threshold")
  }

  test("BM25 wrapper counts stats-listed delete batches, not sidecar files") {
    val dir = s"${tmp("plan_bm25")}/index"
    val d = docs
    Bm25.writeIndex(d, "doc_id", "text", dir)
    assert(Bm25.maintenancePlan(spark, dir).tombstoneBatches == 0)
    Bm25.removeFromIndex(d.filter(col("doc_id") % 7 === 0).select("doc_id"),
      "doc_id", dir)
    val t = IndexLayout.MaintenanceThresholds(maxTombstoneBatches = 1)
    val plan = Bm25.maintenancePlan(spark, dir, t)
    assert(plan.tombstoneBatches == 1)
    assert(plan.recommends("compact"))
    Bm25.compactIndex(spark, dir, "doc_id")
    assert(Bm25.maintenancePlan(spark, dir, t).tombstoneBatches == 0)
  }

  test("dedup and IVF wrappers resolve their path conventions") {
    val dd = s"${tmp("plan_dedup")}/index"
    DedupOps.writeDedupIndex(docs, "doc_id", "text", n = 3, path = dd)
    DedupOps.removeFromDedupIndex(Seq(1L).toDF("doc_id"), "doc_id", dd)
    val ddPlan = DedupOps.maintenancePlan(spark, dd,
      IndexLayout.MaintenanceThresholds(maxTombstoneBatches = 1))
    assert(ddPlan.tombstoneBatches == 1 && ddPlan.recommends("compact"))

    val iv = s"${tmp("plan_ivf")}/index"
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val model = IvfIndex.train(vecs, "vec_id", "embedding", k = 4, iters = 1)
    IvfIndex.writeIndex(vecs, "vec_id", "embedding", model, iv)
    IvfIndex.writeSegment(vecs.filter(col("vec_id") < 5), "vec_id",
      "embedding", model, iv, batchId = 0L)
    val ivPlan = IvfIndex.maintenancePlan(spark, iv,
      IndexLayout.MaintenanceThresholds(maxLiveSegments = 1))
    assert(ivPlan.liveSegments == 1 && ivPlan.recommends("fold"))
  }

  test("packaged maintain for the model-less families: BM25 and dedup fold on segment pressure, report under a live lease") {
    // BM25 — segments written exactly as streamBm25IndexMaintained does
    val bmDir = s"${tmp("maintain_bm25")}/index"
    val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = 2)
    Bm25.writeIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", bmDir)
    (1 to 3).foreach { b =>
      Bm25.writeIndex(docs.filter(col("doc_id") % 4 === b),
        "doc_id", "text", s"$bmDir/segments/batch=$b", 64)
    }
    IndexLayout.acquireLease(spark, bmDir, "someone-else")
    val bmHeld = try Bm25.maintain(spark, bmDir, "doc_id", t)
      finally IndexLayout.releaseLease(spark, bmDir)
    assert(bmHeld.skippedOnLease && bmHeld.plan.recommends("fold"))
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(bmDir)).size == 3, "acted under lease")
    val bmActed = Bm25.maintain(spark, bmDir, "doc_id", t)
    assert(bmActed.acted == Seq("compact"))
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(bmDir)).isEmpty)
    // the folded index retrieves identically to a from-scratch build
    val qs = Seq("s1" -> "fast hash join")
    val fresh = s"${tmp("maintain_bm25_fresh")}/index"
    Bm25.writeIndex(docs, "doc_id", "text", fresh)
    assert(Bm25.topKIndexed(spark, bmDir, "doc_id", qs, 10).collect().toSeq
      == Bm25.topKIndexed(spark, fresh, "doc_id", qs, 10).collect().toSeq)
    assert(!Bm25.maintain(spark, bmDir, "doc_id", t).plan.recommends("fold"))

    // dedup — same cycle through DedupOps.maintain
    val ddDir = s"${tmp("maintain_dedup")}/index"
    DedupOps.writeDedupIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", 3, ddDir)
    (1 to 3).foreach { b =>
      DedupOps.writeDedupIndex(docs.filter(col("doc_id") % 4 === b),
        "doc_id", "text", 3, s"$ddDir/segments/batch=$b",
        DedupOps.DefaultShingleShards)
    }
    IndexLayout.acquireLease(spark, ddDir, "someone-else")
    val ddHeld = try DedupOps.maintain(spark, ddDir, "doc_id", t)
      finally IndexLayout.releaseLease(spark, ddDir)
    assert(ddHeld.skippedOnLease && ddHeld.plan.recommends("fold"))
    val ddActed = DedupOps.maintain(spark, ddDir, "doc_id", t)
    assert(ddActed.acted == Seq("compact"))
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(ddDir)).isEmpty)
    assert(!DedupOps.maintain(spark, ddDir, "doc_id", t)
      .plan.recommends("fold"))
  }

  test("packaged maintain: acts on segment pressure, reports instead of queuing behind a live lease") {
    val dir = s"${tmp("maintain_lease")}/index"
    val c = qvecs
    BqIndex.writeIndex(c.filter(col("vec_id") % 5 === 0), "vec_id", "qv", dir)
    (1L to 3L).foreach { b =>
      BqIndex.writeSegment(c.filter(col("vec_id") % 5 === b), "vec_id",
        "qv", dir, batchId = b)
    }
    // bit-flip gate disabled: this test pins the fold path, and the
    // audit's flip rate vs a model trained on a fifth of the rows is
    // distribution noise, not the scenario
    val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = 3,
      maxBitFlipBps = Long.MaxValue)
    // a live maintainer holds the lease: the cycle must report, not act
    // (leases are never auto-broken — a crashed holder is a manual
    // releaseLease decision)
    IndexLayout.acquireLease(spark, dir, "someone-else")
    val held = try BqIndex.maintain(spark, dir,
        c.filter(col("vec_id") % 5 < 4), "vec_id", "qv", t)
      finally IndexLayout.releaseLease(spark, dir)
    assert(held.plan.recommends("fold") && held.acted.isEmpty)
    assert(held.skippedOnLease)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).size == 3, "acted under lease")
    // lease released: the same cycle folds
    val acted = BqIndex.maintain(spark, dir,
      c.filter(col("vec_id") % 5 < 4), "vec_id", "qv", t)
    assert(acted.acted == Seq("compact"))
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    assert(!BqIndex.maintain(spark, dir, c.filter(col("vec_id") % 5 < 4),
      "vec_id", "qv", t).plan.recommends("fold"))
  }

  test("a maintained stream skips its fold while another maintainer holds the lease, then folds on a later batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"${tmp("stream_lease")}/index"
    val paths = IndexLayout.Paths.nested(dir)
    DedupOps.writeDedupIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", 3, dir)
    val src = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.streamDedupIndexMaintained(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, dir,
      s"${tmp("stream_lease_ckpt")}/c1",
      thresholds = IndexLayout.MaintenanceThresholds(maxLiveSegments = 1))
    def batch(m: Int): Unit = {
      src.addData(docs.filter(col("doc_id") % 4 === m)
        .as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
    }
    try {
      IndexLayout.acquireLease(spark, dir, "someone-else")
      try {
        batch(1)
        batch(2)
        assert(q.isActive && q.exception.isEmpty, q.exception)
        assert(IndexLayout.segmentDirs(spark, paths).size == 2)
      } finally IndexLayout.releaseLease(spark, dir)
      batch(3)
      assert(q.isActive && q.exception.isEmpty, q.exception)
      assert(IndexLayout.segmentDirs(spark, paths).isEmpty,
        "the first batch after the release folds")
    } finally q.stop()
    assert(IndexLayout.listLease(spark, dir).isEmpty)
  }
}
