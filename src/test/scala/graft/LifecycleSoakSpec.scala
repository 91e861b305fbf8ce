package graft

import graft.operators.{Bm25, DedupOps, IndexLayout, IvfIndex, IvfPq}
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed lifecycle SOAK per persisted-layout family. The pairwise
  * races (segment-arrival-mid-compaction, kill-before-flip, tombstone
  * snapshots) each have their own spec; what was missing was the
  * INTERLEAVING: one index driven through stream-folds + direct appends
  * + deletes + a compaction + a re-shard (+ a retrain for the vector
  * layouts), with an EXACT-read assertion against a from-scratch oracle
  * after every single step — the maintenance schedule a production index
  * actually lives, compressed. Any state leak between lifecycle moves
  * (a tombstone compaction forgot, a segment folded twice, a version
  * manifest shadowing a rebuild, stats drifting off the sidecar) shows
  * up as a wrong read at the step that exposed it.
  */
class LifecycleSoakSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Scratch.dir(tag)

  private def docs = Tables(spark, sf, "documents").select("doc_id", "text")
  private def embs = Tables(spark, sf, "embeddings")

  // ────────────────────────────── BM25 ──────────────────────────────

  test("BM25 soak: build → stream → delete → stream → re-shard compact → append → delete → compact, exact at every step") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    def retrieved(path: String, nShards: Int): Set[Seq[Any]] =
      Bm25.topKIndexed(spark, path, "doc_id", queries, k = 5,
          nShards = nShards)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 9))
        .collect().map(_.toSeq).toSet
    def oracle(live: DataFrame): Set[Seq[Any]] =
      Bm25.topK(live, "doc_id", "text", queries, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 9))
        .collect().map(_.toSeq).toSet

    val a  = docs.filter(col("doc_id") % 4 === 0)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
    val b2 = docs.filter(col("doc_id") % 4 === 2)
    val b3 = docs.filter(col("doc_id") % 4 === 3)
    val dir = s"${tmp("soak_bm25")}/index"

    // 1. base build
    Bm25.writeIndex(a, "doc_id", "text", dir)
    var live = a
    assert(retrieved(dir, 64) == oracle(live), "after base build")

    // 2. stream-fold a micro-batch into a segment
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamBm25Index(src.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, s"${tmp("soak_bm25_ckpt")}/c1")
    src.addData(b1.as[(Long, String)].collect().toSeq: _*)
    q.processAllAvailable()
    live = live.unionByName(b1)
    assert(retrieved(dir, 64) == oracle(live), "after stream-fold 1")

    // 3. delete a slice that spans base AND segment
    val del1 = live.filter(col("doc_id") % 8 === 0).select("doc_id")
    Bm25.removeFromIndex(del1, "doc_id", dir)
    live = live.filter(col("doc_id") % 8 =!= 0)
    assert(retrieved(dir, 64) == oracle(live), "after delete 1")

    // 4. second stream-fold onto the tombstoned state
    src.addData(b2.as[(Long, String)].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    live = live.unionByName(b2)
    assert(retrieved(dir, 64) == oracle(live), "after stream-fold 2")

    // 5. RE-SHARD compaction: folds both segments + the tombstones into
    // a fresh 16-shard base behind a version swap. A slow reader PINS
    // the pre-compaction postings snapshot first — the pin must hold it
    // through the whole remaining maintenance storm (compaction, direct
    // append, delete, second compaction = three more swaps of this dir)
    val pinToken = IndexLayout.pinCurrent(spark, s"$dir/postings")
    val pinnedSnapshot = IndexLayout.resolve(spark, s"$dir/postings")
    val pinnedRows = spark.read.parquet(pinnedSnapshot).count()
    Bm25.compactIndex(spark, dir, "doc_id", reshardTo = Some(16))
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty, "segments folded")
    assert(retrieved(dir, 16) == oracle(live), "after re-shard compaction")

    // 6. direct append onto the versioned, re-sharded layout
    Bm25.appendToIndex(b3, "doc_id", "text", dir, nShards = 16)
    live = live.unionByName(b3)
    assert(retrieved(dir, 16) == oracle(live), "after direct append")

    // 7. second delete, then a plain compaction of the appended state
    val del2 = live.filter(col("doc_id") % 8 === 1).select("doc_id")
    Bm25.removeFromIndex(del2, "doc_id", dir)
    live = live.filter(col("doc_id") % 8 =!= 1)
    assert(retrieved(dir, 16) == oracle(live), "after delete 2")

    // 7b. EXPORT mid-storm: versioned layouts + a live tombstone batch +
    // a pinned snapshot all coexist — the exported live postings must
    // row-equal a fresh build over the live set (lock-free snapshot:
    // pins + version validation, no lease taken)
    val exDir = s"${tmp("soak_bm25_export")}/postings"
    Bm25.exportLivePostings(spark, dir, "doc_id", exDir)
    val refIdx = s"${tmp("soak_bm25_exref")}/index"
    Bm25.writeIndex(live, "doc_id", "text", refIdx, nShards = 16)
    def postingRows(p: String): Set[Seq[Any]] =
      spark.read.parquet(p)
        .select("doc_id", "doc_len", "term", "tf", "shard")
        .collect().map(_.toSeq).toSet
    assert(postingRows(exDir) ==
      postingRows(IndexLayout.resolve(spark, s"$refIdx/postings")),
      "mid-storm export equals a fresh live-only build's postings")
    assert(IndexLayout.listPins(spark, s"$dir/postings").size == 1 &&
      IndexLayout.listPins(spark, s"$dir/stats").isEmpty,
      "export released its pins (only the step-5 reader pin remains)")

    Bm25.compactIndex(spark, dir, "doc_id")
    assert(retrieved(dir, 16) == oracle(live), "after final compaction")
    assert(Bm25.tombstoneDirs(spark, dir).isEmpty,
      "tombstones materialized")

    // the snapshot pinned before step 5 survived the storm intact and
    // still reads its exact pre-compaction contents; releasing it lets
    // the next swap collect it
    assert(spark.read.parquet(pinnedSnapshot).count() == pinnedRows,
      "pinned snapshot must survive the full maintenance storm unchanged")
    IndexLayout.unpin(spark, s"$dir/postings", pinToken)
    Bm25.compactIndex(spark, dir, "doc_id")
    assert(!new java.io.File(pinnedSnapshot).exists(),
      "released pin must be collected by the next swap")
    assert(retrieved(dir, 16) == oracle(live), "reads exact after pin GC")
  }

  // ────────────────────────────── dedup ──────────────────────────────

  test("dedup soak: build → stream → delete → compact → append → delete → compact, increment-check exact at every step") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // the increment under check stays fixed; the indexed corpus evolves
    val probe = docs.filter(col("doc_id") % 10 === 9)
    def checked(path: String): Set[Seq[Any]] =
      DedupOps.dedupAgainstIndex(spark, path, probe, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          round(col("max_jaccard"), 9))
        .collect().map(_.toSeq).toSet
    def oracle(corpus: DataFrame): Set[Seq[Any]] =
      DedupOps.dedupAgainst(probe, corpus, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          round(col("max_jaccard"), 9))
        .collect().map(_.toSeq).toSet

    val a  = docs.filter(col("doc_id") % 10 < 3)
    val b1 = docs.filter(col("doc_id") % 10 === 3)
    val b2 = docs.filter(col("doc_id") % 10 === 4)
    val dir = s"${tmp("soak_dedup")}/index"

    DedupOps.writeDedupIndex(a, "doc_id", "text", n = 3, path = dir)
    var corpus = a
    assert(checked(dir) == oracle(corpus), "after base build")

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDedupIndex(src.toDF().toDF("doc_id", "text"),
      "doc_id", "text", 3, dir, s"${tmp("soak_dedup_ckpt")}/c1")
    src.addData(b1.as[(Long, String)].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    corpus = corpus.unionByName(b1)
    assert(checked(dir) == oracle(corpus), "after stream-fold")

    val del1 = corpus.filter(col("doc_id") % 10 === 0).select("doc_id")
    DedupOps.removeFromDedupIndex(del1, "doc_id", dir)
    corpus = corpus.filter(col("doc_id") % 10 =!= 0)
    assert(checked(dir) == oracle(corpus), "after delete")

    DedupOps.compactDedupIndex(spark, dir, "doc_id")
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty, "segments folded")
    assert(checked(dir) == oracle(corpus), "after compaction")

    DedupOps.appendToDedupIndex(b2, "doc_id", "text", n = 3, path = dir)
    corpus = corpus.unionByName(b2)
    assert(checked(dir) == oracle(corpus), "after append onto versioned layout")

    val del2 = corpus.filter(col("doc_id") % 10 === 1).select("doc_id")
    DedupOps.removeFromDedupIndex(del2, "doc_id", dir)
    corpus = corpus.filter(col("doc_id") % 10 =!= 1)
    assert(checked(dir) == oracle(corpus), "after second delete")

    DedupOps.compactDedupIndex(spark, dir, "doc_id")
    assert(checked(dir) == oracle(corpus), "after final compaction")
    // folded tombstone files are retained one fold for in-flight readers
    assert(IndexLayout.liveTombstoneFiles(spark, s"$dir/tombstones").isEmpty,
      "tombstones materialized")
  }

  // ──────────────────── planner-driven dedup storm ────────────────────

  test("dedup soak with maintenance decided by the PLANNER: measure → act, increment-check exact at every step") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // the round-9 mechanisms were correct under a SCRIPTED schedule; this
    // storm closes the loop to "policy + mechanisms": every fold/compact
    // below runs only when maintenancePlan recommends it under tight
    // thresholds, and reads must stay exact no matter when the planner
    // fires
    val probe = docs.filter(col("doc_id") % 10 === 9)
    def checked(path: String): Set[Seq[Any]] =
      DedupOps.dedupAgainstIndex(spark, path, probe, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          round(col("max_jaccard"), 9))
        .collect().map(_.toSeq).toSet
    def oracle(corpus: DataFrame): Set[Seq[Any]] =
      DedupOps.dedupAgainst(probe, corpus, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          round(col("max_jaccard"), 9))
        .collect().map(_.toSeq).toSet

    val dir = s"${tmp("soak_planner")}/index"
    // maxDataFiles is sized RELATIVE to the layout's clustered baseline
    // (a fresh 64-shard build is already O(shards) files — that is the
    // target state, not pressure); this storm gates on segment and
    // tombstone pressure, so the file threshold is parked out of reach
    val t = graft.operators.IndexLayout.MaintenanceThresholds(
      maxLiveSegments = 2, maxTombstoneBatches = 2,
      maxDataFiles = Int.MaxValue)
    var maintenanceRuns = 0
    def maintainIfDue(step: String): Unit = {
      val plan = DedupOps.maintenancePlan(spark, dir, t)
      assert(plan.lease.isEmpty, s"$step: no maintainer should hold the lease")
      if (plan.recommends("fold") || plan.recommends("compact")) {
        DedupOps.compactDedupIndex(spark, dir, "doc_id")
        maintenanceRuns += 1
        val after = DedupOps.maintenancePlan(spark, dir, t)
        assert(!after.recommends("fold") && !after.recommends("compact"),
          s"$step: one compaction must clear the planner's pressure ($after)")
      }
    }

    DedupOps.writeDedupIndex(docs.filter(col("doc_id") % 10 < 2),
      "doc_id", "text", n = 3, path = dir)
    var corpus = docs.filter(col("doc_id") % 10 < 2)
    assert(checked(dir) == oracle(corpus), "after base build")
    assert(DedupOps.maintenancePlan(spark, dir, t).actions.isEmpty,
      "fresh index: nothing due")

    // three streamed micro-batches — the planner must fire at the 2nd
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDedupIndex(src.toDF().toDF("doc_id", "text"),
      "doc_id", "text", 3, dir, s"${tmp("soak_planner_ckpt")}/c1")
    (2L to 4L).foreach { m =>
      val batch = docs.filter(col("doc_id") % 10 === m)
      src.addData(batch.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      corpus = corpus.unionByName(batch)
      assert(checked(dir) == oracle(corpus), s"after stream-fold $m")
      maintainIfDue(s"stream-fold $m")
      assert(checked(dir) == oracle(corpus), s"after maintenance at fold $m")
    }
    q.stop()
    assert(maintenanceRuns >= 1, "segment pressure must have fired the planner")

    // three delete batches — tombstone pressure fires the planner
    (0L to 2L).foreach { m =>
      val del = corpus.filter(col("doc_id") % 20 === m).select("doc_id")
      DedupOps.removeFromDedupIndex(del, "doc_id", dir)
      corpus = corpus.filter(col("doc_id") % 20 =!= m)
      assert(checked(dir) == oracle(corpus), s"after delete $m")
      maintainIfDue(s"delete $m")
      assert(checked(dir) == oracle(corpus), s"after maintenance at delete $m")
    }
    assert(maintenanceRuns >= 2, "tombstone pressure must have fired the planner")

    // quiet tail: a final planner read finds nothing due and the index
    // reads exact
    assert(DedupOps.maintenancePlan(spark, dir, t).actions.isEmpty)
    assert(checked(dir) == oracle(corpus), "final read")
  }

  test("SELF-MAINTAINING dedup stream: planner-gated folds inside the batch loop bound read amplification; reads exact throughout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val probe = docs.filter(col("doc_id") % 10 === 9)
    def checked(path: String): Set[Seq[Any]] =
      DedupOps.dedupAgainstIndex(spark, path, probe, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          round(col("max_jaccard"), 9))
        .collect().map(_.toSeq).toSet
    def oracle(corpus: DataFrame): Set[Seq[Any]] =
      DedupOps.dedupAgainst(probe, corpus, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          round(col("max_jaccard"), 9))
        .collect().map(_.toSeq).toSet

    val dir = s"${tmp("soak_selfmaint")}/index"
    val t = graft.operators.IndexLayout.MaintenanceThresholds(
      maxLiveSegments = 2, maxDataFiles = Int.MaxValue)
    DedupOps.writeDedupIndex(docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 3, path = dir)
    var corpus = docs.filter(col("doc_id") % 10 === 0)

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDedupIndexMaintained(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, dir,
      s"${tmp("soak_selfmaint_ckpt")}/c1", thresholds = t)
    (1L to 5L).foreach { m =>
      val batch = docs.filter(col("doc_id") % 10 === m)
      src.addData(batch.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      corpus = corpus.unionByName(batch)
      // the INVARIANT the policy buys: live segments never exceed the
      // threshold after a batch completes (the planner folds at 2)
      val live = graft.operators.IndexLayout.segmentDirs(spark, graft.operators.IndexLayout.Paths.nested(dir)).size
      assert(live < 2 + 1, s"after batch $m: $live live segments")
      assert(checked(dir) == oracle(corpus), s"after batch $m")
    }
    q.stop()
    assert(graft.operators.IndexLayout
      .listLease(spark, dir).isEmpty, "no lease leaked by in-stream folds")
  }

  // ────────────────────────────── IVF ──────────────────────────────

  test("IVF soak: build → stream → delete → compact → append → RETRAIN, pruned search exact at every step") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val queries = embs.filter(col("vec_id") < 4)
    def pruned(dir: String, m: IvfIndex.Model): Set[Seq[Any]] =
      IvfIndex.searchPruned(spark, dir, queries, "vec_id", "embedding",
          m, nprobe = 3, topK = 5)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 9),
          col("rank"))
        .collect().map(_.toSeq).toSet
    def oracle(live: DataFrame, m: IvfIndex.Model): Set[Seq[Any]] =
      IvfIndex.search(queries, live, "vec_id", "embedding", m,
          nprobe = 3, topK = 5)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 9),
          col("rank"))
        .collect().map(_.toSeq).toSet

    // (vec_id, embedding) only: streamed segments carry exactly these
    // columns, and the compaction fold unions base + segments by name
    val vecs = embs.select("vec_id", "embedding")
    val a  = vecs.filter(col("vec_id") % 3 === 0)
    val b1 = vecs.filter(col("vec_id") % 3 === 1)
    val b2 = vecs.filter(col("vec_id") % 3 === 2)
    val model = IvfIndex.train(a, "vec_id", "embedding", k = 6, iters = 2)
    val dir = s"${tmp("soak_ivf")}/index"

    IvfIndex.writeIndex(a, "vec_id", "embedding", model, dir)
    var live = a
    assert(pruned(dir, model) == oracle(live, model), "after base build")

    val src = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.streamIndex(
      src.toDF().toDF("vec_id", "embedding"), s"${tmp("soak_ivf_ckpt")}/c1",
      (b, id) => IvfIndex.writeSegment(b, "vec_id", "embedding", model, dir, id))
    src.addData(b1.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    live = live.unionByName(b1)
    assert(pruned(dir, model) == oracle(live, model), "after stream-fold")

    val del1 = live.filter(col("vec_id") % 6 === 0).select("vec_id")
    IvfIndex.removeFromIndex(del1, "vec_id", dir)
    live = live.filter(col("vec_id") % 6 =!= 0)
    assert(pruned(dir, model) == oracle(live, model), "after delete")

    IvfIndex.compactIndex(spark, dir, "vec_id")
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).isEmpty)
    assert(pruned(dir, model) == oracle(live, model), "after compaction")

    IvfIndex.appendToIndex(b2, "vec_id", "embedding", model, dir)
    live = live.unionByName(b2)
    assert(pruned(dir, model) == oracle(live, model),
      "after append onto versioned layout")

    // RETRAIN: quantizer drift repair — new model, re-clustered layout,
    // reads must be exact under the returned model
    val model2 = IvfIndex.retrainCompact(spark, dir, "vec_id", "embedding",
      k = 6, iters = 2)
    assert(pruned(dir, model2) == oracle(live, model2), "after retrain")
  }

  // ────────────────────────────── IVF-PQ ──────────────────────────────

  test("IVF-PQ soak: build → segment → delete → compact → append → RETRAIN, pruned search equals a fresh build at every step") {
    val qvec: Array[Double] = embs.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    def prunedTop(dir: String, m: IvfPq.Model): Seq[(Long, Double)] =
      IvfPq.searchPruned(spark, dir, qvec, "vec_id", "embedding", m,
          nprobe = 3, shortlist = 40, topK = 5)
        .collect().map(r => (r.getLong(0),
          math.round(r.getDouble(1) * 1e9) / 1e9)).toSeq
    // the oracle is a FRESH index over the live set, searched with the
    // same model/config — the lifecycle state (segments, tombstones,
    // version swaps) must be invisible to the read
    def oracle(live: DataFrame, m: IvfPq.Model): Seq[(Long, Double)] = {
      val d = s"${tmp("soak_ivfpq_fresh")}/index"
      IvfPq.writeIndex(live, "vec_id", "embedding", m, d)
      prunedTop(d, m)
    }

    val a  = embs.filter(col("vec_id") % 3 =!= 2 && col("vec_id") > 0)
    val b1 = embs.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0)
    val b2 = embs.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1)
    val model = IvfPq.train(a, "vec_id", "embedding", nlist = 6,
      coarseIters = 2, m = 8, k = 12, pqIters = 2)
    val dir = s"${tmp("soak_ivfpq")}/index"

    IvfPq.writeIndex(a, "vec_id", "embedding", model, dir)
    var live = a
    assert(prunedTop(dir, model) == oracle(live, model), "after base build")

    IvfPq.writeSegment(b1, "vec_id", "embedding", model, dir, batchId = 0L)
    live = live.unionByName(b1)
    assert(prunedTop(dir, model) == oracle(live, model), "after segment")

    val del1 = live.filter(col("vec_id") % 6 === 1).select("vec_id")
    IvfIndex.removeFromIndex(del1, "vec_id", dir) // shared sidecar layout
    live = live.filter(col("vec_id") % 6 =!= 1)
    assert(prunedTop(dir, model) == oracle(live, model), "after delete")

    IvfIndex.compactIndex(spark, dir, "vec_id") // shared (cell,id,…) shape
    assert(prunedTop(dir, model) == oracle(live, model), "after compaction")

    IvfPq.appendToIndex(b2, "vec_id", "embedding", model, dir)
    live = live.unionByName(b2)
    assert(prunedTop(dir, model) == oracle(live, model),
      "after append onto versioned layout")

    val model2 = IvfPq.retrainCompact(spark, dir, "vec_id", "embedding",
      nlist = 6, coarseIters = 2, m = 8, k = 12, pqIters = 2)
    assert(prunedTop(dir, model2) == oracle(live, model2), "after retrain")
  }

  // ──────────────── self-maintaining BM25 / IVF streams ────────────────

  test("SELF-MAINTAINING BM25 stream: planner-gated folds in the batch loop; retrieval exact throughout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    def retrieved(path: String): Set[Seq[Any]] =
      Bm25.topKIndexed(spark, path, "doc_id", queries, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 9))
        .collect().map(_.toSeq).toSet
    def oracle(live: DataFrame): Set[Seq[Any]] =
      Bm25.topK(live, "doc_id", "text", queries, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 9))
        .collect().map(_.toSeq).toSet

    val dir = s"${tmp("soak_bm25_maint")}/index"
    val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = 2)
    Bm25.writeIndex(docs.filter(col("doc_id") % 6 === 0), "doc_id", "text",
      dir)
    var corpus = docs.filter(col("doc_id") % 6 === 0)

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamBm25IndexMaintained(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
      s"${tmp("soak_bm25_maint_ckpt")}/c1", thresholds = t)
    (1L to 5L).foreach { m =>
      val batch = docs.filter(col("doc_id") % 6 === m)
      src.addData(batch.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      corpus = corpus.unionByName(batch)
      val live = IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).size
      assert(live <= 2, s"after batch $m: $live live segments")
      // the stats-coupled invariant: summed (n, avgdl) and retrieval
      // stay exact no matter when the in-stream fold fired
      assert(retrieved(dir) == oracle(corpus), s"after batch $m")
    }
    q.stop()
    assert(IndexLayout.listLease(spark, dir).isEmpty,
      "no lease leaked by in-stream folds")
  }

  test("SELF-MAINTAINING IVF stream: planner-gated folds in the batch loop; pruned search exact throughout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val queries = embs.filter(col("vec_id") < 4)
    def pruned(dir: String, m: IvfIndex.Model): Set[Seq[Any]] =
      IvfIndex.searchPruned(spark, dir, queries, "vec_id", "embedding",
          m, nprobe = 3, topK = 5)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 9),
          col("rank"))
        .collect().map(_.toSeq).toSet
    def oracle(live: DataFrame, m: IvfIndex.Model): Set[Seq[Any]] =
      IvfIndex.search(queries, live, "vec_id", "embedding", m,
          nprobe = 3, topK = 5)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 9),
          col("rank"))
        .collect().map(_.toSeq).toSet

    val vecs = embs.select("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") % 6 === 0)
    val model = IvfIndex.train(base, "vec_id", "embedding", k = 6, iters = 2)
    val dir = s"${tmp("soak_ivf_maint")}/index"
    IvfIndex.writeIndex(base, "vec_id", "embedding", model, dir)
    var corpus = base

    val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = 2)
    val src = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.streamIndex(
      src.toDF().toDF("vec_id", "embedding"), s"${tmp("soak_ivf_maint_ckpt")}/c1",
      (b, id) => IvfIndex.writeSegment(b, "vec_id", "embedding", model, dir, id),
      Some((IvfIndex.maintenancePlan(_, dir, t), IvfIndex.compactIndex(_, dir, "vec_id"))))
    (1L to 5L).foreach { m =>
      val batch = vecs.filter(col("vec_id") % 6 === m)
      src.addData(batch.as[(Long, Array[Float])].collect().toSeq: _*)
      q.processAllAvailable()
      corpus = corpus.unionByName(batch)
      val live = IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).size
      assert(live <= 2, s"after batch $m: $live live segments")
      assert(pruned(dir, model) == oracle(corpus, model), s"after batch $m")
    }
    q.stop()
    assert(IndexLayout.listLease(spark, dir).isEmpty,
      "no lease leaked by in-stream folds")
  }

  test("SELF-MAINTAINING IVF-PQ stream: planner-gated folds in the batch loop; pruned search equals a fresh build throughout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val qvec: Array[Double] = embs.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    def prunedTop(dir: String, m: IvfPq.Model): Seq[(Long, Double)] =
      IvfPq.searchPruned(spark, dir, qvec, "vec_id", "embedding", m,
          nprobe = 3, shortlist = 40, topK = 5)
        .collect().map(r => (r.getLong(0),
          math.round(r.getDouble(1) * 1e9) / 1e9)).toSeq
    def oracle(live: DataFrame, m: IvfPq.Model): Seq[(Long, Double)] = {
      val d = s"${tmp("soak_ivfpq_maint_fresh")}/index"
      IvfPq.writeIndex(live, "vec_id", "embedding", m, d)
      prunedTop(d, m)
    }

    val vecs = embs.select("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") % 5 === 0)
    val model = IvfPq.train(base, "vec_id", "embedding", nlist = 6,
      coarseIters = 2, m = 8, k = 12, pqIters = 2)
    val dir = s"${tmp("soak_ivfpq_maint")}/index"
    IvfPq.writeIndex(base, "vec_id", "embedding", model, dir)
    var corpus = base

    val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = 2)
    val src = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.streamIndex(
      src.toDF().toDF("vec_id", "embedding"), s"${tmp("soak_ivfpq_maint_ckpt")}/c1",
      (b, id) => IvfPq.writeSegment(b, "vec_id", "embedding", model, dir, id),
      Some((IvfIndex.maintenancePlan(_, dir, t), IvfIndex.compactIndex(_, dir, "vec_id"))))
    (1L to 4L).foreach { m =>
      val batch = vecs.filter(col("vec_id") % 5 === m)
      src.addData(batch.as[(Long, Array[Float])].collect().toSeq: _*)
      q.processAllAvailable()
      corpus = corpus.unionByName(batch)
      val live = IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).size
      assert(live <= 2, s"after batch $m: $live live segments")
      assert(prunedTop(dir, model) == oracle(corpus, model),
        s"after batch $m")
    }
    q.stop()
    assert(IndexLayout.listLease(spark, dir).isEmpty,
      "no lease leaked by in-stream folds")
  }

  // ──────── planner-fired RETRAIN from the packaged drift audits ────────

  test("IVF measure→plan→act loop: a distribution-shifted append fires RETRAIN through maintenanceAudit; a retrain quiets it") {
    val vecs = embs.select("vec_id", "embedding")
    val cut = vecs.count() * 4L / 5L
    val base = vecs.filter(col("vec_id") < cut)
    val model = IvfIndex.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val dir = s"${tmp("soak_ivf_audit")}/index"
    IvfIndex.writeIndex(base, "vec_id", "embedding", model, dir)

    // distribution-SHIFTED append: the tail lands far from every trained
    // centroid (+4 per unit dim on an ~unit-normalized embedding)
    val shifted = vecs.filter(col("vec_id") >= cut)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(4.0f)).as("embedding"))
    IvfIndex.appendToIndex(shifted, "vec_id", "embedding", model, dir)

    // ONE packaged call audits, plans, AND acts — the cron entry point,
    // so the tested path is the path an operator's scheduler runs
    val (outcome, model2) = IvfIndex.maintain(spark, dir, "vec_id",
      "embedding", model, iters = 2)
    assert(outcome.plan.recommends("retrain"),
      s"shifted-append drift must fire retrain: ${outcome.plan}")
    assert(outcome.acted == Seq("retrain"))
    assert(model2 ne model)

    // re-measure through the same packaged call: the audit retrains on
    // the same live rows the retrain used (deterministic first-k init),
    // so the cycle is quiet and the model passes through untouched
    val (outcome2, model3) = IvfIndex.maintain(spark, dir, "vec_id",
      "embedding", model2, iters = 2)
    assert(!outcome2.plan.recommends("retrain"),
      s"post-retrain cycle must be quiet: ${outcome2.plan}")
    assert(outcome2.acted.isEmpty && (model3 eq model2))
    assert(IndexLayout.listLease(spark, dir).isEmpty)
  }

  test("IVF-PQ measure→plan→act loop: a distribution-shifted append fires RETRAIN through the PQ reconstruction audit; a retrain quiets it") {
    val vecs = embs.select("vec_id", "embedding")
    val cut = vecs.count() * 4L / 5L
    val base = vecs.filter(col("vec_id") < cut)
    val model = IvfPq.train(base, "vec_id", "embedding", nlist = 4,
      coarseIters = 2, m = 8, k = 12, pqIters = 2)
    val dir = s"${tmp("soak_ivfpq_audit")}/index"
    IvfPq.writeIndex(base, "vec_id", "embedding", model, dir)

    val shifted = vecs.filter(col("vec_id") >= cut)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(4.0f)).as("embedding"))
    IvfPq.appendToIndex(shifted, "vec_id", "embedding", model, dir)

    // the packaged cycle audits BOTH rails (coarse assignment + PQ
    // reconstruction) and acts on the worse one
    val (outcome, model2) = IvfPq.maintain(spark, dir, "vec_id",
      "embedding", model, iters = 2)
    assert(outcome.plan.recommends("retrain"),
      s"shifted-append PQ drift must fire retrain: ${outcome.plan}")
    assert(outcome.acted == Seq("retrain"))

    val (outcome2, model3) = IvfPq.maintain(spark, dir, "vec_id",
      "embedding", model2, iters = 2)
    assert(!outcome2.plan.recommends("retrain"),
      s"post-retrain cycle must be quiet: ${outcome2.plan}")
    assert(outcome2.acted.isEmpty && (model3 eq model2))
    assert(IndexLayout.listLease(spark, dir).isEmpty)
  }

  test("BQ measure→plan→act loop: a distribution-shifted append fires rebuild through maintenanceAudit; the rebuild quiets it") {
    val qvecs = embs.select(col("vec_id"),
      graft.operators.PortableAnn.quant(col("embedding")).as("qv"))
    val cut = qvecs.count() * 4L / 5L
    val base = qvecs.filter(col("vec_id") < cut)
    val dir = s"${tmp("soak_bq_audit")}/index"
    graft.operators.BqIndex.writeIndex(base, "vec_id", "qv", dir)

    // shifted tail (+4096 per dim in the quantized domain) appended —
    // encoded against the PERSISTED thresholds, the drift scenario
    val shifted = qvecs.filter(col("vec_id") >= cut)
      .select(col("vec_id"),
        transform(col("qv"), x => x + lit(4096L)).as("qv"))
    graft.operators.BqIndex.appendToIndex(shifted, "vec_id", "qv", dir)
    val live = base.unionByName(shifted)

    // the packaged cycle: audit fires the rebuild, writeIndex's leased
    // swap over the live vector table IS the retrain for BQ
    val outcome = graft.operators.BqIndex.maintain(spark, dir, live,
      "vec_id", "qv")
    assert(outcome.plan.recommends("retrain"),
      s"shifted-append flip rate must fire rebuild: ${outcome.plan}")
    assert(outcome.acted == Seq("retrain"))

    // a fresh cycle audits against exactly the corpus the rebuild
    // trained on, so the flip rate is 0 — the quiet state
    val outcome2 = graft.operators.BqIndex.maintain(spark, dir, live,
      "vec_id", "qv")
    assert(!outcome2.plan.recommends("retrain"),
      s"post-rebuild cycle must be quiet: ${outcome2.plan}")
    assert(outcome2.acted.isEmpty)
    assert(IndexLayout.listLease(spark, dir).isEmpty)
  }

  // ───────────────────────────── Hybrid ─────────────────────────────

  test("HYBRID fused query mid-storm: appends, folds and PER-INDEX deletes on both layouts; exact at every step, deletes never tear") {
    import graft.operators.{BqIndex, Hybrid, PortableAnn, Similarity}
    import org.apache.spark.sql.expressions.Window
    val allDocs = docs.join(embs.select("vec_id"),
      col("doc_id") === col("vec_id"), "left_semi")
    val corpAll = embs.join(docs.select("doc_id"),
        col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id"), PortableAnn.quant(col("embedding")).as("qv"))
      .cache()
    val lexQs = Seq("s1" -> "fast hash join", "s2" -> "window sort merge",
      "s3" -> "stream filter vector")
    val qv = corpAll.filter(col("vec_id") < 3)
      .select(concat(lit("s"), (col("vec_id") + 1).cast("string"))
        .as("vec_id"), col("qv"))
    val bmDir = tmp("hybrid_bm")
    val bqDir = tmp("hybrid_bq")

    def fused(liveCount: Long): Seq[Seq[Any]] =
      Hybrid.searchIndexed(spark, bmDir, bqDir, corpAll, qv, lexQs,
        "doc_id", "vec_id", "qv", kPerSide = 20, k = 10,
        shortlist = liveCount.toInt)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

    // the in-memory twin — q162's fusion (Bm25.topK + exact d2 rank +
    // rrfFuse) over exactly the live rows, sharing NO index machinery
    // with the path under test
    def want(liveDocs: DataFrame, liveVecs: DataFrame): Seq[Seq[Any]] = {
      val lex = Bm25.topK(liveDocs, "doc_id", "text", lexQs, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("vec_id"))
      val den = liveVecs
        .crossJoin(broadcast(qv.select(col("vec_id").as("query_id"),
          col("qv").as("__q"))))
        .select(col("query_id"), col("vec_id"),
          PortableAnn.dist2(col("qv"), col("__q")).as("d2"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(lex, den, k = 10)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    }

    def check(liveDocs: DataFrame, liveVecs: DataFrame, step: String)
        : Unit = {
      val got = fused(liveVecs.count())
      assert(got.nonEmpty && got == want(liveDocs, liveVecs), step)
    }

    val base = col("doc_id") % 4 < 2
    val batch1 = col("doc_id") % 4 === 2
    val batch2 = col("doc_id") % 4 === 3
    def vecsOf(docPred: org.apache.spark.sql.Column) =
      corpAll.join(allDocs.filter(docPred).select("doc_id"),
        col("vec_id") === col("doc_id"), "left_semi")

    // 1. build both on half the corpus
    Bm25.writeIndex(allDocs.filter(base), "doc_id", "text", bmDir)
    BqIndex.writeIndex(vecsOf(base), "vec_id", "qv", bqDir)
    check(allDocs.filter(base), vecsOf(base), "fresh builds")

    // 2. grow both: a direct append into BM25, a streaming segment on BQ
    Bm25.appendToIndex(allDocs.filter(batch1), "doc_id", "text", bmDir)
    BqIndex.writeSegment(vecsOf(batch1), "vec_id", "qv", bqDir,
      batchId = 0L)
    val live2 = base || batch1
    check(allDocs.filter(live2), vecsOf(live2), "append + segment")

    // 3. a delete batch rolls out to BOTH indexes
    val del1 = col("doc_id") % 53 === 7 && col("doc_id") >= 3
    val del1Ids = allDocs.filter(live2 && del1).select("doc_id")
    Bm25.removeFromIndex(del1Ids, "doc_id", bmDir)
    BqIndex.removeFromIndex(del1Ids.select(col("doc_id").as("vec_id")),
      "vec_id", bqDir)
    val live3 = live2 && !del1
    check(allDocs.filter(live3), vecsOf(live3), "delete both")

    // 4. fold both layouts — reads must not move
    Bm25.compactIndex(spark, bmDir)
    BqIndex.compactIndex(spark, bqDir)
    check(allDocs.filter(live3), vecsOf(live3), "compact both")

    // 5. the TEAR window: a second delete lands on BM25 ONLY. The fused
    // read excludes it from BOTH legs (the delete-set union) — a doc
    // deleted from one index must not resurface through the other's
    // rank list mid-rollout
    val del2 = col("doc_id") % 53 === 11 && col("doc_id") >= 3
    val del2Ids = allDocs.filter(live3 && del2).select("doc_id")
    Bm25.removeFromIndex(del2Ids, "doc_id", bmDir)
    val live5 = live3 && !del2
    check(allDocs.filter(live5), vecsOf(live5), "mid-rollout tear")

    // 6. the rollout completes on BQ — same rows, now from both layouts
    BqIndex.removeFromIndex(del2Ids.select(col("doc_id").as("vec_id")),
      "vec_id", bqDir)
    check(allDocs.filter(live5), vecsOf(live5), "rollout complete")

    // 7. grow again (direct appends both sides), then fold both
    Bm25.appendToIndex(allDocs.filter(batch2), "doc_id", "text", bmDir)
    BqIndex.appendToIndex(vecsOf(batch2), "vec_id", "qv", bqDir)
    // batch2 is disjoint from every earlier delete's id set, so the
    // index's live set is exactly live5 ∪ batch2
    val live7 = live5 || batch2
    check(allDocs.filter(live7), vecsOf(live7), "second append")
    Bm25.compactIndex(spark, bmDir)
    BqIndex.compactIndex(spark, bqDir)
    check(allDocs.filter(live7), vecsOf(live7), "final compact")

    // no pins leak across the storm
    assert(IndexLayout.listPins(spark, s"$bmDir/postings").isEmpty)
    assert(IndexLayout.listPins(spark, s"$bqDir/codes").isEmpty)
    corpAll.unpersist()
  }

  test("a HELD hybrid snapshot survives a compaction on BOTH layouts; a fresh snapshot sees the compacted state and agrees") {
    import graft.operators.{BqIndex, Hybrid, PortableAnn}
    val allDocs = docs.join(embs.select("vec_id"),
      col("doc_id") === col("vec_id"), "left_semi")
    val corp = embs.join(docs.select("doc_id"),
        col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id"), PortableAnn.quant(col("embedding")).as("qv"))
      .cache()
    val lexQs = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val qv = corp.filter(col("vec_id") < 2)
      .select(concat(lit("s"), (col("vec_id") + 1).cast("string"))
        .as("vec_id"), col("qv"))
    val bmDir = tmp("hybsnap_bm")
    val bqDir = tmp("hybsnap_bq")
    Bm25.writeIndex(allDocs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", bmDir)
    BqIndex.writeIndex(corp.filter(col("vec_id") % 2 === 0),
      "vec_id", "qv", bqDir)
    // live segments, so the compactions below genuinely flip both layouts
    Bm25.writeIndex(allDocs.filter(col("doc_id") % 2 === 1), "doc_id",
      "text", s"$bmDir/segments/batch=1", 64)
    BqIndex.writeSegment(corp.filter(col("vec_id") % 2 === 1),
      "vec_id", "qv", bqDir, batchId = 1L)
    val n = corp.count().toInt
    val bm = Bm25.acquireSnapshot(spark, bmDir)
    val bq = BqIndex.acquireSnapshot(spark, bqDir)
    val before =
      try {
        def fuse() = Hybrid.fusedFrame(spark, bqDir, bm, bq, corp, qv,
            lexQs, "doc_id", "vec_id", "qv", kPerSide = 10, k = 5,
            shortlist = n, rrfK = 60, nShards = 64)
          .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
        val b = fuse()
        assert(b.nonEmpty)
        // both compactions land WHILE the snapshot is held: versions
        // flip, segments retire (N-1 grace), but the pins keep the
        // snapshotted layouts on disk — the held read must return the
        // SAME rows, not FileNotFound, not the new layout
        Bm25.compactIndex(spark, bmDir)
        BqIndex.compactIndex(spark, bqDir)
        assert(fuse() == b, "held snapshot moved or broke mid-compaction")
        b
      } finally {
        BqIndex.releaseSnapshot(spark, bqDir, bq)
        Bm25.releaseSnapshot(spark, bmDir, bm)
      }
    // same live rows, post-compaction layout — a fresh snapshot agrees
    val after = Hybrid.searchIndexed(spark, bmDir, bqDir, corp, qv, lexQs,
        "doc_id", "vec_id", "qv", kPerSide = 10, k = 5, shortlist = n)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(after == before)
    corp.unpersist()
  }
}
