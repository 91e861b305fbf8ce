package graft

import graft.operators.{IvfIndex, Similarity}
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {

  private def embs = Tables(spark, sf, "embeddings")
  private lazy val model = IvfIndex.train(embs, "vec_id", "embedding", k = 8, iters = 3)

  test("training is deterministic and produces k centroids") {
    assert(model.k == 8)
    val model2 = IvfIndex.train(embs, "vec_id", "embedding", k = 8, iters = 3)
    assert(model.centroids.map(_.toSeq).toSeq == model2.centroids.map(_.toSeq).toSeq)
  }

  test("assignment covers all rows and cells are within range") {
    val assigned = IvfIndex.assign(embs, "embedding", model)
    assert(assigned.count() == embs.count())
    val cells = assigned.select("cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 8))
    assert(cells.length > 1, "degenerate clustering: single cell")
  }

  test("nprobe = k recovers brute-force results exactly") {
    val queries = embs.filter(col("vec_id") < 5)
    val exact = Similarity.knnJoin(queries, embs, "vec_id", "embedding", 5)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ann = IvfIndex.search(queries, embs, "vec_id", "embedding",
      model, nprobe = 8, topK = 5)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ann == exact)
  }

  test("partition-pruned search over a written index is row-identical and prunes the scan") {
    val dir = Scratch.dir("ivf_index")
    IvfIndex.writeIndex(embs, "vec_id", "embedding", model, dir)
    val queries = embs.filter(col("vec_id") < 5)
    val pruned = IvfIndex.searchPruned(spark, dir, queries, "vec_id",
      "embedding", model, nprobe = 3, topK = 5)
    val direct = IvfIndex.search(queries, embs, "vec_id", "embedding",
      model, nprobe = 3, topK = 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("vec_id"), round(col("sim"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(rows(pruned) === rows(direct))
    // the union of driver-side probe lists matches the Spark expression's
    val sparkProbed = IvfIndex.search(queries, embs, "vec_id", "embedding",
      model, nprobe = 3, topK = Int.MaxValue)
      .select("vec_id").distinct() // reachable corpus rows
    // and the scan itself is partition-pruned: cell IN (...) reaches
    // PartitionFilters, so unprobed cells are never read
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#\\d+ IN \\(".r.findFirstIn(plan).isDefined,
      plan.take(4000))
    assert(sparkProbed.count() > 0)
  }

  test("appending vectors to the IVF index equals indexing the union") {
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    val queries = embs.filter(col("vec_id") < 5)
    val dirInc = Scratch.dir("ivf_inc")
    IvfIndex.writeIndex(half1, "vec_id", "embedding", model, dirInc)
    IvfIndex.appendToIndex(half2, "vec_id", "embedding", model, dirInc)
    val dirAll = Scratch.dir("ivf_all")
    IvfIndex.writeIndex(embs, "vec_id", "embedding", model, dirAll)
    def res(dir: String) = IvfIndex.searchPruned(spark, dir, queries,
        "vec_id", "embedding", model, nprobe = 3, topK = 5)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(res(dirInc) === res(dirAll))
  }

  test("IVF delete lifecycle: tombstoned search equals a live-only index; compaction materializes") {
    import graft.operators.IndexLayout
    val live = embs.filter(col("vec_id") % 5 =!= 0)
    val queries = embs.filter(col("vec_id") < 5)
    val dir = Scratch.dir("ivf_del")
    val liveDir = Scratch.dir("ivf_live")
    IvfIndex.writeIndex(embs, "vec_id", "embedding", model, dir)
    IvfIndex.removeFromIndex(embs.filter(col("vec_id") % 5 === 0)
      .select("vec_id"), "vec_id", dir)
    IvfIndex.writeIndex(live, "vec_id", "embedding", model, liveDir)
    def res(d: String, cap: Long = IndexLayout.SegGuardBroadcastMaxBytes) =
      IvfIndex.searchPruned(spark, d, queries, "vec_id", "embedding", model,
        3, 5, cap)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    val tombstoned = res(dir)
    assert(tombstoned === res(liveDir))
    // fold 1: removals are physical; the folded tombstone FILES are
    // RETAINED one fold (marked _FOLDED — a reader that snapshotted the
    // sidecar's file list just before the fold keeps its anti-join
    // inputs; re-filtering them is a no-op against the folded base)
    val foldedFiles = IndexLayout.tombstoneFiles(spark, s"$dir.tombstones")
    IvfIndex.compactIndex(spark, dir, "vec_id")
    assert(res(dir) === tombstoned)
    assert(spark.read.parquet(IndexLayout.resolve(spark, dir))
      .filter(col("vec_id") % 5 === 0).count() == 0)
    assert(spark.read.parquet(foldedFiles: _*).count() > 0,
      "pre-fold reader keeps its tombstone files one fold")
    assert(IndexLayout.liveTombstoneFiles(spark, s"$dir.tombstones").isEmpty,
      "the next fold snapshots nothing already materialized")
    // fold 2 retires what fold 1 marked
    IvfIndex.compactIndex(spark, dir, "vec_id")
    assert(IndexLayout.tombstoneFiles(spark, s"$dir.tombstones").isEmpty)
    assert(res(dir) === tombstoned)
    // a fresh writeIndex at a tombstoned path must not inherit the sidecar
    IvfIndex.removeFromIndex(embs.filter(col("vec_id") % 5 === 1)
      .select("vec_id"), "vec_id", dir)
    IvfIndex.writeIndex(embs, "vec_id", "embedding", model, dir)
    assert(spark.read.parquet(dir).count() == embs.count())
    assert(IndexLayout.readTombstones(spark, s"$dir.tombstones").isEmpty)
  }

  test("streamed IVF segments: search equals a full rebuild; compaction folds") {
    import graft.operators.IndexLayout
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val queries = embs.filter(col("vec_id") < 5)
    val rows = embs.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val parts = rows.groupBy { case (id, _) => (id % 3).toInt }
    val base = Scratch.dir("ivf_stream")
    val (dir, ckpt) = (s"$base/index", s"$base/ckpt")
    IvfIndex.writeIndex(parts(0).toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", model, dir)
    val src = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.streamIvfIndex(
      src.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      model, dir, ckpt)
    src.addData(parts(1).toSeq: _*)
    q.processAllAvailable()
    src.addData(parts(2).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def res(d: String, cap: Long = IndexLayout.SegGuardBroadcastMaxBytes) =
      IvfIndex.searchPruned(spark, d, queries, "vec_id", "embedding", model,
        3, 5, cap)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    val fullDir = Scratch.dir("ivf_stream_full")
    IvfIndex.writeIndex(embs, "vec_id", "embedding", model, fullDir)
    val streamed = res(dir)
    assert(streamed === res(fullDir))
    // a replayed batch overwrites its own segment — results converge
    IvfIndex.writeSegment(parts(1).toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", model, dir, batchId = 0L)
    assert(res(dir) === streamed)
    // delete a vector that only ever arrived through the stream
    val victim = parts(1).map(_._1).min
    IvfIndex.removeFromIndex(Seq(victim).toDF("vec_id"), "vec_id", dir)
    val liveDir = Scratch.dir("ivf_stream_live")
    IvfIndex.writeIndex(embs.filter(col("vec_id") =!= victim),
      "vec_id", "embedding", model, liveDir)
    val afterDelete = res(dir)
    assert(afterDelete === res(liveDir))
    // compaction folds segments into the cell-pruned base; re-running it
    // (the crash-recovery path) is a no-op
    IvfIndex.compactIndex(spark, dir, "vec_id")
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).isEmpty)
    // folded tombstone files are RETAINED one fold for in-flight readers
    // (re-filtering them is a no-op against the materialized base); the
    // re-run below retires them
    assert(IndexLayout.liveTombstoneFiles(spark, s"$dir.tombstones").isEmpty)
    assert(res(dir) === afterDelete)
    IvfIndex.compactIndex(spark, dir, "vec_id")
    assert(IndexLayout.tombstoneFiles(spark, s"$dir.tombstones").isEmpty)
    assert(res(dir) === afterDelete)
    // a fresh writeIndex at a path that previously received streamed
    // segments must not union the OLD corpus's segments into reads:
    // rebuild over a half-corpus after planting a stale segment, and the
    // search must equal a clean half-corpus index
    IvfIndex.writeSegment(parts(2).toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", model, dir, batchId = 7L)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).nonEmpty)
    val half = embs.filter(col("vec_id") % 2 === 0)
    IvfIndex.writeIndex(half, "vec_id", "embedding", model, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).isEmpty)
    val halfDir = Scratch.dir("ivf_half")
    IvfIndex.writeIndex(half, "vec_id", "embedding", model, halfDir)
    assert(res(dir) === res(halfDir))
  }

  test("IVF compaction: a segment arriving mid-compaction survives; appends follow the versioned layout") {
    import graft.operators.IndexLayout
    val queries = embs.filter(col("vec_id") < 5)
    val parts = (0 to 3).map(r => embs.filter(col("vec_id") % 4 === r))
    val dir = Scratch.dir("ivf_race")
    IvfIndex.writeIndex(parts(0), "vec_id", "embedding", model, dir)
    IvfIndex.writeSegment(parts(1), "vec_id", "embedding", model, dir, 0L)
    // snapshot, then a late segment lands
    val snapshot = IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir))
    IvfIndex.writeSegment(parts(2), "vec_id", "embedding", model, dir, 1L)
    IvfIndex.compactIndexFolding(spark, dir, "vec_id", snapshot)
    val left = IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir))
    assert(left.size == 1 && left.head.endsWith("batch=1"))
    def res(d: String, cap: Long = IndexLayout.SegGuardBroadcastMaxBytes) =
      IvfIndex.searchPruned(spark, d, queries, "vec_id", "embedding", model,
        3, 5, cap)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    val fullDir = Scratch.dir("ivf_race_full")
    IvfIndex.writeIndex(parts(0).unionAll(parts(1)).unionAll(parts(2)),
      "vec_id", "embedding", model, fullDir)
    assert(res(dir) === res(fullDir))
    // next compaction folds the survivor; layout now versioned — appends
    // must land in it
    IvfIndex.compactIndex(spark, dir, "vec_id")
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).isEmpty)
    assert(IndexLayout.currentVersion(spark, dir).isDefined)
    IvfIndex.appendToIndex(parts(3), "vec_id", "embedding", model, dir)
    val allDir = Scratch.dir("ivf_race_all")
    IvfIndex.writeIndex(embs, "vec_id", "embedding", model, allDir)
    assert(res(dir) === res(allDir))
  }

  test("retrainCompact re-clusters the grown corpus: full-probe search stays exact, maintenance state folds") {
    import graft.operators.IndexLayout
    import spark.implicits._
    // heavy drift: the model was trained on an eighth of the corpus,
    // then 7x more vectors were appended against those stale centroids
    // and a slice deleted
    val seed = embs.filter(col("vec_id") % 8 === 0)
    val staleModel = IvfIndex.train(seed, "vec_id", "embedding", k = 8, iters = 3)
    val dir = Scratch.dir("ivf_retrain")
    IvfIndex.writeIndex(seed, "vec_id", "embedding", staleModel, dir)
    IvfIndex.appendToIndex(embs.filter(col("vec_id") % 8 =!= 0),
      "vec_id", "embedding", staleModel, dir)
    IvfIndex.writeSegment(embs.filter(col("vec_id") % 8 === 1),
      "vec_id", "embedding", staleModel, dir, 0L)
    IvfIndex.removeFromIndex(embs.filter(col("vec_id") % 10 === 0)
      .select("vec_id"), "vec_id", dir)
    val newModel = IvfIndex.retrainCompact(spark, dir, "vec_id", "embedding",
      k = 8, iters = 3)
    assert(newModel.k == 8)
    // maintenance state folded: segments gone, tombstones materialized
    // (their files retained one fold for in-flight readers — live
    // snapshot empty), removed ids physically absent, layout
    // cell-partitioned and pruned
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).isEmpty)
    assert(IndexLayout.liveTombstoneFiles(spark, s"$dir.tombstones").isEmpty)
    assert(spark.read.parquet(IndexLayout.resolve(spark, dir))
      .filter(col("vec_id") % 10 === 0).count() == 0)
    // full-probe search over the retrained layout is EXACT brute force
    // on the live rows (the degradation-free property retraining must
    // preserve) — note the segment rows appended twice (%8==1 went in
    // via append AND a segment) collapse via the fold's distinct
    val live = embs.filter(col("vec_id") % 10 =!= 0)
    val queries = embs.filter(col("vec_id") < 5)
    val got = IvfIndex.searchPruned(spark, dir, queries, "vec_id",
        "embedding", newModel, nprobe = 8, topK = 5)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.knnJoin(queries, live, "vec_id", "embedding", 5)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exact)
    val plan = IvfIndex.searchPruned(spark, dir, queries, "vec_id",
        "embedding", newModel, nprobe = 3, topK = 5)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#\\d+ IN \\(".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("closure-UDF assignment regime (nlist > 32) matches a driver-side recompute") {
    val big = IvfIndex.train(embs, "vec_id", "embedding", k = 40, iters = 2)
    assert(big.k == 40)
    val assigned = IvfIndex.assign(embs, "embedding", big)
      .select("vec_id", "embedding", "cell").collect()
    val c2 = big.centroids.map(_.map(x => x * x).sum)
    assigned.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val want = big.centroids.indices.minBy { j =>
        val c = big.centroids(j)
        var s = 0.0; var i = 0
        while (i < math.min(v.length, c.length)) { s += v(i) * c(i); i += 1 }
        (c2(j) - 2.0 * s, j)
      }
      assert(r.getInt(2) === want, s"vec ${r.getLong(0)}")
    }
  }

  test("small nprobe keeps useful recall at a fraction of the scan") {
    val queries = embs.filter(col("vec_id") < 20)
    val exact = Similarity.knnJoin(queries, embs, "vec_id", "embedding", 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = IvfIndex.search(queries, embs, "vec_id", "embedding",
      model, nprobe = 3, topK = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low even for nprobe=3")
    assert(ann.subsetOf(
      Similarity.knnJoin(queries, embs, "vec_id", "embedding", 2000)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("cell read dedupes cross-segment re-delivery; guard regimes row-identical past the byte cap") {
    import graft.operators.IndexLayout
    val queries = embs.filter(col("vec_id") < 5)
    val parts = (0 to 1).map(r => embs.filter(col("vec_id") % 2 === r))
    val dir = Scratch.dir("ivf_redeliver")
    IvfIndex.writeIndex(parts(0), "vec_id", "embedding", model, dir)
    IvfIndex.writeSegment(parts(1), "vec_id", "embedding", model, dir, 0L)
    // at-least-once re-delivery of the same rows under a NEW batchId —
    // the segment-union distinct must absorb it
    IvfIndex.writeSegment(parts(1), "vec_id", "embedding", model, dir, 1L)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).size == 2)
    def res(d: String, cap: Long = IndexLayout.SegGuardBroadcastMaxBytes) =
      IvfIndex.searchPruned(spark, d, queries, "vec_id", "embedding", model,
        3, 5, cap)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    val fullDir = java.nio.file.Paths.get(Scratch.dir("ivf_redeliver_full"))
      .toString
    IvfIndex.writeIndex(embs, "vec_id", "embedding", model, fullDir)
    val want = res(fullDir)
    assert(res(dir) === want)
    // forced past the cap: the shuffle anti-join fallback must agree
    assert(res(dir, cap = 0L) === want,
      "shuffle-fallback regime disagrees with the broadcast regime")
  }
}
