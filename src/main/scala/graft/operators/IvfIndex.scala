package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor index: a k-means coarse
  * quantizer assigns every vector to a cell; queries probe only the
  * `nprobe` nearest cells. This is the standard scale path past
  * brute-force cosine (`Similarity.topK`): search cost drops from O(n) to
  * O(n·nprobe/k) per query, and the assignment is one narrow pass.
  *
  * Training is Lloyd's algorithm expressed as DataFrame ops: assignment is
  * a codegen'd argmin over k dot products; the update step aggregates
  * per-cell per-dimension means (posexplode → groupBy — one shuffle of
  * n·dim skinny rows). Only the k×dim centroid matrix ever reaches the
  * driver. Deterministic: init = first k vectors in id order, no RNG.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Past this nlist the literal-argmin expression's codegen tree cost
    * dominates the build (PERF.md "Round 6: ANN index layout": 19 s at
    * nlist=80 vs 1.5 s at 16 — tree size, not data); a closure UDF
    * holding the centroid matrix does the same arithmetic in a tight
    * loop with O(1) plan size. The arithmetic is mirrored exactly —
    * same ‖c‖²−2·x·c form, same left-to-right double accumulation as
    * DotProductExpr, ties → lowest cell — so both regimes assign identically
    * (spec-verified against a driver-side recompute).
    */
  private val MaxLiteralCells = 32

  /** Argmin-cell: lexicographic array_min over (distance, cellIdx)
    * structs (codegen) below [[MaxLiteralCells]]; the closure-UDF twin
    * above it. Distance compared as ‖c‖² − 2·x·c (equal argmin to true
    * L2, one dot per cell).
    */
  private def bestCell(embCol: Column, model: Model): Column =
    if (model.k <= MaxLiteralCells) {
      val scored = model.centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * VectorFns.dot(embCol, lit(c))).as("dist"),
          lit(i).as("cell"))
      }
      array_min(array(scored: _*)).getField("cell")
    } else {
      val cents = model.centroids
      val c2 = cents.map(_.map(x => x * x).sum)
      val f = udf { v: Seq[Double] =>
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < cents.length) {
          val c = cents(j)
          val n = math.min(v.length, c.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += v(i) * c(i); i += 1 }
          val d = c2(j) - 2.0 * s
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
      f(embCol.cast("array<double>"))
    }

  def train(df: DataFrame, idCol: String, embCol: String,
            k: Int, iters: Int): Model = {
    var centroids = df.orderBy(col(idCol)).limit(k)
      .select(col(embCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    (0 until iters).foreach { _ =>
      val model = Model(centroids)
      val assigned = df.select(col(embCol), bestCell(col(embCol), model).as("cell"))
      val sums = assigned
        .select(col("cell"), posexplode(col(embCol)).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
      val updated = centroids.zipWithIndex.map { case (old, c) =>
        val dims = sums.filter(_.getInt(0) == c)
        if (dims.isEmpty) old // empty cell keeps its centroid
        else {
          val arr = old.clone()
          dims.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          arr
        }
      }
      centroids = updated
    }
    Model(centroids)
  }

  /** Assign every row to its cell (adds `cell`). */
  def assign(df: DataFrame, embCol: String, model: Model): DataFrame =
    df.withColumn("cell", bestCell(col(embCol), model))

  /** Probe-cell list per query: the `nprobe` nearest centroids. Same
    * literal/closure regime split as [[bestCell]], same tie rule as
    * [[probeCellsLocal]].
    */
  private def probeCells(embCol: Column, model: Model, nprobe: Int): Column =
    if (model.k <= MaxLiteralCells) {
      val scored = model.centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * VectorFns.dot(embCol, lit(c))).as("dist"),
          lit(i).as("cell"))
      }
      slice(transform(array_sort(array(scored: _*)), s => s.getField("cell")),
        1, nprobe)
    } else {
      val cents = model.centroids
      val c2 = cents.map(_.map(x => x * x).sum)
      val f = udf { v: Seq[Double] =>
        cents.indices.map { j =>
          val c = cents(j)
          val n = math.min(v.length, c.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += v(i) * c(i); i += 1 }
          (c2(j) - 2.0 * s, j)
        }.sortBy(identity).take(nprobe).map(_._2)
      }
      f(embCol.cast("array<double>"))
    }

  /** ANN top-k: probe `nprobe` cells per query, exact cosine within probed
    * cells. With nprobe = k this degrades gracefully to exhaustive search
    * (recall 1.0 vs `Similarity.knnJoin` — asserted in spec).
    *
    * Assigns cells at query time — right for one-shot queries. For the
    * index-once / query-many production shape, [[writeIndex]] +
    * [[searchPruned]] skip both the assignment scan and the unprobed
    * cells' I/O entirely.
    */
  def search(queries: DataFrame, corpus: DataFrame, idCol: String,
             embCol: String, model: Model, nprobe: Int, topK: Int): DataFrame =
    searchIndexed(queries, assign(corpus, embCol, model), idCol, embCol,
      model, nprobe, topK)

  /** [[search]] over a corpus whose `cell` column is already assigned
    * (a prebuilt index): no assignment pass at query time.
    */
  def searchIndexed(queries: DataFrame, indexed: DataFrame, idCol: String,
                    embCol: String, model: Model, nprobe: Int,
                    topK: Int): DataFrame = {
    val corpus = indexed
      .withColumn("__norm", sqrt(VectorFns.dot(col(embCol), col(embCol))))
    val q = queries
      .select(col(idCol).as("query_id"), col(embCol).as("__qemb"))
      .withColumn("__qnorm", sqrt(VectorFns.dot(col("__qemb"), col("__qemb"))))
      .withColumn("cell", explode(probeCells(col("__qemb"), model, nprobe)))
    // row_number-over-(query window) + rank<=k filter — KEEP this exact
    // shape: InferWindowGroupLimit plans it as a partial per-input-
    // partition top-k (no extra exchange) below the query-keyed
    // exchange, so no window partition is ever probed-set-sized
    // (pinned in PlanShapeSpec)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    corpus.join(broadcast(q), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (VectorFns.dot(col(embCol), col("__qemb"))
          / (col("__norm") * col("__qnorm"))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** Persist the index CELL-PARTITIONED: one parquet directory per cell,
    * so a probed search reads only nprobe cells' files (partition
    * pruning) instead of scanning the corpus and discarding unprobed
    * rows after I/O. This is what makes IVF sublinear in practice —
    * the layout, not just the join.
    */
  def writeIndex(corpus: DataFrame, idCol: String, embCol: String,
                 model: Model, path: String): Unit =
    IndexLayout.rebuild(corpus.sparkSession, paths(path),
        "IvfIndex.writeIndex") {
      assign(corpus, embCol, model)
        // cluster by cell: each write task owns whole cells, so the layout
        // is O(nlist) files instead of tasks x nlist. Explicit count:
        // exempt from AQE coalescing (see Bm25.writeIndexBody)
        .repartition(model.centroids.length, col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }

  /** The lifecycle paths of a [[writeIndex]] layout (also IvfPq's): the
    * index path is the cell-partitioned table itself, so segments and
    * tombstones sit beside it.
    */
  private[operators] def paths(path: String): IndexLayout.Paths =
    IndexLayout.Paths.sibling(path)

  /** Append new vectors to a [[writeIndex]] layout: assigned to the
    * EXISTING centroids (the standard IVF maintenance move — cells drift
    * only at the next retrain), written into their cells' partitions
    * without rewriting existing files.
    */
  def appendToIndex(batch: DataFrame, idCol: String, embCol: String,
                    model: Model, path: String): Unit =
    IndexLayout.appendTo(batch.sparkSession, path)(
      assign(batch, embCol, model)
        // explicit count: exempt from AQE coalescing (see Bm25.writeIndexBody)
        .repartition(model.centroids.length, col("cell"))
        .write.mode("append").partitionBy("cell").parquet(_))

  /** Tombstone vectors OUT of a [[writeIndex]] layout — O(batch)
    * appended rows in the SIBLING `$path.tombstones` sidecar (the index
    * path is itself the cell-partitioned directory; a subdir inside it
    * would break partition discovery). [[searchPruned]] anti-joins them;
    * [[compactIndex]] materializes. The standard IVF delete move: cells
    * are never rewritten inline, centroids drift only at retrain.
    */
  def removeFromIndex(ids: DataFrame, idCol: String, path: String): Unit =
    IndexLayout.appendTombstones(ids, idCol, paths(path).tombDir)

  /** Write a micro-batch as an immutable streaming SEGMENT of a
    * [[writeIndex]] layout: assigned to the EXISTING centroids, written
    * UNPARTITIONED (Lucene's small-segment shape — cell rides as a data
    * column; a per-cell partitioned write at micro-batch size is ~all
    * fixed cost and a tiny segment is cheap to scan) with per-batch
    * OVERWRITE into `$path.segments/batch=<id>`, so a replayed batch
    * replaces its own prior partial segment. [[searchPruned]] spans
    * base + segments; [[compactIndex]] folds segments into the base's
    * cell-pruned partitioned form.
    */
  def writeSegment(batch: DataFrame, idCol: String, embCol: String,
                   model: Model, path: String, batchId: Long): Unit =
    IndexLayout.writeSegment(batch.sparkSession, paths(path).segment(batchId))(
      assign(batch, embCol, model).write.mode("overwrite").parquet(_))

  /** Segment-merge for the IVF layout: rewrite each cell clustered
    * (append small files merged, streaming segments folded in) with
    * tombstoned vectors dropped, then clear the segments and the
    * sidecar. Search results identical before and after (pinned in
    * IvfIndexSpec). With segments the fold is a DISTINCT union, so
    * re-running a crashed compaction converges.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   idCol: String = "vec_id"): Unit =
    IndexLayout.leasedFold(spark, paths(path), "IvfIndex.compactIndex")(
      foldCells(spark, path, idCol))

  /** [[compactIndex]] over an explicit segment snapshot, unleased (split
    * out so the spec can replay a segment landing mid-fold).
    */
  private[graft] def compactIndexFolding(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, segs: Seq[String]): Unit =
    IndexLayout.foldSnapshot(spark, paths(path), segs)(
      foldCells(spark, path, idCol))

  /** The IVF fold over a (segments, tombstone files) snapshot. */
  private def foldCells(spark: org.apache.spark.sql.SparkSession,
                        path: String, idCol: String)
                       (segs: Seq[String], tombFiles: Seq[String]): Unit =
    if (segs.isEmpty)
      IndexLayout.rewriteInPlace(spark, path,
        if (IndexLayout.partitionedLayout(spark, path, "cell")) Some("cell")
        else None,
        IndexLayout.dropIdsIn(_, idCol, tombFiles))
    else
      IndexLayout.writeSwap(spark, path,
        IndexLayout.foldLive(spark, paths(path), "", segs, idCol, tombFiles),
        Some("cell"))

  /** Retrain-and-compact — the lifecycle move for CENTROID DRIFT, which
    * plain [[compactIndex]] cannot fix: appends and streamed segments
    * assign to the ORIGINAL centroids (the standard IVF maintenance
    * contract), so after heavy growth the cell structure no longer
    * reflects the corpus and probe recall decays. This reads the full
    * live index (base + segments minus tombstones), trains a FRESH
    * k-means model on it, reassigns every vector, and version-swaps the
    * re-clustered layout in — readers keep answering from the old
    * layout until the manifest flip. Returns the new model; the CALLER
    * must search with it from here on (probe lists are model-derived —
    * searching a retrained layout with the old model reads the wrong
    * cells). Segments and tombstones are snapshot-bounded by
    * [[IndexLayout.leasedFold]].
    *
    * WHEN to retrain is measured, not guessed: the q236 drift audit
    * (fixed-point, hash-checked) reports mean/p90
    * distance-to-assigned-centroid and cell-size skew for the current
    * model vs a retrained one over the grown corpus — retrain when the
    * gap is material (id-uniform appends measure ~0.1-0.5% mean-d2 at
    * sf0.1, i.e. no retrain due; distribution-shifted appends are what
    * move it).
    */
  def retrainCompact(spark: org.apache.spark.sql.SparkSession,
                     path: String, idCol: String, embCol: String,
                     k: Int, iters: Int): Model =
    IndexLayout.leasedFold(spark, paths(path), "IvfIndex.retrainCompact") {
      (segs, tombFiles) =>
        val live = IndexLayout.foldLive(spark, paths(path), "", segs, idCol,
          tombFiles).drop("cell")
        val model = train(live, idCol, embCol, k, iters)
        IndexLayout.writeSwap(spark, path,
          assign(live, embCol, model)
            .repartition(model.centroids.length, col("cell")), Some("cell"))
        model
    }

  /** Threshold-gated maintenance recommendations for a [[writeIndex]]
    * layout ([[IndexLayout.maintenancePlan]]; also serves IvfPq — same
    * sibling-path conventions). `drift` is the q236 audit's
    * (currentMeanD2, retrainedMeanD2): supply it and the plan gates
    * `retrain` on the measured gap; it is evaluated only while the lease
    * is free. Pure read, no lease.
    */
  def maintenancePlan(spark: org.apache.spark.sql.SparkSession, path: String,
                      t: IndexLayout.MaintenanceThresholds =
                        IndexLayout.MaintenanceThresholds(),
                      drift: => Option[(Long, Long)] = None)
      : IndexLayout.MaintenancePlan =
    IndexLayout.maintenancePlan(spark, paths(path), t, drift = drift)

  /** The q236 drift measurement packaged RUNNABLE — the planner's
    * retrain gate correctly demands a measurement instead of guessing
    * from FS metadata, and this produces it mechanically: mean
    * quantization error (L2² to the assigned centroid) of the LIVE rows
    * (base + segments − tombstones, the full vectors riding in the
    * layout) under the CURRENT `model` vs under a model freshly
    * retrained on those same rows. Returns the
    * `(currentMeanD2, retrainedMeanD2)` pair [[maintenancePlan]]'s
    * `drift` gate consumes, means scaled ×1e6 into longs (the gate is a
    * ratio, so the scale cancels). Offline read — one scan per mean plus
    * the retrain's Lloyd passes, never on a query path (which is also
    * why the corpus-wide distinct and the closure UDF are acceptable
    * here; the hot search paths use neither). Also serves IvfPq's coarse
    * quantizer (same layout conventions).
    */
  def maintenanceAudit(spark: org.apache.spark.sql.SparkSession,
                       path: String, idCol: String, embCol: String,
                       model: Model, iters: Int = 2): (Long, Long) = {
    val live = IndexLayout.liveRows(spark, paths(path), idCol)
      .select(col(idCol), col(embCol))
    live.cache()
    try {
      val fresh = train(live, idCol, embCol,
        k = model.centroids.length, iters = iters)
      (meanD2x1e6(live, embCol, model), meanD2x1e6(live, embCol, fresh))
    } finally live.unpersist()
  }

  /** One cron-able maintenance cycle for a trained IVF layout: AUDIT
    * (the q236 drift measurement, [[maintenanceAudit]]) → PLAN
    * ([[maintenancePlan]]) → [[IndexLayout.cycle]] with
    * [[retrainCompact]] as the retrain and [[compactIndex]] as the fold.
    * `iters` drives BOTH the audit's fresh train and a fired retrain,
    * so the post-retrain audit degenerates to equality (the quiet
    * state the soak loop asserts). Returns the outcome and the model
    * to search with from here on — NEW iff "retrain" acted. Under a
    * held lease the audit does not run.
    */
  def maintain(spark: org.apache.spark.sql.SparkSession, path: String,
               idCol: String, embCol: String, model: Model,
               t: IndexLayout.MaintenanceThresholds =
                 IndexLayout.MaintenanceThresholds(),
               iters: Int = 2): (IndexLayout.MaintenanceOutcome, Model) =
    IndexLayout.cycle(maintenancePlan(spark, path, t, drift =
        Some(maintenanceAudit(spark, path, idCol, embCol, model, iters))),
      model, () => compactIndex(spark, path, idCol),
      Some(() => retrainCompact(spark, path, idCol, embCol,
        k = model.centroids.length, iters = iters)))

  /** Mean L2²-to-nearest-centroid over `df`, ×1e6 as a long (0 for an
    * empty table). Audit-only — see [[maintenanceAudit]].
    */
  private def meanD2x1e6(df: DataFrame, embCol: String, m: Model): Long = {
    val cents = m.centroids
    val best = udf { v: Seq[Double] =>
      var bestD = Double.MaxValue
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        val n = math.min(v.length, c.length)
        var s = 0.0
        var i = 0
        while (i < n) { val x = v(i) - c(i); s += x * x; i += 1 }
        if (s < bestD) bestD = s
        j += 1
      }
      bestD
    }
    val r = df.agg(
      coalesce(sum(best(col(embCol).cast("array<double>"))), lit(0.0)).as("s"),
      count(lit(1)).cast("long").as("n")).head()
    val n = r.getLong(1)
    if (n == 0L) 0L else math.round(r.getDouble(0) * 1e6 / n)
  }

  /** Driver-side twin of [[probeCells]] — the model is driver state, so a
    * bounded query set's probe lists need no Spark job.
    */
  def probeCellsLocal(q: Array[Double], model: Model, nprobe: Int): Seq[Int] =
    model.centroids.zipWithIndex.map { case (c, i) =>
      (c.map(x => x * x).sum - 2.0 * c.zip(q).map(t => t._1 * t._2).sum, i)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq

  /** [[searchIndexed]] over a [[writeIndex]] layout with the probed cells
    * pushed as a PARTITION filter: the union of the (bounded) query set's
    * probe lists is computed driver-side from the model and applied as
    * `cell IN (...)`, so the scan plans `PartitionFilters` and unprobed
    * cells are never read (pinned in IvfIndexSpec). Lossless by
    * construction: each query still joins only its own probed cells —
    * pre-restricting the corpus to the UNION of probed cells drops only
    * rows no query would join. Results are row-identical to [[search]].
    *
    * `queries` must be bounded (the broadcast-anchor contract all probe
    * searches already carry) — its rows are collected to compute the
    * probe union.
    */
  def searchPruned(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String, queries: DataFrame, idCol: String,
                   embCol: String, model: Model, nprobe: Int,
                   topK: Int): DataFrame =
    searchPruned(spark, indexPath, queries, idCol, embCol, model, nprobe,
      topK, IndexLayout.SegGuardBroadcastMaxBytes)

  /** [[searchPruned]] under an explicit segment-guard broadcast cap. */
  private[graft] def searchPruned(spark: org.apache.spark.sql.SparkSession,
                                  indexPath: String, queries: DataFrame,
                                  idCol: String, embCol: String, model: Model,
                                  nprobe: Int, topK: Int,
                                  segGuardMaxBytes: Long): DataFrame = {
    val probed = queries.select(col(embCol)).collect()
      .flatMap { r =>
        val v = r.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
        probeCellsLocal(v, model, nprobe)
      }.distinct.sorted
    val indexed = IndexLayout.dropTombstoned(
      readCells(spark, indexPath, probed, idCol, segGuardMaxBytes), idCol,
      paths(indexPath).tombDir)
    searchIndexed(queries, indexed, idCol, embCol, model, nprobe, topK)
  }

  /** The probed-cell read across the base layout (partition-pruned) plus
    * the one scan over any streaming segments ([[writeSegment]] — `cell`
    * is a data column there, so the same filter applies without pruning;
    * segments are micro-batch-sized, so scanning them is the cheap case
    * by design).
    * Shared by [[searchPruned]] and `IvfPq.searchPruned`.
    *
    * Crash-duplicate guard (the BqIndex.readCodes discipline): a crashed
    * fold can leave a segment both folded into the base AND present, and
    * duplicates can ONLY be base∩segment overlap — base rows are
    * distinct at fold time, segment rows are distinct per micro-batch —
    * so the base anti-joins the broadcast micro-batch-sized segment id
    * set. The read is therefore exactly-distinct: no double-listed row
    * ever occupies two shortlist slots in the ADC/cosine pre-ranks, and
    * the rerank needs no corpus-sized `distinct()`.
    *
    * Duplicates can also be segment∩segment (an at-least-once source
    * re-delivering the same rows under a NEW batchId), so the segment
    * union is `distinct()`ed when ≥2 segments are live — the bounded
    * segment-side aggregate, never the base. The broadcast is capped
    * (`IndexLayout.SegGuardBroadcastMaxBytes` of segment bytes) with a
    * shuffle anti-join fallback for an uncompacted segment pile. Only the
    * probed cells' directories of the base are listed and read
    * ([[IndexLayout.readLive]]); the cell filter stays on the union for
    * the segments, which carry `cell` as data.
    */
  private[operators] def readCells(spark: org.apache.spark.sql.SparkSession,
                                   indexPath: String, cells: Seq[Int],
                                   idCol: String,
                                   segGuardMaxBytes: Long): DataFrame = {
    val cellList = cells.map(Integer.valueOf)
    val (base0, segs) = IndexLayout.liveParts(spark, paths(indexPath), "")
    val (baseRead, segRead) = IndexLayout.readLive(spark, base0, segs, Some(cells))
    val base = baseRead.filter(col("cell").isin(cellList: _*))
    val seg0 = segRead.filter(col("cell").isin(cellList: _*))
      .select(base.columns.map(col).toIndexedSeq: _*)
    val segDf = if (segs.length > 1) seg0.distinct() else seg0
    IndexLayout.segGuardedUnion(base, segDf, idCol,
      IndexLayout.dirBytes(spark, segs), segGuardMaxBytes)
  }
}
