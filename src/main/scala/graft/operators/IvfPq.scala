package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ composite index — the FAISS production shape (Jégou et al.
  * 2011, "Product quantization for nearest neighbor search"): a coarse
  * k-means quantizer partitions the LAYOUT (one parquet directory per
  * cell, so probing prunes I/O — [[IvfIndex.writeIndex]]'s property) and
  * PQ codes compress what the probed cells' scan has to touch (ADC over
  * code bytes, exact rerank only on the shortlist — [[PqIndex]]'s
  * property). The two compose without new machinery: cells bound WHICH
  * files are read, codes bound HOW MUCH of each row the distance pass
  * needs, and the stored full-precision vectors serve the final rerank.
  *
  * Query cost at scale: read nprobe cells' partitions (not the corpus),
  * ADC-fold m byte-lookups per read row (not a d-dim float dot), exact
  * distance on `shortlist` rows only.
  */
object IvfPq {

  final case class Model(coarse: IvfIndex.Model, pq: PqIndex.Model)

  /** Train both quantizers on the corpus (deterministic first-k inits,
    * like both parents).
    */
  def train(corpus: DataFrame, idCol: String, embCol: String, nlist: Int,
            coarseIters: Int, m: Int, k: Int, pqIters: Int): Model =
    Model(
      IvfIndex.train(corpus, idCol, embCol, k = nlist, iters = coarseIters),
      PqIndex.train(corpus, idCol, embCol, m = m, k = k, iters = pqIters))

  /** Persist cell-partitioned (cell, id, code, full vector): the probed
    * search reads only its cells' directories; the full vector rides
    * along for the rerank so no second source is consulted.
    */
  def writeIndex(corpus: DataFrame, idCol: String, embCol: String,
                 model: Model, path: String): Unit =
    IndexLayout.rebuild(corpus.sparkSession, IvfIndex.paths(path),
        "IvfPq.writeIndex") {
      encode(corpus, embCol, model)
        // same clustering as IvfIndex.writeIndex: O(nlist) files;
        // explicit count — exempt from AQE coalescing (Bm25.writeIndexBody)
        .repartition(model.coarse.centroids.length, col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }

  /** Cell-assign with the coarse quantizer, then PQ-encode. */
  private def encode(df: DataFrame, embCol: String, model: Model): DataFrame =
    PqIndex.encode(IvfIndex.assign(df, embCol, model.coarse), embCol, model.pq)

  /** Append new vectors to a [[writeIndex]] layout: assigned to the
    * EXISTING coarse centroids and encoded with the EXISTING codebooks
    * (the standard IVF-PQ maintenance move — quantizers drift only at
    * retrain), clustered so each touched cell gains one file, appended
    * without rewriting any cell. [[IvfIndex.compactIndex]] works
    * unchanged on this layout (same (cell, id, …) shape).
    */
  def appendToIndex(batch: DataFrame, idCol: String, embCol: String,
                    model: Model, path: String): Unit =
    IndexLayout.appendTo(batch.sparkSession, path)(
      encode(batch, embCol, model)
        .repartition(model.coarse.centroids.length, col("cell"))
        .write.mode("append").partitionBy("cell").parquet(_))

  /** Write a micro-batch as an immutable streaming SEGMENT of a
    * [[writeIndex]] layout: assigned to the existing coarse centroids,
    * encoded with the existing codebooks, written UNPARTITIONED with
    * per-batch overwrite into `$path.segments/batch=<id>` — the same
    * segment model as `IvfIndex.writeSegment` (replays converge;
    * [[searchPruned]] spans base + segments; `IvfIndex.compactIndex`
    * folds them into the cell-pruned base, the layouts being
    * shape-identical).
    */
  def writeSegment(batch: DataFrame, idCol: String, embCol: String,
                   model: Model, path: String, batchId: Long): Unit =
    IndexLayout.writeSegment(batch.sparkSession,
        IvfIndex.paths(path).segment(batchId))(
      encode(batch, embCol, model).write.mode("overwrite").parquet(_))

  /** Batch [[searchPruned]]: N queries cost ONE pruned read of the
    * union of all probe cells plus two query-bounded shuffles, instead
    * of N driver-looped jobs. Per-query ADC tables (|queries| × m × k
    * doubles) and query vectors broadcast once; the shortlist is a
    * per-query rank over the probed candidates, planned by Spark as a
    * partial per-input-partition top-shortlist plus a final rank
    * (WindowGroupLimit — no probed-set-sized window partition, pinned
    * in PlanShapeSpec), and the exact rerank touches
    * shortlist×|queries| rows. `queries` must be bounded
    * with a LONG id column (the broadcast-anchor contract all probe
    * searches carry). Row-identical to looping [[searchPruned]] per
    * query (spec-pinned) — in particular, like the single-query form it
    * does NOT exclude a query's own row when the query vector is in the
    * index (`IvfIndex.searchPruned` does; its queries carry identity,
    * raw vectors here do not).
    */
  def searchPrunedBatch(spark: SparkSession, indexPath: String,
                        queries: DataFrame, idCol: String, embCol: String,
                        model: Model, nprobe: Int, shortlist: Int,
                        topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qs: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(embCol)).collect()
      .map { r =>
        val v = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
        (r.getLong(0), v)
      }
    val cellsPer: Map[Long, Seq[Int]] = qs.map { case (qid, v) =>
      qid -> IvfIndex.probeCellsLocal(v, model.coarse, nprobe)
    }.toMap
    val allCells = cellsPer.values.flatten.toSeq.distinct.sorted
    val idx = IndexLayout.dropTombstoned(
      IvfIndex.readCells(spark, indexPath, allCells, idCol,
        IndexLayout.SegGuardBroadcastMaxBytes), idCol,
      IvfIndex.paths(indexPath).tombDir)
    val luts: Map[Long, Array[Array[Double]]] = qs.map { case (qid, v) =>
      qid -> Array.tabulate(model.pq.m) { s =>
        val sub = v.slice(s * model.pq.subDim, (s + 1) * model.pq.subDim)
        model.pq.codebooks(s).map { c =>
          var d = 0.0
          var i = 0
          while (i < sub.length) { val x = sub(i) - c(i); d += x * x; i += 1 }
          d
        }
      }
    }.toMap
    val bcLuts = spark.sparkContext.broadcast(luts)
    val bcVecs = spark.sparkContext.broadcast(qs.toMap)
    val qCells = qs.flatMap { case (qid, _) =>
      cellsPer(qid).map(c => (qid, c))
    }.toSeq.toDF("query_id", "cell")
    val adcU = udf { (qid: Long, code: Seq[Int]) =>
      val lut = bcLuts.value(qid)
      var d = 0.0
      var s = 0
      while (s < code.length) { d += lut(s)(code(s)); s += 1 }
      d
    }
    // pre-rank: row_number-over-(query window) + rank<=k filter — KEEP
    // this exact shape: InferWindowGroupLimit plans it as a partial
    // per-input-partition top-shortlist (no extra exchange) below the
    // query-keyed exchange, so no window partition is ever probed-set-
    // sized (pinned in PlanShapeSpec)
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col(idCol))
    val cand = idx.join(broadcast(qCells), Seq("cell"))
      .select(col("query_id"), col(idCol),
        adcU(col("query_id"), col("code")).as("adc"))
      .withColumn("__r", row_number().over(wShort))
      .filter(col("__r") <= shortlist)
      .select(col("query_id"), col(idCol))
    val distU = udf { (qid: Long, v: Seq[Float]) =>
      val q = bcVecs.value(qid)
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i) - q(i); d += x * x; i += 1 }
      d
    }
    // rerank: same WindowGroupLimit-eligible shape. No distinct on the
    // vector side: readCells is exactly-distinct by construction (its
    // broadcast anti-join crash-duplicate guard), so the old
    // probed-corpus-wide distinct() was a pure Exchange+HashAggregate
    // tax on every batch search
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col(idCol))
    cand.join(idx.select(col(idCol), col(embCol)), Seq(idCol))
      .select(col("query_id"), col(idCol),
        distU(col("query_id"), col(embCol)).as("dist"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** Retrain-and-compact for the composite index — the
    * `IvfIndex.retrainCompact` move with BOTH quantizers refreshed:
    * appends/segments assign to the original coarse centroids AND
    * encode with the original codebooks, so drift degrades both cell
    * recall and ADC fidelity. Reads the live rows (base + segments
    * minus tombstones; the full vector rides in the layout, so no
    * second source is consulted), trains a fresh coarse+PQ model,
    * re-encodes, and version-swaps the re-clustered layout in. Returns
    * the new model — the caller must search with it from here on.
    * WHEN to run it is measured by the q236 drift audit (see
    * `IvfIndex.retrainCompact`).
    */
  def retrainCompact(spark: SparkSession, path: String, idCol: String,
                     embCol: String, nlist: Int, coarseIters: Int,
                     m: Int, k: Int, pqIters: Int): Model =
    IndexLayout.leasedFold(spark, IvfIndex.paths(path), "IvfPq.retrainCompact") {
      (segs, tombFiles) =>
        val live = IndexLayout.foldLive(spark, IvfIndex.paths(path), "", segs,
          idCol, tombFiles).select(col(idCol), col(embCol))
        val model = train(live, idCol, embCol, nlist, coarseIters, m, k, pqIters)
        IndexLayout.writeSwap(spark, path,
          encode(live, embCol, model)
            .repartition(model.coarse.centroids.length, col("cell")),
          Some("cell"))
        model
    }

  /** PQ-side drift measurement for the composite index, completing the
    * audit family (coarse-quantizer drift is
    * [[IvfIndex.maintenanceAudit]] — same layout conventions, pass
    * `model.coarse`): mean PQ RECONSTRUCTION error (L2² between each
    * live vector and its nearest codebook word per subspace, summed
    * over subspaces — the standard PQ distortion, what ADC fidelity
    * decays with) under the CURRENT codebooks vs codebooks freshly
    * retrained on the live rows. Returns the
    * `(currentMeanRecon, retrainedMeanRecon)` pair ×1e6 for
    * [[IvfIndex.maintenancePlan]]'s ratio-based `drift` gate (the gate
    * is scale-free, so reconstruction error rides the same rail as
    * cell-assignment error). Offline read — never on a query path.
    */
  def maintenanceAudit(spark: SparkSession, path: String, idCol: String,
                       embCol: String, model: Model,
                       pqIters: Int = 2): (Long, Long) = {
    val live = IndexLayout.liveRows(spark, IvfIndex.paths(path), idCol)
      .select(col(idCol), col(embCol))
    live.cache()
    try {
      val k = model.pq.codebooks.headOption.map(_.length).getOrElse(0)
      val fresh = PqIndex.train(live, idCol, embCol,
        m = model.pq.m, k = k, iters = pqIters)
      (meanReconX1e6(live, embCol, model.pq),
        meanReconX1e6(live, embCol, fresh))
    } finally live.unpersist()
  }

  /** One cron-able maintenance cycle for a trained IVF-PQ layout, over
    * BOTH drift rails: the coarse quantizer's cell-assignment error
    * (`IvfIndex.maintenanceAudit` with `model.coarse`) and the PQ
    * reconstruction error ([[maintenanceAudit]]). The planner's
    * ratio-based gate consumes ONE pair, so the worse-relative-drift
    * rail is passed — either decaying rail must be able to fire the
    * retrain. Then [[IndexLayout.cycle]] with [[retrainCompact]] and
    * `IvfIndex.compactIndex` (the layouts share the (cell, id, …)
    * shape). Returns the outcome and the model to search with — NEW iff
    * "retrain" acted. Under a held lease neither audit runs.
    */
  def maintain(spark: SparkSession, path: String,
               idCol: String, embCol: String, model: Model,
               t: IndexLayout.MaintenanceThresholds =
                 IndexLayout.MaintenanceThresholds(),
               iters: Int = 2): (IndexLayout.MaintenanceOutcome, Model) = {
    def drift: (Long, Long) = {
      def rel(p: (Long, Long)): Double =
        if (p._2 <= 0L) 0.0 else (p._1 - p._2).toDouble / p._2
      val coarse = IvfIndex.maintenanceAudit(spark, path, idCol, embCol,
        model.coarse, iters)
      val recon = maintenanceAudit(spark, path, idCol, embCol, model, iters)
      if (rel(coarse) >= rel(recon)) coarse else recon
    }
    IndexLayout.cycle(
      IvfIndex.maintenancePlan(spark, path, t, drift = Some(drift)), model,
      () => IvfIndex.compactIndex(spark, path, idCol),
      Some(() => retrainCompact(spark, path, idCol, embCol,
        nlist = model.coarse.centroids.length, coarseIters = iters,
        m = model.pq.m,
        k = model.pq.codebooks.headOption.map(_.length).getOrElse(0),
        pqIters = iters)))
  }

  /** Mean PQ reconstruction error over `df`, ×1e6 as a long (0 for an
    * empty table). Audit-only — see [[maintenanceAudit]].
    */
  private def meanReconX1e6(df: DataFrame, embCol: String,
                            pq: PqIndex.Model): Long = {
    val cbs = pq.codebooks
    val sd = pq.subDim
    val recon = udf { v: Seq[Double] =>
      var tot = 0.0
      var s = 0
      while (s < cbs.length) {
        val book = cbs(s)
        val off = s * sd
        var best = Double.MaxValue
        var j = 0
        while (j < book.length) {
          val c = book(j)
          var d = 0.0
          var i = 0
          while (i < sd && off + i < v.length) {
            val x = v(off + i) - c(i); d += x * x; i += 1
          }
          if (d < best) best = d
          j += 1
        }
        tot += best
        s += 1
      }
      tot
    }
    val r = df.agg(
      coalesce(sum(recon(col(embCol).cast("array<double>"))), lit(0.0))
        .as("s"),
      count(lit(1)).cast("long").as("n")).head()
    val n = r.getLong(1)
    if (n == 0L) 0L else math.round(r.getDouble(0) * 1e6 / n)
  }

  /** Probe → prune → ADC-shortlist → exact rerank, all inside the probed
    * cells' partitions (base scan partition-pruned; streaming segments,
    * when present, contribute cheap full scans with the same cell
    * filter). With nprobe = nlist and shortlist ≥ corpus this degrades
    * gracefully to exact brute-force top-k (spec-pinned), the same
    * property both parents carry.
    */
  def searchPruned(spark: SparkSession, indexPath: String,
                   query: Array[Double], idCol: String, embCol: String,
                   model: Model, nprobe: Int, shortlist: Int,
                   topK: Int): DataFrame = {
    val cells = IvfIndex.probeCellsLocal(query, model.coarse, nprobe)
    val idx = IndexLayout.dropTombstoned(
      IvfIndex.readCells(spark, indexPath, cells, idCol,
        IndexLayout.SegGuardBroadcastMaxBytes),
      idCol, IvfIndex.paths(indexPath).tombDir)
    val cand = PqIndex.adcTopK(idx, idCol, model.pq, query, shortlist)
    val exact = udf { v: Seq[Float] =>
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i) - query(i); d += x * x; i += 1 }
      d
    }
    idx.join(cand.select(idCol), Seq(idCol), "left_semi")
      .select(col(idCol), exact(col(embCol)).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(topK)
  }
}
