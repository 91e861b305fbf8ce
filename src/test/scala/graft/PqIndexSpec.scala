package graft

import graft.operators.PqIndex
import graft.functions.VectorFns
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf, "embeddings")
  private lazy val model =
    PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 3)

  test("PQ training is deterministic and shapes are right") {
    val again = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 3)
    assert(model.codebooks.length == 8)
    assert(model.codebooks.forall(_.length == 16))
    assert(model.codebooks.forall(_.forall(_.length == 8)))
    assert(model.codebooks.flatten.flatten.toSeq == again.codebooks.flatten.flatten.toSeq)
  }

  test("codes compress 64 floats to 8 byte-range ints and reconstruct " +
    "better than the global-mean baseline") {
    val enc = PqIndex.encode(emb, "embedding", model)
    val codes = enc.select(col("code")).head().getSeq[Int](0)
    assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))

    val se = udf { (a: Seq[Float], b: Seq[Double]) =>
      a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum
    }
    val pqErr = PqIndex.decode(enc, "code", model)
      .select(avg(se(col("embedding"), col("decoded")))).head().getDouble(0)
    // baseline: the best 0-bit "code" is the global mean vector
    val meanVec = emb.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg(col("v").cast("double")).as("m"))
      .orderBy("pos").collect().map(_.getDouble(1))
    val baseErr = emb
      .select(avg(se(col("embedding"), typedLit(meanVec.toSeq)))).head().getDouble(0)
    assert(pqErr < baseErr * 0.8, s"pq=$pqErr base=$baseErr")
  }

  test("ADC shortlist + exact rerank recovers the exact top-k") {
    val queries = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id"), col("embedding")).collect()
    val recalls = queries.map { row =>
      val qid = row.getLong(0)
      val q = row.getSeq[Float](1).map(_.toDouble).toArray
      val exact = emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          (VectorFns.dot(col("embedding"), col("embedding"))
            - lit(2.0) * VectorFns.dot(col("embedding"), lit(q))).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val reranked = PqIndex.searchWithRerank(
          emb.filter(col("vec_id") =!= qid), "vec_id", "embedding",
          model, q, shortlist = 50, topK = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect reranked).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.6, s"mean reranked recall@10 = $mean (${recalls.mkString(",")})")
  }

  test("IVF-PQ composite: full probe + corpus shortlist degrades to exact; probed search prunes") {
    import graft.operators.{IvfIndex, IvfPq}
    val n = emb.count().toInt
    val composite = IvfPq.Model(
      IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 2), model)
    val dir = Scratch.dir("ivfpq")
    IvfPq.writeIndex(emb, "vec_id", "embedding", composite, dir)
    val q = emb.orderBy(col("vec_id")).limit(1)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    // graceful degradation: nprobe = nlist, shortlist = corpus ⇒ row-equal
    // to PQ's exact-rerank brute force (same arithmetic, same tie-break)
    val full = IvfPq.searchPruned(spark, dir, q, "vec_id", "embedding",
        composite, nprobe = 4, shortlist = n, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = PqIndex.searchWithRerank(emb, "vec_id", "embedding",
        model, q, shortlist = n, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === brute)
    // probed: partition filter reaches the scan; recall stays useful
    val probed = IvfPq.searchPruned(spark, dir, q, "vec_id", "embedding",
      composite, nprobe = 2, shortlist = 50, topK = 10)
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#\\d+ IN \\(".r.findFirstIn(plan).isDefined,
      plan.take(3000))
    val got = probed.collect().map(_.getLong(0)).toSet
    val hits = (got intersect brute.map(_._1).toSet).size
    assert(hits >= 5, s"probed IVF-PQ recall@10 = ${hits / 10.0}")
  }

  test("IVF-PQ append + delete lifecycle equals a live-only rebuild; compaction is invisible") {
    import graft.operators.{IndexLayout, IvfIndex, IvfPq}
    val n = emb.count().toInt
    val composite = IvfPq.Model(
      IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 2), model)
    val q = emb.orderBy(col("vec_id")).limit(1)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    def search(dir: String) =
      IvfPq.searchPruned(spark, dir, q, "vec_id", "embedding",
          composite, nprobe = 4, shortlist = n, topK = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // APPEND: base on %3!=0, fold in %3==0 — same quantizers, so the
    // incremental index is row-equal to a from-scratch build of the union
    val incDir = Scratch.dir("ivfpq_inc")
    IvfPq.writeIndex(emb.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", composite, incDir)
    IvfPq.appendToIndex(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", composite, incDir)
    val fullDir = Scratch.dir("ivfpq_full")
    IvfPq.writeIndex(emb, "vec_id", "embedding", composite, fullDir)
    assert(search(incDir) === search(fullDir))

    // DELETE: tombstone %5==0 out — search equals a rebuild on the live
    // set; compaction materializes, clears the sidecar, results unchanged
    IvfIndex.removeFromIndex(emb.filter(col("vec_id") % 5 === 0)
      .select("vec_id"), "vec_id", incDir)
    val liveDir = Scratch.dir("ivfpq_live")
    IvfPq.writeIndex(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", composite, liveDir)
    val tombstoned = search(incDir)
    assert(tombstoned === search(liveDir))
    IvfIndex.compactIndex(spark, incDir, "vec_id")
    assert(search(incDir) === tombstoned)
    // folded tombstone files are retained one fold for in-flight readers
    assert(IndexLayout.liveTombstoneFiles(spark, s"$incDir.tombstones").isEmpty)

    // STREAMING SEGMENTS: fold %3==0 back in as two segments — search
    // equals the live-set-plus-batch rebuild; compaction folds, replays
    // converge (same fixed quantizers, so the layouts are row-equal)
    val backIn = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 3 === 0)
    IvfPq.writeIndex(emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", composite, incDir)
    IvfPq.writeSegment(backIn.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", composite, incDir, batchId = 0L)
    IvfPq.writeSegment(backIn.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", composite, incDir, batchId = 1L)
    val segmented = search(incDir)
    assert(segmented === search(liveDir))
    IvfPq.writeSegment(backIn.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", composite, incDir, batchId = 0L) // replay
    assert(search(incDir) === segmented)
    IvfIndex.compactIndex(spark, incDir, "vec_id")
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(incDir)).isEmpty)
    assert(search(incDir) === segmented)
  }

  test("IVF-PQ batch search is row-identical to the per-query loop") {
    import graft.operators.{IvfIndex, IvfPq}
    val composite = IvfPq.Model(
      IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 2), model)
    val dir = Scratch.dir("ivfpq_batch")
    IvfPq.writeIndex(emb, "vec_id", "embedding", composite, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val batch = IvfPq.searchPrunedBatch(spark, dir, queries, "vec_id",
        "embedding", composite, nprobe = 2, shortlist = 50, topK = 10)
      .select(col("query_id"), col("vec_id"), round(col("dist"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    val looped = queries.select("vec_id", "embedding").collect().flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      IvfPq.searchPruned(spark, dir, qv, "vec_id", "embedding",
          composite, nprobe = 2, shortlist = 50, topK = 10)
        .collect().zipWithIndex.map { case (row, i) =>
          Seq(qid, row.getLong(0),
            BigDecimal(row.getDouble(1)).setScale(9,
              BigDecimal.RoundingMode.HALF_UP).toDouble, (i + 1).toLong)
        }
    }.toSet
    assert(batch === looped)
    assert(batch.nonEmpty)
    // one scan, partition-pruned to the UNION of the queries' cells
    val plan = IvfPq.searchPrunedBatch(spark, dir, queries, "vec_id",
        "embedding", composite, nprobe = 2, shortlist = 50, topK = 10)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#\\d+ IN \\(".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("IVF-PQ retrainCompact refreshes both quantizers: exact at full width, state folds") {
    import graft.operators.{IndexLayout, IvfIndex, IvfPq}
    // drift: both quantizers trained on a quarter of the corpus, the
    // rest appended/streamed against them, a slice deleted
    val seed = emb.filter(col("vec_id") % 4 === 0)
    val stale = IvfPq.train(seed, "vec_id", "embedding",
      nlist = 4, coarseIters = 2, m = 8, k = 16, pqIters = 2)
    val dir = Scratch.dir("ivfpq_retrain")
    IvfPq.writeIndex(seed, "vec_id", "embedding", stale, dir)
    IvfPq.appendToIndex(emb.filter(col("vec_id") % 4 === 1 || col("vec_id") % 4 === 2),
      "vec_id", "embedding", stale, dir)
    IvfPq.writeSegment(emb.filter(col("vec_id") % 4 === 3),
      "vec_id", "embedding", stale, dir, batchId = 0L)
    IvfIndex.removeFromIndex(emb.filter(col("vec_id") % 5 === 0)
      .select("vec_id"), "vec_id", dir)
    val fresh = IvfPq.retrainCompact(spark, dir, "vec_id", "embedding",
      nlist = 4, coarseIters = 2, m = 8, k = 16, pqIters = 2)
    // maintenance state folded; removed ids physically absent
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.sibling(dir)).isEmpty)
    // folded tombstone files are retained one fold for in-flight readers
    assert(IndexLayout.liveTombstoneFiles(spark, s"$dir.tombstones").isEmpty)
    assert(spark.read.parquet(IndexLayout.resolve(spark, dir))
      .filter(col("vec_id") % 5 === 0).count() == 0)
    // graceful-degradation exactness with the NEW model: nprobe = nlist,
    // shortlist = corpus equals PQ exact-rerank brute force on live rows
    val live = emb.filter(col("vec_id") % 5 =!= 0)
    val n = live.count().toInt
    val q = emb.orderBy(col("vec_id")).limit(1)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val got = IvfPq.searchPruned(spark, dir, q, "vec_id", "embedding",
        fresh, nprobe = 4, shortlist = n, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = PqIndex.searchWithRerank(live, "vec_id", "embedding",
        fresh.pq, q, shortlist = n, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === brute)
  }
}
