package graft

import graft.operators.{BqIndex, IndexLayout, PortableAnn}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted binary-quantization code-table index (fifth layout):
  * build / search parity with the in-memory rung, append, delete,
  * streaming segments, compaction, and the code-table-bytes compression
  * claim.
  */
class BqIndexSpec extends SparkSpec {

  private def corpus: DataFrame =
    Tables(spark, sf, "embeddings").select(col("vec_id"),
      PortableAnn.quant(col("embedding")).as("qv"))

  private def tmp(tag: String): String =
    Scratch.dir(s"bq_index_$tag")

  private def qvecOf(df: DataFrame, id: Long): Array[Long] =
    df.filter(col("vec_id") === id).select(col("qv"))
      .head().getSeq[Long](0).toArray

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("persisted search is row-identical to the in-memory rung") {
    val dir = tmp("parity")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    val q = qvecOf(c, 0L)
    val (n, sums) = PortableAnn.bqTrain(c, "qv")
    val mem = PortableAnn.bqSearchWithRerank(c.filter(col("vec_id") =!= 0L),
      "vec_id", "qv", n, sums, q, shortlist = 50, topK = 10)
    val idx = BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv", q,
      shortlist = 50, topK = 10, excludeId = Some(0L))
    assert(rows(idx) == rows(mem))
  }

  test("model round-trips and rejects dimension mismatch") {
    val dir = tmp("model")
    val c = corpus
    val written = BqIndex.writeIndex(c, "vec_id", "qv", dir)
    val read = BqIndex.readModel(spark, dir)
    assert(read.n == written.n)
    assert(read.sums.toSeq == written.sums.toSeq)
    val e = intercept[IllegalArgumentException] {
      BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv",
        Array(1L, 2L), shortlist = 5, topK = 5)
    }
    assert(e.getMessage.contains("dimension"))
  }

  test("readModel rejects a misaligned model table (duplicated pos row)") {
    val dir = tmp("modelguard")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    val m = BqIndex.readModel(spark, dir)
    // a stray double-write: one duplicated pos row sorts into a
    // misaligned sums array that still passes the later dim check —
    // the contiguity guard must refuse to read it
    import spark.implicits._
    Seq((0, m.sums(0), m.n)).toDF("pos", "s", "n")
      .write.mode("append")
      .parquet(IndexLayout.resolve(spark, s"$dir/model"))
    val e = intercept[IllegalArgumentException](BqIndex.readModel(spark, dir))
    assert(e.getMessage.contains("contiguous"))
  }

  test("append lands new vectors in the shortlist scan; codes use the persisted model") {
    val dir = tmp("append")
    val c = corpus
    val base = c.filter(col("vec_id") >= 10)
    val batch = c.filter(col("vec_id") < 10)
    BqIndex.writeIndex(base, "vec_id", "qv", dir)
    BqIndex.appendToIndex(batch, "vec_id", "qv", dir)
    val live = BqIndex.readCodes(spark, dir, "vec_id")
    assert(live.count() == c.count())
    // appended codes must be encoded against the PERSISTED (base-trained)
    // model, not a batch-trained one
    val model = BqIndex.readModel(spark, dir)
    val expected = BqIndex.encode(batch, "vec_id", "qv", model)
    val got = live.filter(col("vec_id") < 10)
    assert(rows(got.orderBy("vec_id")) == rows(expected.orderBy("vec_id")))
    // search over the combined table sees appended ids
    val q = qvecOf(c, 0L)
    val res = BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv", q,
      shortlist = c.count().toInt, topK = 1, excludeId = None)
    assert(rows(res) == Seq((0L, 0L))) // the query's own row, distance 0
  }

  test("delete tombstones drop ids from search without rewriting shards") {
    val dir = tmp("delete")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    val filesBefore = IndexLayout.dataFileCount(spark, s"$dir/codes")
    val q = qvecOf(c, 0L)
    val full = BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv", q,
      shortlist = 50, topK = 10, excludeId = Some(0L))
    val victim = rows(full).head._1
    import spark.implicits._
    BqIndex.removeFromIndex(Seq(victim).toDF("vec_id"), "vec_id", dir)
    assert(IndexLayout.dataFileCount(spark, s"$dir/codes") == filesBefore,
      "delete must not rewrite the code table")
    val after = BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv", q,
      shortlist = 50, topK = 10, excludeId = Some(0L))
    assert(!rows(after).exists(_._1 == victim))
    // and equals the in-memory rung over the live rows
    val liveCorpus = c.filter(col("vec_id") =!= victim)
    val (n, sums) = BqIndex.readModel(spark, dir) match {
      case m => (m.n, m.sums)
    }
    val mem = PortableAnn.bqSearchWithRerank(
      liveCorpus.filter(col("vec_id") =!= 0L), "vec_id", "qv", n, sums, q,
      shortlist = 50, topK = 10)
    assert(rows(after) == rows(mem))
  }

  test("streaming segments fold into the base; search identical before and after compaction") {
    val dir = tmp("segments")
    val c = corpus
    val base = c.filter(col("vec_id") % 3 === 0)
    val seg1 = c.filter(col("vec_id") % 3 === 1)
    val seg2 = c.filter(col("vec_id") % 3 === 2)
    BqIndex.writeIndex(base, "vec_id", "qv", dir)
    BqIndex.writeSegment(seg1, "vec_id", "qv", dir, batchId = 0L)
    BqIndex.writeSegment(seg2, "vec_id", "qv", dir, batchId = 1L)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).size == 2)
    val q = qvecOf(c, 0L)
    def run() = rows(BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv",
      q, shortlist = 50, topK = 10, excludeId = Some(0L)))
    val before = run()
    BqIndex.compactIndex(spark, dir)
    // folded segments retired with N-1 grace: marked, gone after the
    // NEXT fold
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    assert(run() == before)
    BqIndex.compactIndex(spark, dir)
    val segRoot = new org.apache.hadoop.fs.Path(s"$dir/segments")
    val fs = segRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(segRoot) || fs.listStatus(segRoot)
      .forall(s => !s.getPath.getName.startsWith("batch=")))
    // a replayed batch replaces its own segment (overwrite), staying live
    BqIndex.writeSegment(seg1, "vec_id", "qv", dir, batchId = 0L)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).size == 1)
    // double-listed rows (segment + folded base) stay row-exact under
    // the distinct guard
    assert(run() == before)
  }

  test("compaction materializes tombstones and bounds file count") {
    val dir = tmp("compact")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    import spark.implicits._
    BqIndex.removeFromIndex(Seq(1L, 2L, 3L).toDF("vec_id"), "vec_id", dir)
    (0 until 3).foreach { i =>
      BqIndex.appendToIndex(c.filter(col("vec_id") === (500L + i)), "vec_id",
        "qv", dir)
    }
    val before = IndexLayout.dataFileCount(spark, s"$dir/codes")
    BqIndex.compactIndex(spark, dir)
    val after = IndexLayout.dataFileCount(spark, s"$dir/codes")
    assert(after < before, s"compaction must merge small files ($before -> $after)")
    val live = BqIndex.readCodes(spark, dir, "vec_id")
    assert(live.filter(col("vec_id").isin(1L, 2L, 3L)).count() == 0)
    // tombstone sidecar snapshot retired (marked; cleared next fold)
    assert(IndexLayout.liveTombstoneFiles(spark, s"$dir/tombstones").isEmpty)
  }

  test("maintenance is serialized by the lease; search needs no lease") {
    val dir = tmp("lease")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    IndexLayout.acquireLease(spark, dir, "test-holder")
    try {
      val e = intercept[IllegalStateException] {
        BqIndex.compactIndex(spark, dir)
      }
      assert(e.getMessage.contains("lease"))
      // reads are isolated by snapshots, not locks
      val q = qvecOf(c, 0L)
      assert(rows(BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv",
        q, shortlist = 50, topK = 10, excludeId = Some(0L))).size == 10)
    } finally IndexLayout.releaseLease(spark, dir)
  }

  test("batch search in one scan is row-identical to per-query searches") {
    val dir = tmp("batch")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    val queries = c.filter(col("vec_id") < 4)
    val batch = BqIndex.searchBatch(spark, dir, c, queries, "vec_id", "qv",
        shortlist = 30, topK = 5, excludeSelf = true)
      .select("query_id", "vec_id", "d2", "rank")
      .collect().map(_.toSeq).toSet
    val perQuery = queries.select("vec_id").collect().map(_.getLong(0))
      .flatMap { qid =>
        val q = qvecOf(c, qid)
        BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv", q,
            shortlist = 30, topK = 5, excludeId = Some(qid))
          .collect().zipWithIndex
          .map { case (r, i) =>
            Seq(qid, r.getLong(0), r.getLong(1), (i + 1).toLong)
          }
      }.toSet
    assert(batch == perQuery)
  }

  test("batch search drops null query vectors instead of returning arbitrary rows") {
    val dir = tmp("nullq")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    // a null vector used to code to 0 and rerank to null d2 — which
    // sorts FIRST ascending, silently returning arbitrary rows at
    // ranks 1..topK for that query
    val queries = c.filter(col("vec_id") < 2)
      .unionByName(c.filter(col("vec_id") === 2)
        .select(col("vec_id"), lit(null).cast("array<bigint>").as("qv")))
    val got = BqIndex.searchBatch(spark, dir, c, queries, "vec_id", "qv",
      shortlist = 30, topK = 5, excludeSelf = true)
    assert(got.filter(col("query_id") === 2L).count() == 0,
      "null-vector query must contribute no rows")
    assert(got.select("query_id").distinct().count() == 2)
  }

  test("streamed micro-batches maintain the index; reads equal a from-scratch build") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tmp("stream")
    val c = corpus
    val base = c.filter(col("vec_id") % 2 === 0)
    BqIndex.writeIndex(base, "vec_id", "qv", dir)
    val src = MemoryStream[(Long, Array[Long])]
    val q = graft.streaming.StreamingOps.streamIndex(
      src.toDF().toDF("vec_id", "qv"), s"${tmp("stream_ckpt")}/c1",
      (b, id) => BqIndex.writeSegment(b, "vec_id", "qv", dir, id))
    val b1 = c.filter(col("vec_id") % 4 === 1)
    src.addData(b1.as[(Long, Array[Long])].collect().toSeq: _*)
    q.processAllAvailable()
    val b2 = c.filter(col("vec_id") % 4 === 3)
    src.addData(b2.as[(Long, Array[Long])].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).size == 2)
    val qv = qvecOf(c, 0L)
    def run(d: String) = rows(BqIndex.searchWithRerank(spark, d, c,
      "vec_id", "qv", qv, shortlist = 50, topK = 10, excludeId = Some(0L)))
    val fresh = tmp("stream_fresh")
    // the from-scratch oracle shares the streamed index's MODEL (trained
    // on the base — segments encode against it, the rebuild contract),
    // so build fresh over base then append the rest in one batch
    BqIndex.writeIndex(base, "vec_id", "qv", fresh)
    BqIndex.appendToIndex(c.filter(col("vec_id") % 2 === 1), "vec_id",
      "qv", fresh)
    assert(run(dir) == run(fresh), "streamed == from-scratch")
    BqIndex.compactIndex(spark, dir)
    assert(run(dir) == run(fresh), "identical after fold")
  }

  test("self-maintaining stream: planner-gated folds bound live segments; reads exact") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tmp("selfmaint")
    val c = corpus
    val base = c.filter(col("vec_id") % 4 === 0)
    BqIndex.writeIndex(base, "vec_id", "qv", dir)
    val t = IndexLayout.MaintenanceThresholds(maxLiveSegments = 1)
    val src = MemoryStream[(Long, Array[Long])]
    val q = graft.streaming.StreamingOps.streamIndex(
      src.toDF().toDF("vec_id", "qv"), s"${tmp("selfmaint_ckpt")}/c1",
      (b, id) => BqIndex.writeSegment(b, "vec_id", "qv", dir, id),
      Some((BqIndex.maintenancePlan(_, dir, t), BqIndex.compactIndex(_, dir, "vec_id"))))
    (1L to 3L).foreach { m =>
      val b = c.filter(col("vec_id") % 4 === m)
      src.addData(b.as[(Long, Array[Long])].collect().toSeq: _*)
      q.processAllAvailable()
      assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).size <= 1,
        s"after batch $m: planner must fold at 1 live segment")
    }
    q.stop()
    val qv = qvecOf(c, 0L)
    val got = rows(BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv",
      qv, shortlist = 50, topK = 10, excludeId = Some(0L)))
    val fresh = tmp("selfmaint_fresh")
    BqIndex.writeIndex(base, "vec_id", "qv", fresh)
    BqIndex.appendToIndex(c.filter(col("vec_id") % 4 =!= 0), "vec_id",
      "qv", fresh)
    val want = rows(BqIndex.searchWithRerank(spark, fresh, c, "vec_id",
      "qv", qv, shortlist = 50, topK = 10, excludeId = Some(0L)))
    assert(got == want)
    assert(IndexLayout.listLease(spark, dir).isEmpty)
  }

  test("segment-state read: the crash-duplicate guard is a broadcast anti-join, never a corpus-wide shuffle") {
    val dir = tmp("segread")
    val c = corpus
    val base = c.filter(col("vec_id") % 2 === 0)
    BqIndex.writeIndex(base, "vec_id", "qv", dir)
    BqIndex.writeSegment(c.filter(col("vec_id") % 2 === 1), "vec_id", "qv",
      dir, batchId = 0L)
    // the steady streaming state (a live segment) must NOT pay a
    // corpus-sized distinct: base∩segment overlap is the only possible
    // duplicate class, so the guard is base ANTI-JOIN broadcast(segment
    // ids) ∪ segments — scan-shaped, no exchange, no aggregate
    val p = BqIndex.readCodes(spark, dir, "vec_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffle in the segment-state read:\n$p")
    assert(!p.contains("HashAggregate"),
      s"corpus-wide distinct leaked back into the read path:\n$p")
    // the pre-rank over that read keeps the heap shape (q90's pin, now
    // asserted in the segment-bearing state the bench never sees)
    val q = qvecOf(c, 0L)
    val search = BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv", q,
      shortlist = 50, topK = 10, excludeId = Some(0L))
    assert(search.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    // and stays row-identical to the same rows in a single-layout index
    // (same model: fresh build over the base, batch appended)
    val fresh = tmp("segread_fresh")
    BqIndex.writeIndex(base, "vec_id", "qv", fresh)
    BqIndex.appendToIndex(c.filter(col("vec_id") % 2 === 1), "vec_id",
      "qv", fresh)
    val want = rows(BqIndex.searchWithRerank(spark, fresh, c, "vec_id",
      "qv", q, shortlist = 50, topK = 10, excludeId = Some(0L)))
    assert(rows(search) == want)
  }

  test("batch pre-rank bounds every scan partition BEFORE the exchange (WindowGroupLimit Partial)") {
    val dir = tmp("batchpartial")
    val c = corpus
    BqIndex.writeIndex(c.repartition(8), "vec_id", "qv", dir)
    // tiny files coalesce into one split by default (maxPartitionBytes
    // packing), which would satisfy the window's clustering for free —
    // force a multi-partition scan so the pushdown's Partial stage is
    // actually REQUIRED to appear below the query-keyed exchange
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val p = BqIndex.searchBatch(spark, dir, c,
          c.filter(col("vec_id") < 3), "vec_id", "qv",
          shortlist = 30, topK = 5, excludeSelf = true)
        .queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"), p.take(4000))
      assert(p.contains(", Partial"),
        s"no partial rank below the exchange — each per-query window " +
          s"partition would sort the whole code table:\n${p.take(4000)}")
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("code table is an order of magnitude smaller than the vector table") {
    val dir = tmp("bytes")
    val c = corpus
    BqIndex.writeIndex(c, "vec_id", "qv", dir)
    val codeBytes = BqIndex.codeTableBytes(spark, dir)
    val vecDir = Scratch.dir("bq_vectors")
    c.write.mode("overwrite").parquet(vecDir)
    val vecBytes = IndexLayout.parquetBytes(spark, vecDir)
    assert(codeBytes > 0 && codeBytes * 5 < vecBytes,
      s"code table $codeBytes B should be far below vectors $vecBytes B")
  }

  test("at-least-once re-delivery: the same rows under a NEW batchId dedupe across segments") {
    val dir = tmp("redeliver")
    val c = corpus
    val base = c.filter(col("vec_id") % 3 === 0)
    val inc = c.filter(col("vec_id") % 3 =!= 0)
    BqIndex.writeIndex(base, "vec_id", "qv", dir)
    BqIndex.writeSegment(inc, "vec_id", "qv", dir, batchId = 0L)
    // the source crashes after delivering batch 0 but before committing
    // its offset; the SAME rows come back under batchId 1 — per-batch
    // overwrite only protects replays of the same batchId, so the
    // read-path segment-union distinct must absorb this
    BqIndex.writeSegment(inc, "vec_id", "qv", dir, batchId = 1L)
    val live = BqIndex.readCodes(spark, dir, "vec_id")
    assert(live.count() == c.count())
    assert(live.groupBy("vec_id").count().filter(col("count") > 1L).count() == 0,
      "a cross-segment duplicate id survived the read")
    // and it must not occupy two shortlist slots / appear at two ranks
    val q = qvecOf(c, 0L)
    val got = rows(BqIndex.searchWithRerank(spark, dir, c, "vec_id", "qv", q,
      shortlist = 50, topK = 10, excludeId = Some(0L)))
    val fresh = tmp("redeliver_fresh")
    BqIndex.writeIndex(base, "vec_id", "qv", fresh)
    BqIndex.appendToIndex(inc, "vec_id", "qv", fresh)
    val want = rows(BqIndex.searchWithRerank(spark, fresh, c, "vec_id", "qv",
      q, shortlist = 50, topK = 10, excludeId = Some(0L)))
    assert(got == want)
  }

  test("segment-guard regimes are row-identical (forced shuffle fallback past the byte cap)") {
    val dir = tmp("segguard")
    val c = corpus
    BqIndex.writeIndex(c.filter(col("vec_id") % 2 === 0), "vec_id", "qv", dir)
    BqIndex.writeSegment(c.filter(col("vec_id") % 2 === 1), "vec_id", "qv",
      dir, batchId = 0L)
    // a crashed fold's leftover: rows present in BOTH base and segment
    BqIndex.writeSegment(c.filter(col("vec_id") % 4 === 0), "vec_id", "qv",
      dir, batchId = 1L)
    def live(cap: Long = IndexLayout.SegGuardBroadcastMaxBytes): Seq[Seq[Any]] =
      BqIndex.readCodes(spark, dir, "vec_id", cap)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val want = live() // broadcast regime (tiny segments, default cap)
    assert(want.length == c.count())
    assert(live(cap = 0L) == want,
      "shuffle-fallback regime disagrees with the broadcast regime")
  }
}
