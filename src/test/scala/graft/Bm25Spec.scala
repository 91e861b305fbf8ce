package graft

import graft.operators.{Bm25, IndexLayout}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def embDocs = Seq(
    (1L, "apple banana apple"),
    (2L, "apple cherry"),
    (3L, "banana banana banana cherry")).toDF("doc_id", "text")

  /** Every file under `dir` with its modification time. */
  private def fileTimes(dir: String): Map[String, Long] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally walk.close()
  }

  /** The live stats row of `docs` as the retired formats stored it:
    * (n, avgdl, sum_len, n_len), totals over `docs`.
    */
  private def statsOf(docs: org.apache.spark.sql.DataFrame) = {
    val toks = size(graft.functions.TextFns.words(col("text")))
    docs.agg(count(lit(1)).cast("double").as("n"), avg(toks).as("avgdl"),
      sum(toks).cast("double").as("sum_len"),
      count(lit(1)).cast("double").as("n_len"))
  }

  test("bm25 matches a hand-computed score on a 3-doc corpus") {
    val out = Bm25.topK(embDocs, "doc_id", "text", Seq("q" -> "apple"), k = 3)
      .orderBy("rank").collect()
    // N=3, avgdl=3; "apple": df=2, idf=ln(1 + 1.5/2.5)=ln(1.6)
    // d1: tf=2, len=3 -> 2*2.2/(2 + 1.2*(0.25 + 0.75)) = 4.4/3.2
    // d2: tf=1, len=2 -> 2.2/(1 + 1.2*(0.25 + 0.75*2/3.0))
    val idf = math.log(1.6)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 2L))
    assert(out(0).getDouble(3) == r6(idf * (4.4 / 3.2)))
    assert(out(1).getDouble(3) == r6(idf * (2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / 3.0)))))
  }

  test("bm25 rewards rare terms: matching the rarer term outranks the common one") {
    val docs = Seq(
      (1L, "common rare"),
      (2L, "common common"),
      (3L, "common filler"),
      (4L, "common filler")).toDF("doc_id", "text")
    val top = Bm25.topK(docs, "doc_id", "text", Seq("q" -> "common rare"), k = 4)
      .orderBy("rank").collect()
    // doc 1 matches the df=1 term; doc 2 has double tf on the df=4 term —
    // idf must dominate
    assert(top.head.getLong(2) == 1L)
  }

  test("bm25 corpus invariants: bounded k, contiguous ranks, non-increasing scores") {
    val docs = Tables(spark, sf, "documents")
    val out = Bm25.topK(docs, "doc_id", "text",
      Seq("s1" -> "fast hash join", "s2" -> "stream filter vector"), k = 10)
    val rows = out.collect()
    val byQ = rows.groupBy(_.getString(0))
    assert(byQ.keySet == Set("s1", "s2"))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.length <= 10)
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("term-sharded index: topKIndexed is row-identical to topK and prunes shards") {
    val docs = Tables(spark, sf, "documents")
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val dir = Scratch.dir("bm25_index")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 64)
    val indexed = Bm25.topKIndexed(spark, dir, "doc_id", queries, k = 10)
    val direct = Bm25.topK(docs, "doc_id", "text", queries, k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(indexed) === rows(direct))
    // only the query terms' shard directories are listed and scanned: at
    // most 6 distinct query terms -> at most 6 of the 64 shard directories
    val scans = baseShardScans(indexed, "postings")
    val want = bm25QueryShards(queries, 64)
    assert(want.size <= 6 && scans.nonEmpty &&
      scans.forall(r => r.nonEmpty && r.subsetOf(want)), (scans, want))
  }

  test("appendToIndex is row-identical to a from-scratch rebuild") {
    val docs = Tables(spark, sf, "documents")
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val incDir = Scratch.dir("bm25_inc")
    val fullDir = Scratch.dir("bm25_full")
    Bm25.writeIndex(base, "doc_id", "text", incDir, nShards = 64)
    Bm25.appendToIndex(batch, "doc_id", "text", incDir, nShards = 64)
    Bm25.writeIndex(docs, "doc_id", "text", fullDir, nShards = 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Bm25.topKIndexed(spark, incDir, "doc_id", queries, k = 10))
      === rows(Bm25.topKIndexed(spark, fullDir, "doc_id", queries, k = 10)))
    // the stats merge is EXACT — bit-identical n/avgdl/sum_len, not
    // approximately equal (integral token sums stay exact in doubles)
    assert(spark.read.parquet(IndexLayout.resolve(spark, s"$incDir/stats")).collect().map(_.toSeq).toSeq
      === spark.read.parquet(IndexLayout.resolve(spark, s"$fullDir/stats")).collect().map(_.toSeq).toSeq)
  }

  test("appendToIndex onto an empty-corpus base replaces the readable-empty layout") {
    val dir = Scratch.dir("bm25_empty_base")
    Bm25.writeIndex(embDocs.filter(lit(false)), "doc_id", "text", dir)
    Bm25.appendToIndex(embDocs, "doc_id", "text", dir)
    val out = Bm25.topKIndexed(spark, dir, "doc_id", Seq("q" -> "apple"), k = 3)
    val direct = Bm25.topK(embDocs, "doc_id", "text", Seq("q" -> "apple"), k = 3)
    assert(out.collect().map(_.toSeq).toSet === direct.collect().map(_.toSeq).toSet)
  }

  test("appendToIndex with a tokenless batch updates stats only") {
    val dir = Scratch.dir("bm25_tokless")
    Bm25.writeIndex(embDocs, "doc_id", "text", dir)
    val before = Bm25.topKIndexed(spark, dir, "doc_id", Seq("q" -> "apple"), k = 3)
      .collect().map(_.toSeq).toSet
    // "xy z" has no [a-z]{3,} run: no postings, but the doc still counts
    // toward N and avgdl (its length is 0)
    Bm25.appendToIndex(Seq((99L, "xy z")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val st = spark.read.parquet(IndexLayout.resolve(spark, s"$dir/stats")).head()
    assert(st.getDouble(0) == 4.0)      // n: 3 + 1
    assert(st.getDouble(2) == 9.0)      // sum_len unchanged (3 + 2 + 4)
    // postings untouched: scoring changes only through N/avgdl, and the
    // ranked doc set is the same
    val after = Bm25.topKIndexed(spark, dir, "doc_id", Seq("q" -> "apple"), k = 3)
      .collect().map(_.toSeq)
    assert(after.map(_.take(3)).toSet === before.map(_.take(3)))
  }

  test("appendToIndex stats merge handles null-text docs exactly") {
    // avg skips null-text docs while n counts them — the merged divisor
    // must be the non-null count, and the result bit-equal to a rebuild
    val base = Seq((1L, "apple banana apple"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "banana cherry"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val incDir = Scratch.dir("bm25_null_inc")
    val fullDir = Scratch.dir("bm25_null_full")
    Bm25.writeIndex(base, "doc_id", "text", incDir)
    Bm25.appendToIndex(batch, "doc_id", "text", incDir)
    Bm25.writeIndex(base.unionAll(batch), "doc_id", "text", fullDir)
    assert(spark.read.parquet(IndexLayout.resolve(spark, s"$incDir/stats")).collect().map(_.toSeq).toSeq
      === spark.read.parquet(IndexLayout.resolve(spark, s"$fullDir/stats")).collect().map(_.toSeq).toSeq)
  }

  test("removeFromIndex: tombstoned retrieval equals a live-only rebuild, compaction materializes") {
    val docs = Tables(spark, sf, "documents")
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val live = docs.filter(col("doc_id") % 10 =!= 0)
    val dir = Scratch.dir("bm25_del")
    val liveDir = Scratch.dir("bm25_live")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 64)
    Bm25.removeFromIndex(docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id"), "doc_id", dir)
    Bm25.writeIndex(live, "doc_id", "text", liveDir, nShards = 64)
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10)
        .collect().map(_.toSeq).toSet
    val tombstoned = rows(dir)
    assert(tombstoned === rows(liveDir))
    // the stats shift is EXACT: the numeric row bit-equals the live-only
    // build's (tomb_dirs legitimately differs — the removal lists its
    // batch, the fresh build lists nothing)
    def numStats(d: String) =
      spark.read.parquet(IndexLayout.resolve(spark, s"$d/stats"))
        .select("n", "avgdl", "sum_len", "n_len")
        .collect().map(_.toSeq).toSeq
    assert(numStats(dir) === numStats(liveDir))
    // double-removal of the same ids must not double-shift, and must not
    // grow the listed delete set (a no-op batch commits nothing)
    Bm25.removeFromIndex(docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id"), "doc_id", dir)
    assert(numStats(dir) === numStats(liveDir))
    assert(Bm25.tombstoneDirs(spark, dir).size == 1)
    // compaction makes the removals physical: same rows, the listed
    // delete set empty, and the tombstoned ids no longer anywhere in the
    // postings
    Bm25.compactIndex(spark, dir)
    assert(rows(dir) === tombstoned)
    assert(Bm25.tombstoneDirs(spark, dir).isEmpty)
    assert(spark.read.parquet(
        graft.operators.IndexLayout.resolve(spark, s"$dir/postings"))
      .filter(col("doc_id") % 10 === 0).count() == 0)
    // the folded batch directory is retained while the just-retired
    // stats version (N-1 retention) still lists it — a reader mid-scan
    // on that version keeps its anti-join inputs — and is swept once no
    // existing stats version references it (here: after the next
    // removal+compaction cycle retires the listing version)
    def rmDirs() = {
      val t = new java.io.File(s"$dir/tombstones")
      if (!t.exists()) Array.empty[String]
      else t.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("rm_")).map(_.getName)
    }
    val firstBatch = rmDirs()
    assert(firstBatch.nonEmpty, "retention holds the folded batch one cycle")
    Bm25.removeFromIndex(docs.filter(col("doc_id") % 10 === 1)
      .select("doc_id"), "doc_id", dir)
    Bm25.compactIndex(spark, dir)
    val after = rmDirs()
    assert(!after.contains(firstBatch.head),
      "unreferenced first batch swept once its stats version is GC'd")
    assert(rows(dir) === Bm25.topKIndexed(spark,
      { val d2 = Scratch.dir("bm25_live2")
        Bm25.writeIndex(docs.filter(col("doc_id") % 10 =!= 0
          && col("doc_id") % 10 =!= 1), "doc_id", "text", d2, nShards = 64)
        d2 }, "doc_id", queries, k = 10).collect().map(_.toSeq).toSet)
  }

  test("compactIndex merges append small-files; results identical") {
    import graft.operators.IndexLayout
    val docs = Tables(spark, sf, "documents")
    val queries = Seq("s1" -> "fast hash join")
    val dir = Scratch.dir("bm25_compact")
    Bm25.writeIndex(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", dir)
    (1 to 3).foreach { r =>
      Bm25.appendToIndex(docs.filter(col("doc_id") % 4 === r),
        "doc_id", "text", dir)
    }
    val before = Bm25.topKIndexed(spark, dir, "doc_id", queries, k = 10)
      .collect().map(_.toSeq).toSet
    val filesBefore = IndexLayout.dataFileCount(spark, s"$dir/postings")
    Bm25.compactIndex(spark, dir)
    val filesAfter = IndexLayout.dataFileCount(spark, s"$dir/postings")
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(Bm25.topKIndexed(spark, dir, "doc_id", queries, k = 10)
      .collect().map(_.toSeq).toSet === before)
  }

  test("streaming segments: retrieval over base+segments equals a full rebuild; compaction folds") {
    import graft.operators.IndexLayout
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val base = Scratch.dir("bm25_stream")
    val (dir, ckpt) = (s"$base/index", s"$base/ckpt")
    // base layout from the first third; two micro-batches stream the rest
    val parts = docs.groupBy { case (id, _) => (id % 3).toInt }
    Bm25.writeIndex(parts(0).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, nShards = 64)
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamBm25Index(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", dir, ckpt)
    src.addData(parts(1).toSeq: _*)
    q.processAllAvailable()
    src.addData(parts(2).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10)
        .collect().map(_.toSeq).toSet
    val fullDir = Scratch.dir("bm25_stream_full")
    Bm25.writeIndex(docs.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", fullDir, nShards = 64)
    val streamed = rows(dir)
    assert(streamed === rows(fullDir))
    // plan pin: each use of the postings (scoring and df) reads only the
    // query terms' shard directories of the BASE (pruned in the listing,
    // so no partition filter is left to plan) and ONE relation over both
    // unpartitioned segments' postings
    val searched = Bm25.topKIndexed(spark, dir, "doc_id", queries, k = 10)
    val postingsScans = scanRoots(searched).filter(_.exists(_.contains("/postings")))
    val (segScans, baseScans) = postingsScans.partition(_.exists(_.contains("/segments/")))
    val want = bm25QueryShards(queries, 64)
    assert(baseScans.nonEmpty && baseScans.forall(_.forall(p =>
      p.matches(".*/postings/shard=\\d+") && want(p.split("shard=").last.toInt))),
      postingsScans)
    assert(segScans.size == baseScans.size &&
      segScans.forall(r => r.size == 2 && r.forall(_.matches(".*/segments/batch=\\d+/postings"))),
      postingsScans)
    val plan = searched.queryExecution.executedPlan.toString
    assert(!plan.contains("PartitionFilters: [shard"), plan.take(3000))
    // a replayed batch overwrites its own segment — results converge
    Bm25.writeIndex(parts(1).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/segments/batch=0", nShards = 64)
    assert(rows(dir) === streamed)
    // deleting a doc that only ever arrived through the stream works:
    // tombstones span layouts and the stats shift reads all sidecars
    val victim = parts(1).map(_._1).min
    Bm25.removeFromIndex(Seq(victim).toDF("doc_id"), "doc_id", dir)
    val liveDir = Scratch.dir("bm25_stream_live")
    Bm25.writeIndex(docs.filter(_._1 != victim).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", liveDir, nShards = 64)
    val afterDelete = rows(dir)
    assert(afterDelete === rows(liveDir))
    // compaction folds segments into the base: segments gone, tombstones
    // gone, results identical, stats bit-equal to the live-only rebuild
    Bm25.compactIndex(spark, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    assert(Bm25.tombstoneDirs(spark, dir).isEmpty)
    assert(rows(dir) === afterDelete)
    assert(spark.read.parquet(IndexLayout.resolve(spark, s"$dir/stats")).collect().map(_.toSeq).toSeq
      === spark.read.parquet(IndexLayout.resolve(spark, s"$liveDir/stats")).collect().map(_.toSeq).toSeq)
    // re-running a compaction (the crash-recovery path) is a no-op
    Bm25.compactIndex(spark, dir)
    assert(rows(dir) === afterDelete)
  }

  test("mid-compaction segment arrival survives; reads stay exact; appends follow the versioned layout") {
    import graft.operators.IndexLayout
    val docs = Tables(spark, sf, "documents")
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val parts = (0 to 3).map(r => docs.filter(col("doc_id") % 4 === r))
    val dir = Scratch.dir("bm25_race")
    Bm25.writeIndex(parts(0), "doc_id", "text", dir, nShards = 64)
    Bm25.writeIndex(parts(1), "doc_id", "text", s"$dir/segments/batch=0")
    // compaction snapshots the segment list = [batch=0]; batch=1 lands
    // AFTER the snapshot (the race the fold must survive)
    val snapshot = IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir))
    Bm25.writeIndex(parts(2), "doc_id", "text", s"$dir/segments/batch=1")
    Bm25.compactIndexFolding(spark, dir, "doc_id", snapshot)
    // the late segment was neither folded nor deleted — still readable
    val left = IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir))
    assert(left.size == 1 && left.head.endsWith("batch=1"))
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10)
        .collect().map(_.toSeq).toSet
    val fullDir = Scratch.dir("bm25_race_full")
    Bm25.writeIndex(parts(0).unionAll(parts(1)).unionAll(parts(2)),
      "doc_id", "text", fullDir, nShards = 64)
    assert(rows(dir) === rows(fullDir))
    // the next compaction folds the survivor; stats bit-equal to a rebuild
    Bm25.compactIndex(spark, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    assert(rows(dir) === rows(fullDir))
    // the compacted layout is versioned — appends must land in it, and
    // retrieval over append-after-compaction equals a full rebuild
    assert(IndexLayout.currentVersion(spark, s"$dir/postings").isDefined)
    Bm25.appendToIndex(parts(3), "doc_id", "text", dir, nShards = 64)
    val allDir = Scratch.dir("bm25_race_all")
    Bm25.writeIndex(docs, "doc_id", "text", allDir, nShards = 64)
    assert(rows(dir) === rows(allDir))
    assert(spark.read.parquet(IndexLayout.resolve(spark, s"$dir/stats")).collect().map(_.toSeq).toSeq
      === spark.read.parquet(IndexLayout.resolve(spark, s"$allDir/stats")).collect().map(_.toSeq).toSeq)
  }

  test("re-sharding compaction: append-and-recompact equals a fresh build at the new nShards") {
    import graft.operators.IndexLayout
    val docs = Tables(spark, sf, "documents")
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val dir = Scratch.dir("bm25_reshard")
    // a corpus that outgrew its build-time shard count: built at 4,
    // appended, some docs removed, then re-bucketed to 64 in one
    // compaction pass
    Bm25.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      dir, nShards = 4)
    Bm25.appendToIndex(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      dir, nShards = 4)
    Bm25.removeFromIndex(docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id"), "doc_id", dir)
    Bm25.compactIndex(spark, dir, "doc_id", reshardTo = Some(64))
    val freshDir = Scratch.dir("bm25_reshard_f")
    val live = docs.filter(col("doc_id") % 10 =!= 0)
    Bm25.writeIndex(live, "doc_id", "text", freshDir, nShards = 64)
    // postings ROW-IDENTICAL to the fresh 64-shard build (shard included)
    def postings(d: String) = spark.read.parquet(
        IndexLayout.resolve(spark, s"$d/postings"))
      .select("doc_id", "doc_len", "term", "tf", "shard")
      .collect().map(_.toSeq).toSet
    assert(postings(dir) === postings(freshDir))
    // retrieval at the NEW shard count is row-identical and still prunes
    val out = Bm25.topKIndexed(spark, dir, "doc_id", queries, k = 10,
      nShards = 64)
    assert(out.collect().map(_.toSeq).toSet
      === Bm25.topK(live, "doc_id", "text", queries, k = 10)
        .collect().map(_.toSeq).toSet)
    val scans = baseShardScans(out, "postings")
    assert(scans.nonEmpty && scans.forall(r => r.nonEmpty &&
      r.subsetOf(bm25QueryShards(queries, 64))), scans)
  }

  test("kill the compactor between new-layout-complete and the flip: reads serve the old version") {
    import graft.operators.IndexLayout
    val queries = Seq("qa" -> "apple", "qc" -> "cherry")
    val dir = Scratch.dir("bm25_kill")
    Bm25.writeIndex(embDocs, "doc_id", "text", dir)
    def rows() = Bm25.topKIndexed(spark, dir, "doc_id", queries, k = 3)
      .collect().map(_.toSeq).toSet
    val before = rows()
    // the "compactor" prepares a DISTINGUISHABLE new postings version
    // (doc 3 dropped) but dies before the manifest flip — readers must
    // not see it
    val pruned = spark.read.parquet(
        IndexLayout.resolve(spark, s"$dir/postings"))
      .filter(col("doc_id") =!= 3L)
    val n = IndexLayout.prepareVersion(spark, s"$dir/postings", pruned,
      Some("shard"))
    assert(rows() === before, "unflipped version must be invisible")
    // the flip retargets every reader atomically
    IndexLayout.flipVersion(spark, s"$dir/postings", n)
    assert(rows().forall(r => r(2) != 3L), "flipped version must serve")
  }

  test("a fresh writeIndex clears stale streaming segments and tombstones") {
    import graft.operators.IndexLayout
    val dir = Scratch.dir("bm25_stale_seg")
    // old index + a streamed segment holding the only "cherry" doc + a
    // tombstone — all state a rebuild must replace
    Bm25.writeIndex(embDocs.filter(col("doc_id") === 1L), "doc_id", "text", dir)
    Bm25.writeIndex(embDocs.filter(col("doc_id") === 3L), "doc_id", "text",
      s"$dir/segments/batch=0")
    Bm25.removeFromIndex(Seq(1L).toDF("doc_id"), "doc_id", dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).nonEmpty)
    // the rebuild: docs 1 and 2 only — doc 3 must NOT leak back in from
    // the stale segment, and doc 1 must not stay tombstoned
    val rebuilt = embDocs.filter(col("doc_id") =!= 3L)
    Bm25.writeIndex(rebuilt, "doc_id", "text", dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    val out = Bm25.topKIndexed(spark, dir, "doc_id",
      Seq("qa" -> "apple", "qc" -> "cherry"), k = 3)
    val direct = Bm25.topK(rebuilt, "doc_id", "text",
      Seq("qa" -> "apple", "qc" -> "cherry"), k = 3)
    assert(out.collect().map(_.toSeq).toSet === direct.collect().map(_.toSeq).toSet)
    assert(out.filter(col("doc_id") === 3L).isEmpty)
  }

  test("appendToIndex refuses a non-empty unpartitioned (segment-style) base") {
    // older on-disk indexes can hold a segment's unpartitioned tables at
    // a base path: write a segment, then move its tables to a base path
    val root = java.nio.file.Paths.get(Scratch.dir("bm25_seg_base"))
    val seg = root.resolve("src/segments/batch=0")
    Bm25.writeIndex(embDocs, "doc_id", "text", seg.toString)
    val dir = java.nio.file.Files.move(seg, root.resolve("index")).toString
    val err = intercept[IllegalArgumentException] {
      Bm25.appendToIndex(Seq((9L, "apple pie")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    assert(err.getMessage.contains("UNPARTITIONED"))
  }

  test("removal is ATOMIC: a reader between stage and commit sees fully-pre scores, after commit fully-post") {
    val docs = Tables(spark, sf, "documents")
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val dir = Scratch.dir("bm25_atomic")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 64)
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10)
        .collect().map(_.toSeq).toSet
    val fullyPre = rows(dir)
    // the removal's two internal steps, interleaved with a reader: the
    // staged tombstone batch exists on disk but is UNLISTED — scores
    // must be bit-identical to before the removal started (the old
    // design's append-then-swap exposed filtered postings against
    // unshifted stats in exactly this window)
    val staged = Bm25.stageRemoval(spark,
      docs.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id", dir)
    assert(staged.isDefined)
    assert(new java.io.File(s"$dir/tombstones").listFiles()
      .exists(_.getName.startsWith("rm_")), "batch staged on disk")
    assert(rows(dir) === fullyPre,
      "mid-removal reader must score the FULLY-PRE state")
    // the commit is one manifest flip: afterwards the reader scores the
    // fully-post state — identical to a live-only rebuild
    Bm25.commitRemoval(spark, dir, staged.get)
    val liveDir = Scratch.dir("bm25_atomic_live")
    Bm25.writeIndex(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
      liveDir, nShards = 64)
    assert(rows(dir) === rows(liveDir),
      "post-commit reader must score the FULLY-POST state")
    // a crash between stage and commit leaves only an invisible orphan:
    // stage again, "crash" (never commit), and reads + the next
    // compaction stay exact
    val staged2 = Bm25.stageRemoval(spark,
      docs.filter(col("doc_id") % 10 === 1).select("doc_id"), "doc_id", dir)
    assert(staged2.isDefined)
    assert(rows(dir) === rows(liveDir), "uncommitted stage is invisible")
    Bm25.compactIndex(spark, dir)
    assert(rows(dir) === rows(liveDir), "compaction sweeps the orphan, reads exact")
  }

  test("exportLivePostings: pinned export equals the live postings across base+segments; pin released") {
    import graft.operators.IndexLayout
    val dir = Scratch.dir("bm25_export")
    Bm25.writeIndex(embDocs.filter(col("doc_id") =!= 3L), "doc_id", "text", dir)
    Bm25.writeIndex(embDocs.filter(col("doc_id") === 3L), "doc_id", "text",
      s"$dir/segments/batch=0")
    Bm25.removeFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir)
    val out = Scratch.dir("bm25_export_out") + "/postings"
    Bm25.exportLivePostings(spark, dir, "doc_id", out)
    // live = docs 1 and 3 (2 tombstoned); export carries their postings
    val exported = spark.read.parquet(out)
    assert(exported.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val fresh = Scratch.dir("bm25_export_fresh")
    Bm25.writeIndex(embDocs.filter(col("doc_id") =!= 2L), "doc_id", "text", fresh)
    assert(exported.select("doc_id", "doc_len", "term", "tf")
      .collect().map(_.toSeq).toSet
      === spark.read.parquet(IndexLayout.resolve(spark, s"$fresh/postings"))
        .select("doc_id", "doc_len", "term", "tf")
        .collect().map(_.toSeq).toSet)
    assert(IndexLayout.listPins(spark, s"$dir/postings").isEmpty,
      "export pin released")
  }

  test("removals on a segment-only index (no base build) shift stats through the swap, twice") {
    // regression for the shadowed-zero-row bug: the base stats row of a
    // stream-only index must materialize THROUGH the version swap (a
    // plain write could be shadowed by a stale stats manifest), and a
    // second removal must shift the row the first one created
    val dir = Scratch.dir("bm25_segonly")
    Bm25.writeIndex(embDocs.filter(col("doc_id") <= 2L), "doc_id", "text",
      s"$dir/segments/batch=0")
    Bm25.writeIndex(embDocs.filter(col("doc_id") === 3L), "doc_id", "text",
      s"$dir/segments/batch=1")
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id",
        Seq("qa" -> "apple", "qb" -> "banana"), k = 3)
        .collect().map(_.toSeq).toSet
    def fresh(live: org.apache.spark.sql.DataFrame) = {
      val d = Scratch.dir("bm25_segonly_f")
      Bm25.writeIndex(live, "doc_id", "text", d)
      rows(d)
    }
    Bm25.removeFromIndex(Seq(1L).toDF("doc_id"), "doc_id", dir)
    assert(rows(dir) === fresh(embDocs.filter(col("doc_id") =!= 1L)))
    Bm25.removeFromIndex(Seq(3L).toDF("doc_id"), "doc_id", dir)
    assert(rows(dir) === fresh(embDocs.filter(col("doc_id") === 2L)))
  }

  test("a rebuild at a BASE path clears stale version manifests") {
    import graft.operators.IndexLayout
    // build + compact => versioned postings with a _CURRENT manifest;
    // a later REBUILD at the same base path must clear it, or the stale
    // manifest shadows the fresh plain layout
    val dir = Scratch.dir("bm25_rebuild")
    Bm25.writeIndex(embDocs, "doc_id", "text", dir)
    Bm25.appendToIndex(Seq((9L, "apple pie")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    Bm25.compactIndex(spark, dir)
    assert(IndexLayout.currentVersion(spark, s"$dir/postings").isDefined)
    val rebuilt = embDocs.filter(col("doc_id") =!= 3L)
    Bm25.writeIndex(rebuilt, "doc_id", "text", dir)
    assert(IndexLayout.currentVersion(spark, s"$dir/postings").isEmpty,
      "stale manifest cleared")
    val out = Bm25.topKIndexed(spark, dir, "doc_id",
      Seq("qa" -> "apple", "qc" -> "cherry"), k = 4)
    val direct = Bm25.topK(rebuilt, "doc_id", "text",
      Seq("qa" -> "apple", "qc" -> "cherry"), k = 4)
    assert(out.collect().map(_.toSeq).toSet === direct.collect().map(_.toSeq).toSet)
  }

  test("legacy loose tombstone files are folded by upgrade; appends, removals and compaction then match a rebuild") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta"),
      (3L, "beta gamma delta"),
      (4L, "alpha beta")).toDF("doc_id", "text")
    val dir = Scratch.dir("bm25_legacy")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 8)
    // simulate an index written by the PRE-list code after it removed
    // doc 1: a loose tombstone file (not an rm_* batch dir) and a stats
    // row with no tomb_dirs column, totals already shifted (the old
    // in-place merge did shift them)
    IndexLayout.appendTombstones(Seq(1L).toDF("doc_id"), "doc_id",
      s"$dir/tombstones")
    val legacyStats = spark.read
      .parquet(IndexLayout.resolve(spark, s"$dir/stats"))
      .drop("tomb_dirs").collect()
    val live3 = docs.filter(col("doc_id") =!= 1L)
    val shifted = live3.agg(count(lit(1)).cast("double").as("n"),
      avg(size(graft.functions.TextFns.words(col("text")))).as("avgdl"),
      sum(size(graft.functions.TextFns.words(col("text"))))
        .cast("double").as("sum_len"),
      count(lit(1)).cast("double").as("n_len"))
    assert(legacyStats.nonEmpty) // the build wrote list-format stats
    shifted.write.mode("overwrite")
      .parquet(IndexLayout.resolve(spark, s"$dir/stats"))
    val queries = Seq("q" -> "alpha beta gamma delta")
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10, nShards = 8)
        .collect().map(_.toSeq).toSet
    def rebuild(ds: org.apache.spark.sql.DataFrame) = {
      val d = Scratch.dir("bm25_lref")
      Bm25.writeIndex(ds, "doc_id", "text", d, nShards = 8)
      d
    }
    // readers, appends and removals refuse the retired format, naming
    // the migration, and write nothing
    val before = fileTimes(dir)
    for (op <- Seq[() => Any](() => rows(dir),
        () => Bm25.appendToIndex(Seq((5L, "epsilon alpha")).toDF("doc_id",
          "text"), "doc_id", "text", dir, nShards = 8),
        () => Bm25.removeFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("Bm25.upgrade"), e.getMessage)
    }
    assert(fileTimes(dir) == before)
    // upgrade folds the loose delete set into the base (doc 1 stays
    // dead) and retires the loose file in the same step
    Bm25.upgrade(spark, dir)
    assert(rows(dir) === rows(rebuild(live3)))
    def looseFiles = Option(new java.io.File(s"$dir/tombstones").listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    assert(looseFiles.isEmpty)
    Bm25.appendToIndex(Seq((5L, "epsilon alpha")).toDF("doc_id", "text"),
      "doc_id", "text", dir, nShards = 8)
    val live4 = live3.unionByName(
      Seq((5L, "epsilon alpha")).toDF("doc_id", "text"))
    assert(rows(dir) === rows(rebuild(live4)))
    // removing doc 1 again is a no-op (no double-shift), removing doc 2
    // shifts exactly doc 2
    Bm25.removeFromIndex(Seq(1L).toDF("doc_id"), "doc_id", dir)
    Bm25.removeFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir)
    val live2 = docs.filter(col("doc_id") > 2L).unionByName(
      Seq((5L, "epsilon alpha")).toDF("doc_id", "text"))
    assert(rows(dir) === rows(rebuild(live2)))
    // compaction materializes both the folded and the listed removals...
    Bm25.compactIndex(spark, dir)
    assert(rows(dir) === rows(rebuild(live2)))
    assert(spark.read
      .parquet(IndexLayout.resolve(spark, s"$dir/postings"))
      .filter(col("doc_id") <= 2L).count() == 0)
    // ...and no loose file comes back over later cycles
    Bm25.removeFromIndex(Seq(3L).toDF("doc_id"), "doc_id", dir)
    Bm25.compactIndex(spark, dir)
    assert(looseFiles.isEmpty)
  }

  test("a legacy base plus streaming segments still honors loose tombstones") {
    // the mixed-layout regression: a merged read of the legacy base and
    // the segment stats gave the base row a present-but-NULL tomb_dirs,
    // the loose delete set was skipped and removed docs resurrected.
    // The reader now refuses the mix; upgrade folds base, segment and
    // loose tombstones together
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta"),
      (3L, "beta gamma delta")).toDF("doc_id", "text")
    val dir = Scratch.dir("bm25_legacy_seg")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 8)
    // make the base pre-list-format: loose tombstone file for doc 1 and
    // a stats row with NO tomb_dirs column, totals already shifted
    IndexLayout.appendTombstones(Seq(1L).toDF("doc_id"), "doc_id",
      s"$dir/tombstones")
    val live = docs.filter(col("doc_id") =!= 1L)
    live.agg(count(lit(1)).cast("double").as("n"),
        avg(size(graft.functions.TextFns.words(col("text")))).as("avgdl"),
        sum(size(graft.functions.TextFns.words(col("text"))))
          .cast("double").as("sum_len"),
        count(lit(1)).cast("double").as("n_len"))
      .write.mode("overwrite")
      .parquet(IndexLayout.resolve(spark, s"$dir/stats"))
    // a streaming segment lands next to the legacy base (new-format
    // stats row with a non-null tomb_dirs)
    val segDocs = Seq((4L, "epsilon alpha")).toDF("doc_id", "text")
    Bm25.writeIndex(segDocs, "doc_id", "text",
      s"$dir/segments/batch=0", nShards = 8)
    val queries = Seq("q" -> "alpha beta gamma delta epsilon")
    def got = Bm25.topKIndexed(spark, dir, "doc_id", queries, k = 10,
      nShards = 8).collect().map(_.toSeq).toSet
    val e = intercept[IllegalArgumentException](got)
    assert(e.getMessage.contains("Bm25.upgrade"), e.getMessage)
    Bm25.upgrade(spark, dir)
    val refDir = Scratch.dir("bm25_lsref")
    Bm25.writeIndex(live.unionByName(segDocs), "doc_id", "text", refDir,
      nShards = 8)
    val want = Bm25.topKIndexed(spark, refDir, "doc_id", queries, k = 10,
      nShards = 8).collect().map(_.toSeq).toSet
    // doc 1 stays dead, doc 4 is retrievable, scores match the rebuild
    assert(got === want)
  }

  test("appendToIndex carries a prior removal's delete set through its stats swap") {
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "alpha gamma"),
      (3L, "beta gamma")).toDF("doc_id", "text")
    val dir = Scratch.dir("bm25_apprm")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 8)
    Bm25.removeFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir)
    assert(Bm25.tombstoneDirs(spark, dir).size == 1)
    // the append's merged stats row must keep listing the removal's
    // batch — losing it would resurrect doc 2 and orphan the batch dir
    // (the lost-update an unleased append racing a removal could cause;
    // sequenced here, the lease serializes the racing case)
    Bm25.appendToIndex(Seq((4L, "alpha delta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, nShards = 8)
    assert(Bm25.tombstoneDirs(spark, dir).size == 1)
    val queries = Seq("q" -> "alpha beta gamma delta")
    val refDir = Scratch.dir("bm25_apprmR")
    Bm25.writeIndex(
      docs.filter(col("doc_id") =!= 2L)
        .unionByName(Seq((4L, "alpha delta")).toDF("doc_id", "text")),
      "doc_id", "text", refDir, nShards = 8)
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10, nShards = 8)
        .collect().map(_.toSeq).toSet
    assert(rows(dir) === rows(refDir))
  }

  test("a corrupt stats file fails a removal loudly and leaves the stats manifest unchanged") {
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "alpha gamma"),
      (3L, "beta gamma")).toDF("doc_id", "text")
    val dir = Scratch.dir("bm25_badstats")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 8)
    Bm25.removeFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir)
    val manifest = java.nio.file.Paths.get(s"$dir/stats._CURRENT")
    val before = java.nio.file.Files.readAllBytes(manifest).toSeq
    val statsDir = new java.io.File(IndexLayout.resolve(spark, s"$dir/stats"))
    val parts = statsDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 1)
    // garbage bytes where the footer was, and no checksum to catch it
    // first: the parquet reader itself must be what fails
    java.nio.file.Files.write(parts.head.toPath, Array.fill[Byte](64)(7))
    new java.io.File(statsDir, s".${parts.head.getName}.crc").delete()
    // read as "no stats row", the removal would merge against zeros and
    // swap in a row without the base's n/avgdl or the first removal's
    // tomb_dirs entry
    intercept[Exception] {
      Bm25.removeFromIndex(Seq(3L).toDF("doc_id"), "doc_id", dir)
    }
    assert(java.nio.file.Files.readAllBytes(manifest).toSeq == before)
    assert(IndexLayout.listLease(spark, dir).isEmpty,
      "the failed removal released its lease")
  }

  test("a fold retires segments with one cycle of grace: a pre-fold reader's files survive it") {
    val dir = Scratch.dir("bm25_segret")
    Bm25.writeIndex(Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, nShards = 8)
    Bm25.writeIndex(Seq((3L, "alpha gamma")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/segments/batch=0", nShards = 8)
    // a slow reader lists the layout parts just before the fold lands
    val (preFoldBase, preFoldSegs) =
      IndexLayout.liveParts(spark, IndexLayout.Paths.nested(dir), "postings")
    val preFoldParts = preFoldBase.toSeq ++ preFoldSegs
    assert(preFoldParts.size == 2)
    Bm25.compactIndex(spark, dir)
    // the folded segment's files are STILL readable for that reader
    // (marked _FOLDED, deleted only by the next fold) ...
    assert(spark.read.parquet(preFoldParts.last).count() > 0)
    // ... while new readers span the folded base only — no double-count
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    val queries = Seq("q" -> "alpha beta gamma")
    val refDir = Scratch.dir("bm25_segretR")
    Bm25.writeIndex(Seq((1L, "alpha beta"), (2L, "beta gamma"),
        (3L, "alpha gamma")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, nShards = 8)
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10, nShards = 8)
        .collect().map(_.toSeq).toSet
    assert(rows(dir) === rows(refDir))
    // the next fold (new segment arrives, compaction runs) deletes what
    // the first fold marked
    Bm25.writeIndex(Seq((4L, "delta")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/segments/batch=1", nShards = 8)
    Bm25.compactIndex(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/segments/batch=0")))
  }

  test("a replayed segment rewrite over a _FOLDED marker comes back live; re-fold converges") {
    // the crash shape: a micro-batch dies mid-write, an offline fold
    // captures the PARTIAL segment and marks it _FOLDED, then the
    // restarted stream replays the batch IN FULL over the same dir. The
    // rewrite must clear the stale marker — hidden, the rows beyond the
    // partial capture would be invisible and deleted by the next fold.
    val dir = Scratch.dir("bm25_replay")
    Bm25.writeIndex(Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, nShards = 8)
    // the partial write the crash left
    Bm25.writeIndex(Seq((3L, "alpha gamma")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/segments/batch=0", nShards = 8)
    Bm25.compactIndex(spark, dir) // folds the partial, marks batch=0
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    // full replay of batch 0: doc 3 AND the doc the partial missed
    Bm25.writeIndex(Seq((3L, "alpha gamma"), (4L, "delta alpha"))
      .toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/segments/batch=0", nShards = 8)
    // live again — and doc 4 is retrievable
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).size == 1)
    val queries = Seq("q" -> "delta")
    def ids(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10, nShards = 8)
        .collect().map(_.getLong(2)).toSet
    assert(ids(dir) === Set(4L))
    // re-folding converges to the clean rebuild (duplicated doc-3 rows
    // collapse in the distinct fold; stats recompute from the sidecar)
    Bm25.compactIndex(spark, dir)
    val refDir = Scratch.dir("bm25_replayR")
    Bm25.writeIndex(Seq((1L, "alpha beta"), (2L, "beta gamma"),
        (3L, "alpha gamma"), (4L, "delta alpha")).toDF("doc_id", "text"),
      "doc_id", "text", refDir, nShards = 8)
    val q2 = Seq("q" -> "alpha beta gamma delta")
    def rows2(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", q2, k = 10, nShards = 8)
        .collect().map(_.toSeq).toSet
    assert(rows2(dir) === rows2(refDir))
  }

  test("appendToIndex refuses a pre-sum_len (2-field) stats row loudly") {
    val dir = Scratch.dir("bm25_2f")
    Bm25.writeIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, nShards = 8)
    // simulate the oldest stats format: (n, avgdl) only — its token
    // total is unrecoverable, so an exact merge is impossible
    spark.read.parquet(IndexLayout.resolve(spark, s"$dir/stats"))
      .select("n", "avgdl").collect() // materialize before overwrite
    Seq((1.0, 2.0)).toDF("n", "avgdl").write.mode("overwrite")
      .parquet(IndexLayout.resolve(spark, s"$dir/stats"))
    def append() = Bm25.appendToIndex(Seq((2L, "gamma")).toDF("doc_id",
      "text"), "doc_id", "text", dir, nShards = 8)
    val e = intercept[IllegalArgumentException](append())
    assert(e.getMessage.contains("Bm25.upgrade"), e.getMessage)
    // upgrade recomputes the exact totals from the doc sidecar; the
    // append then merges exactly
    Bm25.upgrade(spark, dir)
    append()
    val refDir = Scratch.dir("bm25_2fR")
    Bm25.writeIndex(Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id",
      "text"), "doc_id", "text", refDir, nShards = 8)
    def rows(d: String) = Bm25.topKIndexed(spark, d, "doc_id",
        Seq("q" -> "alpha gamma"), k = 10, nShards = 8)
      .collect().map(_.toSeq).toSet
    assert(rows(dir) === rows(refDir))
  }

  test("upgrade crashed after its first table swap: readers refuse, a re-run converges, a second run writes nothing") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta"),
      (3L, "beta gamma delta")).toDF("doc_id", "text")
    val dir = Scratch.dir("bm25_upgrade_crash")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 8)
    // the retired format: doc 1 removed as a loose tombstone file, and a
    // stats row whose tomb_dirs list is null, totals already shifted
    IndexLayout.appendTombstones(Seq(1L).toDF("doc_id"), "doc_id",
      s"$dir/tombstones")
    val live = docs.filter(col("doc_id") =!= 1L)
    statsOf(live).withColumn("tomb_dirs", lit(null).cast("array<string>"))
      .write.mode("overwrite")
      .parquet(IndexLayout.resolve(spark, s"$dir/stats"))
    val queries = Seq("q" -> "alpha beta gamma delta")
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10, nShards = 8)
        .collect().map(_.toSeq).toSet
    def refused(): Unit = {
      val e = intercept[IllegalArgumentException](rows(dir))
      assert(e.getMessage.contains("Bm25.upgrade"), e.getMessage)
    }
    refused()
    // the crash: the docs table's version write fails after the
    // postings swap landed
    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[CrashOnDocsVersionCommitter].getName)
    try intercept[Exception](Bm25.upgrade(spark, dir))
    finally spark.conf.unset(key)
    assert(IndexLayout.currentVersion(spark, s"$dir/postings").isDefined)
    assert(IndexLayout.currentVersion(spark, s"$dir/docs").isEmpty)
    assert(IndexLayout.leaseHolder(spark, dir).isEmpty, "lease released")
    // in between, the stats are still retired: readers refuse, never
    // serve folded postings against the old stats
    refused()
    Bm25.upgrade(spark, dir)
    val refDir = Scratch.dir("bm25_upref")
    Bm25.writeIndex(live, "doc_id", "text", refDir, nShards = 8)
    assert(rows(dir) === rows(refDir))
    // N-1 retention keeps the retired stats layout for one more swap;
    // the sweeps of upgrade and of a later compaction read past it
    assert(new java.io.File(s"$dir/stats").isDirectory)
    val before = fileTimes(dir)
    Bm25.upgrade(spark, dir)
    assert(fileTimes(dir) == before, "a second upgrade writes nothing")
    Bm25.compactIndex(spark, dir)
    assert(rows(dir) === rows(refDir))
  }

  test("a delete set listing a loose tombstone file reads, compacts and retires it without upgrade") {
    // the current format as the previous release left it when an append
    // adopted a loose tombstone file: tomb_dirs lists the file itself
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta"),
      (3L, "beta gamma delta")).toDF("doc_id", "text")
    val dir = Scratch.dir("bm25_adopted")
    Bm25.writeIndex(docs, "doc_id", "text", dir, nShards = 8)
    IndexLayout.appendTombstones(Seq(1L).toDF("doc_id"), "doc_id",
      s"$dir/tombstones")
    val loose = IndexLayout.tombstoneFiles(spark, s"$dir/tombstones")
    val live = docs.filter(col("doc_id") =!= 1L)
    statsOf(live).withColumn("tomb_dirs", typedLit(loose))
      .write.mode("overwrite")
      .parquet(IndexLayout.resolve(spark, s"$dir/stats"))
    val queries = Seq("q" -> "alpha beta gamma delta")
    def rows(d: String) =
      Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10, nShards = 8)
        .collect().map(_.toSeq).toSet
    val refDir = Scratch.dir("bm25_adoptedR")
    Bm25.writeIndex(live, "doc_id", "text", refDir, nShards = 8)
    assert(rows(dir) === rows(refDir))
    Bm25.compactIndex(spark, dir)
    assert(rows(dir) === rows(refDir))
    // the file is unlisted now; the sweep after the next swap retires it
    Bm25.removeFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir)
    Bm25.compactIndex(spark, dir)
    assert(loose.forall(f => !new java.io.File(new java.net.URI(f)).exists()))
  }

  test("exportLivePostings is lease-free: it runs while maintenance holds the lease") {
    val dir = Scratch.dir("bm25_exlease")
    Bm25.writeIndex(Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, nShards = 8)
    // an hours-long compaction holds the lease; the read-only export
    // must neither fail nor steal it (its snapshot is optimistic:
    // pin, validate the base version, retry on a mid-snapshot flip)
    IndexLayout.acquireLease(spark, dir, "long-compaction")
    try {
      val out = Scratch.dir("bm25_exout")
      Bm25.exportLivePostings(spark, dir, "doc_id", s"$out/postings")
      assert(spark.read.parquet(s"$out/postings").count() > 0)
      assert(IndexLayout.leaseHolder(spark, dir)
        .exists(_.contains("long-compaction")))
      // and its pins were released on exit
      assert(IndexLayout.listPins(spark, s"$dir/postings").isEmpty)
      assert(IndexLayout.listPins(spark, s"$dir/stats").isEmpty)
    } finally IndexLayout.releaseLease(spark, dir)
  }

  test("bm25 query tokenizer mirrors the corpus tokenizer") {
    assert(Bm25.queryTerms("Fast HASH-join, a an of") == Seq("fast", "hash", "join"))
    assert(Bm25.queryTerms("dup dup dup") == Seq("dup"))
  }

  test("evalMetrics: perfect retrieval scores 1e6 across the board") {
    import spark.implicits._
    // every doc holding ANY query term holds ALL of them, so the top-k is
    // exactly the relevant set at contiguous ranks → MRR = recall = nDCG = 1
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta"),
      (3L, "yyy zzz")).toDF("doc_id", "text")
    val rows = Bm25.evalMetrics(docs, "doc_id", "text",
        Seq("p" -> "alpha beta", "z" -> "qqq www"), k = 10)
      .orderBy("query_id").collect()
    val p = rows(0)
    assert(p.getAs[Long]("n_relevant") == 2)
    assert(p.getAs[Long]("n_retrieved_relevant") == 2)
    assert(p.getAs[Long]("mrr_x1e6") == 1000000L)
    assert(p.getAs[Long]("recall_x1e6") == 1000000L)
    assert(p.getAs[Long]("ndcg_x1e6") == 1000000L)
    // a query matching nothing still gets its (all-zero) row
    val z = rows(1)
    assert(z.getAs[Long]("n_relevant") == 0)
    assert(z.getAs[Long]("mrr_x1e6") == 0 && z.getAs[Long]("ndcg_x1e6") == 0)
  }

  test("evalMetrics qrels are boolean-AND: one-of-two terms is irrelevant") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "alpha only here"),
      (3L, "beta solo")).toDF("doc_id", "text")
    val r = Bm25.evalMetrics(docs, "doc_id", "text",
        Seq("p" -> "alpha beta"), k = 10).collect()(0)
    // docs 2 and 3 match one term each — retrieved maybe, relevant never
    assert(r.getAs[Long]("n_relevant") == 1)
    assert(r.getAs[Long]("n_retrieved_relevant") == 1)
    assert(r.getAs[Long]("recall_x1e6") == 1000000L)
  }
}

/** Fails the commit of a `docs.v<n>` version write under a
  * `bm25_upgrade_crash` index, after its files landed: the crash of an
  * upgrade between its postings swap and its docs swap.
  */
class CrashOnDocsVersionCommitter(
    out: org.apache.hadoop.fs.Path,
    ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    super.commitJob(job)
    if (out.getName.matches("docs\\.v\\d+") &&
        out.toString.contains("bm25_upgrade_crash"))
      throw new java.io.IOException("injected crash after the postings swap")
  }
}
