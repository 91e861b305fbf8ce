package graft

import graft.functions.VectorFns
import graft.operators.{DedupOps, Similarity, SqIndex}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def embs = Tables(spark, sf, "embeddings")
  private def docs = Tables(spark, sf, "documents")

  test("native dot product expression matches higher-order-function form") {
    val df = embs.limit(50)
      .select(VectorFns.dot(col("embedding"), col("embedding")).as("native"),
        VectorFns.dotHof(col("embedding"), col("embedding")).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("dot product survives whole-stage codegen (plan contains it)") {
    val df = embs.select(VectorFns.dot(col("embedding"), col("embedding")).as("d"))
    // executes through the codegen path; equality with interpreted eval is
    // covered above — here we just assert evaluation works end-to-end
    assert(df.agg(sum("d")).collect()(0).getDouble(0) > 0)
  }

  test("topK self-query ranks itself first with sim 1.0") {
    val firstVec = embs.filter(col("vec_id") === 0)
      .select("embedding").collect()(0)
      .getSeq[Float](0).map(_.toDouble).toArray
    val top = Similarity.topK(embs, "vec_id", "embedding", firstVec, 3).collect()
    assert(top(0).getAs[Long]("vec_id") == 0L)
    assert(math.abs(top(0).getAs[Double]("sim") - 1.0) < 1e-9)
  }

  test("LSH near-dup pairs are a subset of exact pairs at same threshold") {
    val exact = Similarity.nearDupPairs(embs, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(embs, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH produced a pair the exact scan did not")
  }

  test("semantic dedup: clustered drops are a subset of exhaustive drops") {
    def drops(nClusters: Int, iters: Int) =
      Similarity.semanticDedup(embs, "vec_id", "embedding", nClusters, iters, 0.4)
        .filter(col("kept") === 0L)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val exhaustive = drops(1, 1)
    val clustered = drops(8, 2)
    // clustering only removes CROSS-cluster pairs from consideration, so it
    // can only under-drop — never invent a drop
    assert(clustered.subsetOf(exhaustive),
      s"clustered dropped ${(clustered -- exhaustive).size} ids the all-pairs rule kept")
    // and the exhaustive rule agrees with the q22 pair set: an id is dropped
    // iff it appears as the HIGHER id of some near-dup pair
    val pairHighs = Similarity.nearDupPairs(embs, "vec_id", "embedding", 0.4)
      .select("id_b").collect().map(_.getLong(0)).toSet
    assert(exhaustive == pairHighs)
    assert(exhaustive.nonEmpty, "corpus has cosine≥0.4 pairs; drop set must be non-empty")
  }

  test("duplicate passages: hand-computed sliding-window fractions") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six"),
      (2L, "zero one two three four five"),
      (3L, "short text"),
      (4L, "aa bb cc dd ee aa bb cc dd ee")).toDF("doc_id", "text")
    val out = DedupOps.duplicatePassages(corpus, "doc_id", "text", winTokens = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // d1/d2 share exactly "one two three four five"; d3 has <5 tokens;
    // d4's first and last windows coincide (intra-doc repeat counts)
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 0L, 0L, 0.0),
      (4L, 6L, 2L, 0.333333)))
  }

  test("incremental dedup flags exact and near dups against the corpus only") {
    import spark.implicits._
    val newBatch = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "totally different words here now"),
      (102L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "unrelated corpus text entirely")).toDF("doc_id", "text")
    val out = DedupOps.dedupAgainst(newBatch, corpus, "doc_id", "text", 3, 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // 100 = verbatim corpus dup; 102 shares 2 of 4 distinct 3-grams with
    // corpus doc 1 (J = 0.5, at threshold); 101 matches nothing
    assert(out.toSeq == Seq(
      (100L, 1L, 1L, 1.0), (101L, 0L, 0L, 0.0), (102L, 0L, 1L, 0.5)))
  }

  test("shingle-sharded dedup index is row-identical to dedupAgainst and prunes shards") {
    val corpus = docs
    val newBatch = corpus.filter(col("doc_id") < 30)
      .select(col("doc_id") + 100000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_index")
    DedupOps.writeDedupIndex(corpus, "doc_id", "text", n = 3, dir)
    val indexed = DedupOps.dedupAgainstIndex(spark, dir, newBatch,
      "doc_id", "text", n = 3, threshold = 0.5)
    val direct = DedupOps.dedupAgainst(newBatch, corpus, "doc_id", "text",
      3, 0.5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(indexed) === rows(direct))
    // the operator's output is checkpointed (materializeAndRelease), so
    // pin the pruned scan on the exposed subplan it builds internally; a
    // 2-doc micro-batch shows the selectivity (a 30-doc batch's shingles
    // legitimately cover most shards — graceful degradation)
    val micro = DedupOps.shingles(newBatch.limit(2), "doc_id", "text", 3)
    val nMicroShards = micro.selectExpr("shingle").distinct().count()
      .min(DedupOps.DefaultShingleShards.toLong)
    val pruned = DedupOps.prunedShingleIndex(spark, dir, micro,
      DedupOps.DefaultShingleShards)
    // only the batch's shard directories are listed and scanned
    val scans = baseShardScans(pruned, "shingles")
    assert(scans.size == 1 && scans.head.nonEmpty &&
      scans.head.size <= nMicroShards, scanRoots(pruned))
    assert(pruned.select("shard").distinct().count() <= nMicroShards)
  }

  test("dedup index persists its shard count; readers and appenders derive it from the layout") {
    // an index BUILT at one modulus must stay correct when read or
    // appended under a DIFFERENT default — the layout records nShards
    // (the _NSHARDS_ marker), so a cross-version default drift (256→64)
    // can no longer silently prune shard=hash%new against dirs
    // partitioned by hash%old and miss duplicate pairs
    val corpus = docs.select(col("doc_id"), col("text"))
    val probe = corpus.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_nshards")
    // build at 7 shards (≠ any default, coprime with nothing relevant)
    DedupOps.writeDedupIndex(corpus, "doc_id", "text", n = 3, dir,
      nShards = 7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val want = rows(DedupOps.dedupAgainst(probe, corpus, "doc_id", "text",
      3, 0.5))
    // read with the DEFAULT parameter (64): the marker must win
    assert(rows(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5)) === want)
    // append with the default too: rows must land under the 7-modulus
    val extra = corpus.filter(col("doc_id") === 1)
      .select(col("doc_id") + 600000L as "doc_id", col("text"))
    DedupOps.appendToDedupIndex(extra, "doc_id", "text", 3, dir)
    val wantAfter = rows(DedupOps.dedupAgainst(probe,
      corpus.unionByName(extra), "doc_id", "text", 3, 0.5))
    assert(rows(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5)) === wantAfter)
    // a re-sharding compaction rewrites the marker
    DedupOps.compactDedupIndex(spark, dir, "doc_id", reshardTo = Some(5))
    assert(graft.operators.IndexLayout.readShardCountMarker(spark, dir)
      === Some(5))
    assert(rows(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5)) === wantAfter)
  }

  test("a rebuild crashing before its shard-count marker leaves readers on the caller's modulus") {
    // the crash window: a rebuild at a new modulus writes its postings
    // and fingerprints, then dies before stamping its _NSHARDS_ marker.
    // The rebuild clears the previous index's marker with the other
    // lifecycle state before it writes, so readers fall back to the
    // caller's modulus instead of pruning the new postings with the
    // stale one (missed pairs)
    import graft.operators.IndexLayout
    val corpus = docs.select(col("doc_id"), col("text"))
    val probe = corpus.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_marker_crash")
    DedupOps.writeDedupIndex(corpus, "doc_id", "text", n = 3, dir,
      nShards = 7)
    assert(IndexLayout.readShardCountMarker(spark, dir) === Some(7))
    // inject the crash: the committer fails right after the rebuild's
    // last table write lands, before the marker step begins
    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[CrashAfterFingerprintsCommitter].getName)
    try intercept[Exception] {
      DedupOps.writeDedupIndex(corpus, "doc_id", "text", n = 3, dir,
        nShards = 16)
    } finally spark.conf.unset(key)
    assert(IndexLayout.readShardCountMarker(spark, dir).isEmpty,
      "the stale marker must not survive the crashed rebuild")
    assert(IndexLayout.leaseHolder(spark, dir).isEmpty, "lease released")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(DedupOps.dedupAgainstIndex(spark, dir, probe,
        "doc_id", "text", 3, 0.5, nShards = 16))
      === rows(DedupOps.dedupAgainst(probe, corpus, "doc_id", "text", 3, 0.5)))
  }

  /** An ingest-shaped batch over the corpus: 40 copied docs, near
    * copies of ten of them, exact copies of five more, a duplicated id
    * (both of its texts exact copies), a null text, a null id and docs
    * under 3 tokens.
    */
  private def dedupBatch: org.apache.spark.sql.DataFrame = {
    def from(lo: Int, hi: Int, id: org.apache.spark.sql.Column,
             text: org.apache.spark.sql.Column) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(id.cast("long").as("doc_id"), text.as("text"))
    import spark.implicits._
    from(0, 40, col("doc_id") + 700000L, col("text"))
      .unionByName(from(0, 10, col("doc_id") + 700200L,
        concat(col("text"), lit(" with a fresh tail of words"))))
      .unionByName(from(10, 15, col("doc_id") + 700300L, col("text")))
      .unionByName(from(20, 21, lit(700005L), col("text")))
      .unionByName(from(3, 4, lit(null), col("text")))
      .unionByName(Seq((700400L, null: String), (700401L, "two words"),
        (700402L, "")).toDF("doc_id", "text"))
  }

  private def stringIds(df: org.apache.spark.sql.DataFrame) =
    df.select(concat(lit("d"), col("doc_id")).as("doc_id"), col("text"))

  /** A frame's rows as a sorted multiset of strings. */
  private def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** Whether an operator answered from the driver: its result is a
    * local relation, not a checkpointed Spark result.
    */
  private def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private val distributed = DedupOps.Regimes(driverMaxRows = 0,
    driverMaxTextChars = 0)

  test("exact-dup check: broadcast and shuffle regimes agree and match the non-indexed oracle") {
    val corpus = docs
    val probe = corpus.filter(col("doc_id") < 25)
      .select(col("doc_id") + 300000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_fpreg")
    DedupOps.writeDedupIndex(corpus, "doc_id", "text", n = 3, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // the distributed regime's default: increment fingerprints broadcast
    // over one corpus scan
    val broadcastRegime = rows(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5, DedupOps.DefaultShingleShards, None,
      distributed))
    // force the shuffle semi-join fallback and require identical rows
    val shuffleRegime = rows(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5, DedupOps.DefaultShingleShards, None,
      distributed.copy(fpBroadcastMaxRows = 0)))
    assert(broadcastRegime == shuffleRegime)
    // and both equal the non-indexed oracle
    assert(broadcastRegime == rows(DedupOps.dedupAgainst(probe, corpus,
      "doc_id", "text", 3, 0.5)))
  }

  test("exact-dup regimes stay row-identical for a duplicate-id increment; rowCountHint skips the count") {
    val corpus = docs
    // an increment that REPEATS ids (a retried upstream batch glued onto
    // itself): both regimes emit distinct matched ids, so the downstream
    // left-join multiplies rows IDENTICALLY — without the fallback's
    // distinct, the shuffle regime emitted one row per increment row and
    // the regime-equality guarantee held only for unique-id increments
    val once = corpus.filter(col("doc_id") < 15)
      .select(col("doc_id") + 400000L as "doc_id", col("text"))
    val probe = once.unionAll(once)
    val dir = Scratch.dir("dedup_dupids")
    DedupOps.writeDedupIndex(corpus, "doc_id", "text", n = 3, dir)
    def all(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val broadcastRegime = all(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5, DedupOps.DefaultShingleShards, None,
      distributed))
    val shuffleRegime = all(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5, DedupOps.DefaultShingleShards, None,
      distributed.copy(fpBroadcastMaxRows = 0)))
    assert(broadcastRegime == shuffleRegime,
      "regimes multiply duplicate-id rows differently")
    // a caller-supplied row count picks the regime without the extra
    // count action and must not change the rows
    val hinted = all(DedupOps.dedupAgainstIndex(spark, dir, probe,
      "doc_id", "text", 3, 0.5, DedupOps.DefaultShingleShards,
      Some(probe.count()), distributed))
    assert(hinted == broadcastRegime)
  }

  test("minhashLshPairs: the driver regime is row-identical to the distributed regime") {
    import spark.implicits._
    def lsh(df: org.apache.spark.sql.DataFrame, r: DedupOps.Regimes,
            t: Double = 0.5) =
      DedupOps.minhashLshPairs(df, "doc_id", "text", 3, t, 32, 8, false, r)
    val batch = dedupBatch.localCheckpoint()
    val cases = Seq("empty" -> Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "long ids" -> batch, "string ids" -> stringIds(batch))
    for ((name, b) <- cases; t <- Seq(0.5, 0.8)) {
      val local = lsh(b, DedupOps.Regimes(), t)
      val dist = lsh(b, distributed, t)
      assert(onDriver(local) && !onDriver(dist), name)
      assert(multiset(local) == multiset(dist), s"$name at $t")
      assert(multiset(local).nonEmpty || name == "empty", s"$name at $t")
    }
    // string ids pair in Spark's string order ("d700010" < "d700300")
    assert(lsh(stringIds(batch), DedupOps.Regimes()).collect()
      .forall(r => r.getString(0) < r.getString(1)))
    // a batch of exactly the row cap dedups on the driver, one more row
    // falls back; the same for the text cap
    val rows = batch.count().toInt
    val chars = batch.agg(sum(coalesce(length(col("text")), lit(0)))).head().getLong(0)
    val atRowCap = lsh(batch, DedupOps.Regimes(driverMaxRows = rows))
    val overRowCap = lsh(batch, DedupOps.Regimes(driverMaxRows = rows - 1))
    val atTextCap = lsh(batch, DedupOps.Regimes(driverMaxTextChars = chars))
    val overTextCap = lsh(batch, DedupOps.Regimes(driverMaxTextChars = chars - 1))
    assert(onDriver(atRowCap) && !onDriver(overRowCap))
    assert(onDriver(atTextCap) && !onDriver(overTextCap))
    assert(Set(atRowCap, overRowCap, atTextCap, overTextCap).map(multiset)
      == Set(multiset(lsh(batch, distributed))))
  }

  test("minhashLshPairs' driver regime over a checkpointed batch starts exactly one job") {
    val batch = dedupBatch.localCheckpoint()
    val (pairs, jobs) = jobsDuring(
      DedupOps.minhashLshPairs(batch, "doc_id", "text", 3, 0.5).collect())
    assert(pairs.nonEmpty)
    assert(jobs == 1, s"$jobs Spark jobs")
  }

  test("dedupAgainstIndex: the driver regime is row-identical to the distributed regime and to dedupAgainst") {
    import spark.implicits._
    // a base, two live segments and a tombstone batch
    val corpus = docs.select(col("doc_id"), col("text"))
    val dir = Scratch.dir("dedup_driver")
    DedupOps.writeDedupIndex(corpus.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", 3, dir)
    for (seg <- 0 to 1)
      DedupOps.writeDedupIndex(corpus.filter(col("doc_id") % 6 === seg * 3),
        "doc_id", "text", 3, s"$dir/segments/batch=$seg")
    DedupOps.removeFromDedupIndex(corpus.filter(col("doc_id") % 7 === 1)
      .select("doc_id"), "doc_id", dir)
    val live = corpus.filter(col("doc_id") % 7 =!= 1)
    def marks(df: org.apache.spark.sql.DataFrame, r: DedupOps.Regimes) =
      DedupOps.dedupAgainstIndex(spark, dir, df, "doc_id", "text", 3, 0.5,
        DedupOps.DefaultShingleShards, None, r)
    val batch = dedupBatch.localCheckpoint()
    val cases = Seq("empty" -> Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "long ids" -> batch, "string ids" -> stringIds(batch))
    for ((name, b) <- cases) {
      val local = marks(b, DedupOps.Regimes())
      val dist = marks(b, distributed)
      assert(onDriver(local) && !onDriver(dist), name)
      assert(multiset(local) == multiset(dist), name)
      assert(multiset(local) ==
        multiset(DedupOps.dedupAgainst(b, live, "doc_id", "text", 3, 0.5)), name)
    }
    val got = marks(batch, DedupOps.Regimes()).collect()
    assert(got.length == batch.count())
    assert(got.exists(_.getLong(1) == 1L) && got.exists(_.getLong(2) == 1L) &&
      got.exists(r => r.getLong(2) == 1L && r.getLong(1) == 0L))
    // the caps, as for minhashLshPairs
    val rows = batch.count().toInt
    val chars = batch.agg(sum(coalesce(length(col("text")), lit(0)))).head().getLong(0)
    val atRowCap = marks(batch, DedupOps.Regimes(driverMaxRows = rows))
    val overRowCap = marks(batch, DedupOps.Regimes(driverMaxRows = rows - 1))
    val atTextCap = marks(batch, DedupOps.Regimes(driverMaxTextChars = chars))
    val overTextCap = marks(batch, DedupOps.Regimes(driverMaxTextChars = chars - 1))
    assert(onDriver(atRowCap) && !onDriver(overRowCap))
    assert(onDriver(atTextCap) && !onDriver(overTextCap))
    assert(Set(atRowCap, overRowCap, atTextCap, overTextCap).map(multiset)
      == Set(multiset(marks(batch, distributed))))
  }

  test("fingerprint tables with a stray extra column are refused until upgrade restores the canonical shape") {
    // the round-11 interim format carried an fpshard column (the sharded
    // layout was measured and rejected) — reads and compactions refuse
    // it, naming the migration; upgrade folds the table back to
    // (id, __fp)
    val corpus = docs
    val probe = corpus.filter(col("doc_id") < 25)
      .select(col("doc_id") + 400000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_fpcol")
    DedupOps.writeDedupIndex(corpus, "doc_id", "text", n = 3, dir)
    val fpDir = s"$dir/fingerprints"
    val withExtra = spark.read.parquet(fpDir)
      .withColumn("fpshard", lit(7))
      .collect()
    import spark.implicits._
    val extraDf = withExtra.map(r => (r.getLong(0), r.getString(1), 7)).toSeq
      .toDF("doc_id", "__fp", "fpshard")
    val p = new org.apache.hadoop.fs.Path(fpDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    extraDf.write.mode("overwrite").parquet(fpDir)
    def rows(d: String) = DedupOps.dedupAgainstIndex(spark, d, probe,
      "doc_id", "text", 3, 0.5).collect().map(_.toSeq).toSet
    val want = DedupOps.dedupAgainst(probe, corpus, "doc_id", "text", 3, 0.5)
      .collect().map(_.toSeq).toSet
    for (op <- Seq[() => Any](() => rows(dir),
        () => DedupOps.compactDedupIndex(spark, dir, "doc_id"))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("DedupOps.upgrade"), e.getMessage)
    }
    DedupOps.upgrade(spark, dir)
    assert(!spark.read.parquet(
        graft.operators.IndexLayout.resolve(spark, fpDir))
      .columns.contains("fpshard"),
      "upgrade must restore the canonical (id, __fp) shape")
    assert(rows(dir) == want, "upgraded table must read exact")
    DedupOps.compactDedupIndex(spark, dir, "doc_id")
    assert(rows(dir) == want, "compacted table must read exact")
  }

  test("appending a batch to the dedup index equals indexing the union") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val probe = docs.filter(col("doc_id") < 20)
      .select(col("doc_id") + 200000L as "doc_id", col("text"))
    val dirInc = Scratch.dir("dedup_inc")
    DedupOps.writeDedupIndex(half1, "doc_id", "text", 3, dirInc)
    DedupOps.appendToDedupIndex(half2, "doc_id", "text", 3, dirInc)
    val dirAll = Scratch.dir("dedup_all")
    DedupOps.writeDedupIndex(docs, "doc_id", "text", 3, dirAll)
    def check(dir: String) = DedupOps.dedupAgainstIndex(spark, dir, probe,
        "doc_id", "text", 3, 0.5)
      .collect().map(_.toSeq).toSet
    assert(check(dirInc) === check(dirAll))
  }

  test("dedup index delete lifecycle: tombstoned reads equal a live-only rebuild") {
    import graft.operators.IndexLayout
    val live = docs.filter(col("doc_id") % 7 =!= 3)
    val probe = docs.filter(col("doc_id") < 20)
      .select(col("doc_id") + 300000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_del")
    val liveDir = Scratch.dir("dedup_live")
    DedupOps.writeDedupIndex(docs, "doc_id", "text", 3, dir)
    DedupOps.removeFromDedupIndex(
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), "doc_id", dir)
    DedupOps.writeDedupIndex(live, "doc_id", "text", 3, liveDir)
    def check(d: String) = DedupOps.dedupAgainstIndex(spark, d, probe,
        "doc_id", "text", 3, 0.5)
      .collect().map(_.toSeq).toSet
    val tombstoned = check(dir)
    assert(tombstoned === check(liveDir))
    // compaction: same rows, sidecar gone, removed ids physically absent,
    // append small-files merged
    DedupOps.appendToDedupIndex(probe, "doc_id", "text", 3, dir)
    val filesBefore = IndexLayout.dataFileCount(spark, s"$dir/shingles")
    DedupOps.compactDedupIndex(spark, dir)
    assert(IndexLayout.dataFileCount(spark, s"$dir/shingles") < filesBefore)
    // folded tombstone files are retained one fold for in-flight readers
    assert(graft.operators.IndexLayout.liveTombstoneFiles(spark, s"$dir/tombstones").isEmpty)
    // (restrict to original ids: the appended probe batch's shifted ids
    // can also hit %7==3 and are legitimately present)
    assert(spark.read.parquet(IndexLayout.resolve(spark, s"$dir/shingles"))
      .filter(col("doc_id") % 7 === 3 && col("doc_id") < 300000L)
      .count() == 0)
    // post-compaction reads still match the live-only rebuild PLUS the
    // appended probe batch (now part of the accumulated corpus)
    val liveAll = live.select(col("doc_id"), col("text")).unionAll(probe)
    val probe2 = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .select(col("doc_id") + 400000L as "doc_id", col("text"))
    assert(DedupOps.dedupAgainstIndex(spark, dir, probe2,
        "doc_id", "text", 3, 0.5).collect().map(_.toSeq).toSet
      === DedupOps.dedupAgainst(probe2, liveAll, "doc_id", "text", 3, 0.5)
        .collect().map(_.toSeq).toSet)
  }

  test("streamed dedup index: segment reads equal a full rebuild; compaction folds") {
    import graft.operators.IndexLayout
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val probe = docs.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    val base = Scratch.dir("dedup_stream")
    val (dir, ckpt) = (s"$base/index", s"$base/ckpt")
    val parts = rows.groupBy { case (id, _) => (id % 3).toInt }
    DedupOps.writeDedupIndex(parts(0).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", 3, dir)
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDedupIndex(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, dir, ckpt)
    src.addData(parts(1).toSeq: _*)
    q.processAllAvailable()
    src.addData(parts(2).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def check(d: String, p: org.apache.spark.sql.DataFrame) =
      DedupOps.dedupAgainstIndex(spark, d, p, "doc_id", "text", 3, 0.5)
        .collect().map(_.toSeq).toSet
    val fullDir = Scratch.dir("dedup_stream_full")
    DedupOps.writeDedupIndex(docs, "doc_id", "text", 3, fullDir)
    val streamed = check(dir, probe)
    assert(streamed === check(fullDir, probe))
    // a replayed batch overwrites its own segment — results converge
    DedupOps.writeDedupIndex(parts(1).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", 3, s"$dir/segments/batch=0")
    assert(check(dir, probe) === streamed)
    // delete a doc that only ever arrived through the stream
    val victim = parts(1).map(_._1).min
    DedupOps.removeFromDedupIndex(Seq(victim).toDF("doc_id"), "doc_id", dir)
    val liveDir = Scratch.dir("dedup_stream_live")
    DedupOps.writeDedupIndex(docs.filter(col("doc_id") =!= victim),
      "doc_id", "text", 3, liveDir)
    val afterDelete = check(dir, probe)
    assert(afterDelete === check(liveDir, probe))
    // compaction folds segments into the base; re-running it (the
    // crash-recovery path) is a no-op
    DedupOps.compactDedupIndex(spark, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    // folded tombstone files are retained one fold for in-flight readers
    assert(graft.operators.IndexLayout.liveTombstoneFiles(spark, s"$dir/tombstones").isEmpty)
    assert(check(dir, probe) === afterDelete)
    DedupOps.compactDedupIndex(spark, dir)
    assert(check(dir, probe) === afterDelete)
    // a fresh writeDedupIndex at a path that previously received streamed
    // segments must not union the OLD corpus's postings into reads: plant
    // a stale segment, rebuild over a half-corpus, and the check must
    // equal a clean half-corpus index
    DedupOps.writeDedupIndex(parts(2).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", 3, s"$dir/segments/batch=9")
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).nonEmpty)
    val half = docs.filter(col("doc_id") % 2 === 0)
    DedupOps.writeDedupIndex(half, "doc_id", "text", 3, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    val halfDir = Scratch.dir("dedup_half")
    DedupOps.writeDedupIndex(half, "doc_id", "text", 3, halfDir)
    assert(check(dir, probe) === check(halfDir, probe))
  }

  test("dedup compaction: a segment arriving mid-compaction survives; appends follow the versioned layout") {
    import graft.operators.IndexLayout
    import spark.implicits._
    val parts = (0 to 3).map(r => docs.filter(col("doc_id") % 4 === r)
      .select(col("doc_id"), col("text")))
    val probe = docs.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_race")
    DedupOps.writeDedupIndex(parts(0), "doc_id", "text", 3, dir)
    DedupOps.writeDedupIndex(parts(1), "doc_id", "text", 3,
      s"$dir/segments/batch=0")
    // snapshot, then a late segment lands — the race the fold must survive
    val snapshot = IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir))
    DedupOps.writeDedupIndex(parts(2), "doc_id", "text", 3,
      s"$dir/segments/batch=1")
    DedupOps.compactDedupIndexFolding(spark, dir, "doc_id", snapshot)
    val left = IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir))
    assert(left.size == 1 && left.head.endsWith("batch=1"))
    def check(d: String) = DedupOps.dedupAgainstIndex(spark, d, probe,
        "doc_id", "text", 3, 0.5).collect().map(_.toSeq).toSet
    val corpus012 = parts(0).unionAll(parts(1)).unionAll(parts(2))
    assert(check(dir) ===
      DedupOps.dedupAgainst(probe, corpus012, "doc_id", "text", 3, 0.5)
        .collect().map(_.toSeq).toSet)
    // next compaction folds the survivor; the layout is now versioned and
    // appends must land in it
    DedupOps.compactDedupIndex(spark, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    assert(IndexLayout.currentVersion(spark, s"$dir/shingles").isDefined)
    DedupOps.appendToDedupIndex(parts(3), "doc_id", "text", 3, dir)
    assert(check(dir) ===
      DedupOps.dedupAgainst(probe, corpus012.unionAll(parts(3)),
        "doc_id", "text", 3, 0.5).collect().map(_.toSeq).toSet)
  }

  test("compaction with the maintenance stream LIVE: segments landing after it keep reads exact") {
    import graft.operators.IndexLayout
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val parts = rows.groupBy { case (id, _) => (id % 3).toInt }
    val probe = docs.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    val base = Scratch.dir("dedup_live_compact")
    val (dir, ckpt) = (s"$base/index", s"$base/ckpt")
    DedupOps.writeDedupIndex(parts(0).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", 3, dir)
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDedupIndex(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, dir, ckpt)
    src.addData(parts(1).toSeq: _*)
    q.processAllAvailable()
    // compact WHILE the query is live (between micro-batches): folds the
    // one landed segment — the snapshot discipline means the stream may
    // keep writing segments without pausing
    DedupOps.compactDedupIndex(spark, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    // the next micro-batch lands a NEW segment on the compacted base
    src.addData(parts(2).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).nonEmpty)
    val fullDir = Scratch.dir("dedup_live_full")
    DedupOps.writeDedupIndex(docs, "doc_id", "text", 3, fullDir)
    def check(d: String) = DedupOps.dedupAgainstIndex(spark, d, probe,
        "doc_id", "text", 3, 0.5).collect().map(_.toSeq).toSet
    assert(check(dir) === check(fullDir))
    // a final compaction folds the post-compaction segment too
    DedupOps.compactDedupIndex(spark, dir)
    assert(IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(dir)).isEmpty)
    assert(check(dir) === check(fullDir))
  }

  test("re-sharding dedup compaction equals a fresh build at the new nShards") {
    import graft.operators.IndexLayout
    import spark.implicits._
    val probe = docs.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    val dir = Scratch.dir("dedup_reshard")
    DedupOps.writeDedupIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", 3, dir, nShards = 8)
    DedupOps.appendToDedupIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", 3, dir, nShards = 8)
    DedupOps.compactDedupIndex(spark, dir, "doc_id", reshardTo = Some(256))
    val freshDir = Scratch.dir("dedup_reshard_f")
    DedupOps.writeDedupIndex(docs, "doc_id", "text", 3, freshDir, nShards = 256)
    def postings(d: String) = spark.read.parquet(
        IndexLayout.resolve(spark, s"$d/shingles"))
      .select("doc_id", "shingle", "sz", "shard")
      .collect().map(_.toSeq).toSet
    assert(postings(dir) === postings(freshDir))
    // the incremental check at the NEW shard count matches the scan twin
    assert(DedupOps.dedupAgainstIndex(spark, dir, probe, "doc_id", "text",
        3, 0.5, nShards = 256).collect().map(_.toSeq).toSet
      === DedupOps.dedupAgainst(probe, docs, "doc_id", "text", 3, 0.5)
        .collect().map(_.toSeq).toSet)
  }

  test("size-denormalized pair join is row-identical to the sizes-join formulation") {
    // ngramJaccardPairs' round-12 restructure rides each doc's distinct-
    // shingle-set size on the index rows (no per-id size aggregate, no
    // closing sizes joins); this pins row identity against the old
    // aggregate+join shape on a corpus with exact duplicates, overlapping
    // docs and a hot shingle shared corpus-wide. (A bucket-expansion
    // variant — groupBy shingle + local pair explode — was also built,
    // measured 0.5 s slower on q24, and reverted; see OPTIMIZATION_r12.)
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "alpha beta gamma delta nu xi"),        // overlaps 1/2
      (4L, "omicron pi rho sigma tau upsilon"),    // disjoint tokens
      (5L, "alpha beta gamma phi chi psi"),        // shares the hot prefix
      (6L, null.asInstanceOf[String]),             // null text
      (7L, "tiny")                                 // < n tokens: no shingles
    ).toDF("doc_id", "text")
    val got = DedupOps.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.1)
    // the pre-restructure join formulation, verbatim
    val sh = DedupOps.shingles(corpus, "doc_id", "text", 3)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val want = sh.select(col("doc_id").as("id_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= 0.1)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(got) === rows(want))
    assert(rows(got).nonEmpty)
    // capped branch: candidate generation + exact verifier, same rows
    val capped = DedupOps.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.1, maxShingleDf = Some(10L))
    assert(rows(capped) === rows(want))
  }

  test("minhash LSH recovers all exact-jaccard pairs on this corpus") {
    val exact = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified LSH pair not in exact set")
    // the corpus near-dups are true dups (jaccard 1.0) → identical
    // signatures → banding must recover every one of them
    assert(lsh == exact, s"recall miss: ${(exact -- lsh).size} of ${exact.size}")
  }

  test("exact-recall guard recovers planted J=0.50 borderline pairs exactly") {
    import spark.implicits._
    // 40 pairs engineered at exactly J = 0.5 (6 shared of 9+9 distinct
    // 3-gram shingles) — where 16×2 banding misses ~1% per pair, so across
    // 40 pairs an unguarded miss is a ~33% event per reseed — plus 10 pairs
    // just BELOW threshold (5 shared → J≈0.385) that must stay excluded.
    val planted = (0 until 40).flatMap { g =>
      val shared = (0 until 8).map(i => s"s${g}w$i").mkString(" ")
      Seq((g * 2L, shared + s" a${g}x0 a${g}x1 a${g}x2"),
        (g * 2L + 1, shared + s" b${g}y0 b${g}y1 b${g}y2"))
    } ++ (0 until 10).flatMap { g =>
      val shared = (0 until 7).map(i => s"t${g}w$i").mkString(" ")
      Seq((100L + g * 2L, shared + s" c${g}x0 c${g}x1 c${g}x2 c${g}x3"),
        (100L + g * 2L + 1, shared + s" d${g}y0 d${g}y1 d${g}y2 d${g}y3"))
    }
    val corpus = planted.toDF("doc_id", "text")
    val exact = DedupOps.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.size == 40 && exact.forall(_._3 == 0.5), s"${exact.size}")
    val guarded = DedupOps.minhashLshPairs(corpus, "doc_id", "text", 3, 0.5,
      k = 32, bands = 16, exactRecallGuard = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(guarded == exact,
      s"missed ${(exact -- guarded).size}, extra ${(guarded -- exact).size}")
  }

  test("guarded LSH equals exact jaccard on seeded random corpora") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val docsR = (0 until 120).map { id =>
        (id.toLong, Seq.fill(8 + rnd.nextInt(20))(s"w${rnd.nextInt(30)}")
          .mkString(" "))
      }.toDF("doc_id", "text")
      val exact = DedupOps.ngramJaccardPairs(docsR, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val guarded = DedupOps.minhashLshPairs(docsR, "doc_id", "text", 3, 0.5,
        k = 32, bands = 16, exactRecallGuard = true).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(guarded == exact, s"seed=$seed")
    }
  }

  test("prefix-filtered jaccard join is row-identical to the full index") {
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val full = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 3, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 3, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == full, s"tau=$tau")
      assert(full.nonEmpty || tau > 0.5) // corpus has pairs at low tau
    }
  }

  test("verification regimes agree: broadcast merge-intersect == join path") {
    // same corpus, both verification regimes (a zero cap forces the
    // array_intersect join path that big candidate volumes would take)
    val bcast = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val joined = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        DedupOps.Regimes(verifyLocalMaxShingles = 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bcast === joined)
    assert(bcast.nonEmpty)
  }

  test("verification is id-type-generic: string ids verify in both regimes") {
    // the broadcast regime keys its map on the id's string cast — a
    // non-bigint id column must neither ClassCastException nor change the
    // result; pairs must mirror the Long-id run under id renaming
    // pairs compare UNORDERED: string ids sort lexicographically, so the
    // (id_a, id_b) orientation can legitimately flip vs the Long run
    val sdocs = docs.withColumn("doc_id", concat(lit("d"), col("doc_id")))
    val longPairs = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (Set(s"d${r.getLong(0)}", s"d${r.getLong(1)}"), r.getDouble(2))).toSet
    val bcast = DedupOps.prefixJaccardPairs(sdocs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (Set(r.getString(0), r.getString(1)), r.getDouble(2))).toSet
    assert(bcast === longPairs)
    assert(bcast.nonEmpty)
    val joined = DedupOps.prefixJaccardPairs(sdocs, "doc_id", "text", 3, 0.5,
        DedupOps.Regimes(verifyLocalMaxShingles = 0))
      .collect().map(r => (Set(r.getString(0), r.getString(1)), r.getDouble(2))).toSet
    assert(joined === longPairs)
  }

  test("one-pass simhash matches the explode+aggregate formulation") {
    // the aggregate (shuffle) formulation the one-pass UDF replaced: explode
    // tokens, xxhash64 each, 64 per-bit majority-vote sums
    val tok = docs.limit(200)
      .select(col("doc_id"), explode(DedupOps.tokens(col("text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val sigExpr = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val viaAgg = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sigExpr.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onePass = DedupOps.simhash(docs.limit(200), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(onePass == viaAgg)
  }

  test("one-pass minhash signatures match the explode+groupBy formulation") {
    val sample = docs.limit(200)
    val viaAgg = DedupOps.minhashSignatures(
        DedupOps.shingles(sample, "doc_id", "text", 3), "doc_id", k = 32)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val onePass = DedupOps.minhashSignaturesOnePass(
        sample, "doc_id", "text", n = 3, k = 32)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(onePass == viaAgg)
  }

  test("maxShingleDf cap: identical pairs on a boilerplate-heavy corpus") {
    import spark.implicits._
    // the PERF.md blowup shape: one boilerplate tail shared by EVERY doc
    // (hot shingles, DF = corpus size) + per-doc unique bodies; true dups
    // share rare shingles and must survive the cap untouched
    val boiler = "subscribe to our newsletter terms and conditions apply " +
      "all rights reserved contact support for further assistance today"
    // unique body must dominate the boilerplate tail, else base-doc pairs
    // would be TRUE pairs at τ=0.5 sharing only hot shingles — the one
    // documented loss mode of the cap, not what this test measures
    val base = (0 until 60).map { i =>
      val body = (0 until 40).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, s"$body $boiler")
    }
    val dups = Seq(
      (100L, s"the quick brown fox jumps over the lazy dog again and again $boiler"),
      (101L, s"the quick brown fox jumps over the lazy dog again and again $boiler"),
      (102L, s"an entirely different duplicate cluster with its own words here $boiler"),
      (103L, s"an entirely different duplicate cluster with its own words here $boiler"))
    val df = (base ++ dups).toDF("doc_id", "text")
    def pairs(cap: Option[Long]) =
      DedupOps.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
    val full = pairs(None)
    val capped = pairs(Some(10))
    assert(full.exists(p => p._1 == 100L && p._2 == 101L))
    assert(full.exists(p => p._1 == 102L && p._2 == 103L))
    assert(capped == full,
      "capped candidate generation must not change the exact pair set")
  }

  test("SQ8 quantization: 4x compression, tight shortlist recalls exact top-k") {
    val corpus = embs
    val model = SqIndex.train(corpus, "embedding")
    val dim = model.dim
    assert(dim == corpus.select(size(col("embedding"))).head().getInt(0))
    // codes are 1 byte/dim vs 4 (float32) — the 4x claim, structurally
    val code = SqIndex.encode(corpus.limit(1), "embedding", model)
      .select(col("qcode")).head().getAs[Array[Byte]](0)
    assert(code.length == dim)
    // int8 quantization error is tiny relative to inter-vector distances:
    // a 50-of-N shortlist must recall the exact top-10 completely here
    val q = corpus.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    val rest = corpus.filter(col("vec_id") =!= 3L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val n = rest.count().toInt
    val exact = ids(SqIndex.searchWithRerank(rest, "vec_id", "embedding",
      model, q, shortlist = n, topK = 10).select("vec_id"))
    val approx = ids(SqIndex.searchWithRerank(rest, "vec_id", "embedding",
      model, q, shortlist = 50, topK = 10).select("vec_id"))
    assert(exact.size == 10)
    assert(approx == exact, s"recall miss: ${(exact -- approx).size} of 10")
  }

  test("decontaminate shuffle-join fallback matches the broadcast path") {
    // maxBroadcastRows = 0 forces the above-threshold path: the benchmark
    // gram set must NOT broadcast (a corpus-proportional broadcast OOMs
    // the driver at scale) and the results must be identical
    val pred = col("doc_id") % 97 === 0
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBroadcast = DedupOps.decontaminate(docs, "doc_id", "text", 4, pred)
    val viaShuffle = DedupOps.decontaminate(docs, "doc_id", "text", 4, pred,
      maxBroadcastRows = 0L)
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(viaShuffle.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"))
    assert(toMap(viaShuffle) == toMap(viaBroadcast))
    assert(toMap(viaBroadcast).nonEmpty)
  }

  test("md5 low-64 token hash matches DuckDB's md5_number_lower convention") {
    // known answers taken from DuckDB: SELECT md5_number_lower('abc'|'the'|'42')
    assert(DedupOps.md5Low64Token("abc") == 8250560606382298838L)
    assert(DedupOps.md5Low64Token("the") == 6287873238205204795L)
    // 11986520573880583896 > Long.MaxValue — same BITS as this signed value
    assert(DedupOps.md5Low64Token("42") == java.lang.Long.parseUnsignedLong("11986520573880583896"))
  }

  test("minhashEstimateAudit: est exact for identical docs, unsigned mod-p parity") {
    import spark.implicits._
    // the signed-long mod-p correction (2^64 ≡ 4 mod 2^31-1) must equal
    // true unsigned arithmetic for every sign case
    val p = BigInt(2147483647L)
    for (tok <- Seq("abc", "the", "42", "hash join fast")) {
      val l = DedupOps.md5Low64Token(tok)
      val viaFormula = {
        val m = ((l % 2147483647L) + 2147483647L) % 2147483647L
        if (l < 0) (m + 4) % 2147483647L else m
      }
      val unsigned = (BigInt(l) + (if (l < 0) BigInt(1) << 64 else BigInt(0))) mod p
      assert(BigInt(viaFormula) == unsigned, tok)
    }
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical → J = 1
      (3L, "totally different unrelated words nothing shared here ok"))
      .toDF("doc_id", "text")
    val rows = DedupOps.minhashEstimateAudit(df, "doc_id", "text",
      n = 3, threshold = 0.5, k = 8).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    // identical shingle sets → every component matches: est = J = 1 exactly
    assert(r.getAs[Double]("jaccard") == 1.0)
    assert(r.getAs[Double]("est_jaccard") == 1.0)
    assert(r.getAs[Double]("abs_err") == 0.0)
  }

  test("truncationAudit: full-width truncation is the identity audit") {
    val embs = Tables(spark, sf, "embeddings").limit(60)
    val q = embs.filter(col("vec_id") < 3)
    val full = operators.Similarity.truncationAudit(q, embs,
      "vec_id", "embedding", dims = 64, k = 5).collect()
    assert(full.length == 3)
    full.foreach { r =>
      assert(r.getAs[Long]("overlap") == 5L, r)
      assert(r.getAs[Long]("top1_full") == r.getAs[Long]("top1_trunc"), r)
      assert(r.getAs[Double]("overlap_frac") == 1.0)
    }
    // a real truncation can only keep or shrink the overlap
    val trunc = operators.Similarity.truncationAudit(q, embs,
      "vec_id", "embedding", dims = 8, k = 5).collect()
    trunc.foreach(r => assert(r.getAs[Long]("overlap") <= 5L))
  }

  test("cdcDupProfile: chunks cover the text; boundaries survive an insertion") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val t = Array.fill(2000)(('a' + rnd.nextInt(26)).toChar).mkString
    val df = Seq(
      (1L, t),
      (2L, "INSERTED PREFIX " + t), // shifts every fixed-offset block
      (3L, t),                      // identical twin of doc 1
      (4L, Array.fill(500)(('a' + rnd.nextInt(26)).toChar).mkString))
      .toDF("doc_id", "text")
    val got = DedupOps.cdcDupProfile(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    // chunks partition the text exactly: total_chars = len(text)
    assert(got(1L).getAs[Long]("total_chars") == t.length.toLong)
    assert(got(2L).getAs[Long]("total_chars") == t.length.toLong + 16)
    // identical docs: every chunk recurs → dup_frac = 1
    assert(got(1L).getAs[Double]("dup_frac") == 1.0)
    assert(got(3L).getAs[Double]("dup_frac") == 1.0)
    // content-defined boundaries re-anchor after the insertion: the bulk
    // of doc 2's chars land in chunks shared with doc 1/3 (fixed-offset
    // blocks would share nothing past the shift)
    assert(got(2L).getAs[Double]("dup_frac") > 0.5,
      s"shift resistance lost: ${got(2L)}")
    // unrelated content shares nothing
    assert(got(4L).getAs[Long]("dup_chars") == 0L)
  }

  test("cdc profile matches an independent recompute on seeded random corpora") {
    import spark.implicits._
    // reference chunker with INDEPENDENT arithmetic: per-window O(w)
    // polynomial sum (no rolling update), same B/M/modulus constants
    def chunksOf(t: String, w: Int = 8, modulus: Int = 64): Seq[String] = {
      val B = 257L; val M = 1000000007L
      val pows = Array.iterate(1L, w)(p => p * B % M).reverse
      val bs = scala.collection.mutable.ArrayBuffer(0)
      for (i <- w to t.length) {
        val h = (0 until w).map(j => t.charAt(i - w + j).toLong * pows(j) % M).sum % M
        if (h % modulus == 0) bs += i
      }
      if (bs.last != t.length) bs += t.length
      bs.toSeq.sliding(2).map { case Seq(a, b) => t.substring(a, b) }.toSeq
    }
    val docs = (1 to 12).map { seed =>
      val rnd = new scala.util.Random(seed * 31L)
      val base = Array.fill(300 + rnd.nextInt(900))(
        ('a' + rnd.nextInt(26)).toChar).mkString
      val text = seed % 3 match {
        case 0 => base
        case 1 => "prefix" + base          // shifted copy of... itself only
        case _ => base + base.take(100)    // self-repeating tail
      }
      (seed.toLong, text)
    }
    val expected = {
      val all = docs.flatMap { case (id, t) => chunksOf(t).map(c => (id, c)) }
      val freq = all.groupBy(_._2).map { case (c, xs) => c -> xs.size }
      docs.map { case (id, t) =>
        val cs = chunksOf(t)
        val dup = cs.filter(c => freq(c) >= 2)
        id -> ((cs.size.toLong, dup.size.toLong,
          cs.map(_.length).sum.toLong, dup.map(_.length).sum.toLong))
      }.toMap
    }
    val got = operators.DedupOps.cdcDupProfile(
      docs.toDF("doc_id", "text"), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
  }

  test("md5-portable simhash pair set equals the xxh64 banding's guarantees") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "completely different words entirely unrelated content"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(df, "doc_id", "text", 3,
      md5Portable = true).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    pairs.foreach(r => assert(r.getAs[Long]("hamming") <= 3))
  }

  test("simhash of identical texts collides; pairs respect hamming bound") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "completely different words entirely unrelated content"))
      .toDF("doc_id", "text")
    val sig = DedupOps.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    val pairs = DedupOps.simhashPairs(df, "doc_id", "text", 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    pairs.foreach(r => assert(r.getAs[Long]("hamming") <= 3))
  }

  test("substring dedup: copied span marked in later doc only, merged once") {
    import spark.implicits._
    val base = "0123456789abcdefghijklmnopqrs" // 29 distinct chars, no self-dup
    val df = Seq(
      (1L, base),                                  // 20 windows at k=10, all first
      (2L, "zzzz" + base.substring(0, 15) + "QQQQ"), // copies a 15-char span
      (3L, "short"))                               // below k: zero windows
      .toDF("doc_id", "text")
    val rows = DedupOps.substringDedupSpans(df, "doc_id", "text", k = 10)
      .orderBy("doc_id").collect()
    // doc 1 holds every first occurrence: nothing removed
    assert(rows(0).getAs[Long]("n_windows") == 20)
    assert(rows(0).getAs[Long]("chars_removed") == 0)
    // doc 2: the 15 copied chars yield 6 dup windows (offsets 4..9), which
    // merge into ONE span of exactly the copied length
    assert(rows(1).getAs[Long]("n_dup_windows") == 6)
    assert(rows(1).getAs[Long]("n_spans") == 1)
    assert(rows(1).getAs[Long]("chars_removed") == 15)
    // doc 3: shorter than k — zero windows, zero removal
    assert(rows(2).getAs[Long]("n_windows") == 0)
    assert(rows(2).getAs[Long]("chars_removed") == 0)
  }

  test("substring dedup: within-doc repetition keeps only the first window") {
    import spark.implicits._
    val df = Seq((1L, "x" * 20)).toDF("doc_id", "text") // all k-windows identical
    val r = DedupOps.substringDedupSpans(df, "doc_id", "text", k = 10)
      .collect()(0)
    // 11 windows, the off=0 one is kept, offs 1..10 merge to span [1, 20)
    assert(r.getAs[Long]("n_windows") == 11)
    assert(r.getAs[Long]("n_dup_windows") == 10)
    assert(r.getAs[Long]("n_spans") == 1)
    assert(r.getAs[Long]("chars_removed") == 19)
  }

  test("decontaminate spans: marks, merges, and zero-fills exactly") {
    import spark.implicits._
    val df = Seq(
      (100L, "a b c"),          // benchmark: 2-grams {a b, b c}
      (1L, "a b c x y a b"),    // marked at 0, 1, 5
      (2L, "q r s"))            // untouched — still gets a zero row
      .toDF("doc_id", "text")
    val rows = DedupOps.decontaminateSpans(df, "doc_id", "text", n = 2,
        benchPred = col("doc_id") >= 100L)
      .orderBy("doc_id").collect()
    assert(rows.length == 2) // benchmark docs excluded from the output
    val d1 = rows(0)
    // windows 0 and 1 merge ([0,3), 3 tokens); window 5 stands alone ([5,7))
    assert(d1.getAs[Long]("n_tokens") == 7)
    assert(d1.getAs[Long]("n_marked_windows") == 3)
    assert(d1.getAs[Long]("n_spans") == 2)
    assert(d1.getAs[Long]("tokens_removed") == 5)
    assert(d1.getAs[Double]("removed_frac") == 0.714286)
    val d2 = rows(1)
    assert(d2.getAs[Long]("n_marked_windows") == 0)
    assert(d2.getAs[Long]("tokens_removed") == 0)
    assert(d2.getAs[Double]("removed_frac") == 0.0)
  }

  test("spectrum audit: planted axis recovered exactly, isotropy split") {
    import spark.implicits._
    // all variance on dim 0: C = diag(2.5, 0) → λ = 2.5, explained = 1
    val planted = Seq((0L, Array(1.0, 0.0)), (1L, Array(-1.0, 0.0)),
      (2L, Array(2.0, 0.0)), (3L, Array(-2.0, 0.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.spectrumAudit(planted, "vec_id", "embedding", iters = 3)
      .collect()(0)
    assert(r.getAs[Long]("n_vecs") == 4 && r.getAs[Long]("dim") == 2)
    assert(r.getAs[Double]("total_var") == 2.5)
    assert(r.getAs[Double]("top_eig") == 2.5)
    assert(r.getAs[Long]("explained_x1e6") == 1000000L)
    // isotropic: C = diag(0.5, 0.5) → any direction gives λ = 0.5 of 1.0
    val iso = Seq((0L, Array(1.0, 0.0)), (1L, Array(-1.0, 0.0)),
      (2L, Array(0.0, 1.0)), (3L, Array(0.0, -1.0)))
      .toDF("vec_id", "embedding")
    val r2 = Similarity.spectrumAudit(iso, "vec_id", "embedding", iters = 3)
      .collect()(0)
    assert(r2.getAs[Double]("total_var") == 1.0)
    assert(r2.getAs[Double]("top_eig") == 0.5)
    assert(r2.getAs[Long]("explained_x1e6") == 500000L)
  }

  test("dup-cluster histogram: component sizes plus the singleton mass") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta"), // one cluster of 3 identical docs
      (4L, "totally different words here"),
      (5L, "another unrelated document text")) // two singletons
      .toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
    val comps = graft.operators.GraphOps.connectedComponents(pairs, "id_a", "id_b")
    val hist = comps.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist === Map(3L -> 1L))
    // singleton mass = corpus minus dup nodes (the q205 composition rule)
    assert(df.count() - comps.count() == 2)
  }

  test("contamination matrix: per-suite counts, suite docs excluded") {
    import spark.implicits._
    val df = Seq(
      (100L, "a b c d"),  // suite A: 2-grams {a b, b c, c d}
      (200L, "c d e f"),  // suite B: 2-grams {c d, d e, e f}
      (1L, "a b c q"),    // shares {a b, b c} with A only
      (2L, "c d z"),      // shares {c d} with BOTH suites
      (3L, "x y"))        // clean — absent from the sparse matrix
      .toDF("doc_id", "text")
    val got = DedupOps.contaminationBySuite(df, "doc_id", "text", n = 2,
        Seq("A" -> (col("doc_id") === 100L), "B" -> (col("doc_id") === 200L)))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === Map(
      (1L, "A") -> ((2L, 3L, 0.666667)),
      (2L, "A") -> ((1L, 2L, 0.5)),
      (2L, "B") -> ((1L, 2L, 0.5))))
  }

  test("excise contamination: kept stream hashes right, stats-consistent") {
    import spark.implicits._
    val df = Seq(
      (100L, "a b c"),          // benchmark: 2-grams {a b, b c}
      (1L, "a b c x y a b"),    // spans [0,3) and [5,7) → keeps "x y"
      (2L, "q r s"),            // untouched
      (3L, null.asInstanceOf[String])) // null text → md5 of empty
      .toDF("doc_id", "text")
    val got = DedupOps.exciseContamination(df, "doc_id", "text", n = 2,
        benchPred = col("doc_id") >= 100L)
      .orderBy("doc_id").collect()
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.length == 3)
    assert(got(0).getAs[Long]("n_tokens_kept") == 2)
    assert(got(0).getAs[String]("kept_md5") == m("x y"))
    assert(got(1).getAs[Long]("n_tokens_kept") == 3)
    assert(got(1).getAs[String]("kept_md5") == m("q r s"))
    assert(got(2).getAs[Long]("n_tokens_kept") == 0)
    assert(got(2).getAs[String]("kept_md5") == m(""))
    // kept + removed telescopes against the stats operator
    val stats = DedupOps.decontaminateSpans(df, "doc_id", "text", n = 2,
        benchPred = col("doc_id") >= 100L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens") - r.getAs[Long]("tokens_removed"))).toMap
    got.foreach(r => assert(
      r.getAs[Long]("n_tokens_kept") == stats(r.getAs[Long]("doc_id"))))
  }

  test("intra-doc dedup spans: keep-first within the document only") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a"), // grams: ab ba ab ba — repeats at pos 2, 3
      (2L, "x y z"),     // no repeats
      (3L, "a b c"))     // "a b" repeats doc 1's gram but docs are independent
      .toDF("doc_id", "text")
    val rows = DedupOps.intraDocDupSpans(df, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
    val d1 = rows(0)
    // marked windows [2,4) and [3,5) overlap → ONE span covering [2,5)
    assert(d1.getAs[Long]("n_tokens") == 5)
    assert(d1.getAs[Long]("n_marked_windows") == 2)
    assert(d1.getAs[Long]("n_spans") == 1)
    assert(d1.getAs[Long]("tokens_removed") == 3)
    assert(d1.getAs[Double]("removed_frac") == 0.6)
    // cross-document sharing never marks anything
    assert(rows(1).getAs[Long]("n_marked_windows") == 0)
    assert(rows(2).getAs[Long]("n_marked_windows") == 0)
  }

  test("source overlap matrix: shared shingles, zero-overlap pair absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d", "A"),   // shingles {a b c, b c d}
      (2L, "a b c x", "B"),   // shingles {a b c, b c x}
      (3L, "q r s t", "C"))   // disjoint from A and B
      .toDF("doc_id", "text", "source")
    val rows = DedupOps.sourceOverlapMatrix(df, "source", "text", n = 3)
      .collect()
    // only (A, B) shares anything; C pairs are absent entirely
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("source_a") == "A" && r.getAs[String]("source_b") == "B")
    assert(r.getAs[Long]("n_a") == 2 && r.getAs[Long]("n_b") == 2)
    assert(r.getAs[Long]("shared") == 1)
    assert(r.getAs[Double]("jaccard") == 0.333333)
    assert(r.getAs[Double]("containment_a") == 0.5)
    assert(r.getAs[Double]("containment_b") == 0.5)
  }

  test("blocked fuzzy pairs: matches within block only, banded distance") {
    import spark.implicits._
    val df = Seq((1L, "red bolt"), (2L, "red bol"), (3L, "red widget"),
      (4L, "blue bolt")).toDF("id", "name")
    val pairs = DedupOps.blockedFuzzyPairs(df, "id", "name",
        split(col("name"), " ").getItem(0), maxDist = 3)
      .collect()
    // (1,2) dist 1 is the only in-block match; (1,4) has lev 3 but crosses
    // blocks, (1,3)/(2,3) exceed the band
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("id_a") == 1L && pairs(0).getAs[Long]("id_b") == 2L)
    assert(pairs(0).getAs[Long]("dist") == 1L)
  }

  test("sparse cosine pairs match a driver-side tf-idf recomputation") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma"),       // near-identical direction to doc 1
      (3L, "delta epsilon zeta"),     // disjoint content
      (4L, "alpha delta"))            // mixed
      .toDF("doc_id", "text")
    val got = operators.Similarity.sparseCosinePairs(df, "doc_id", "text", 0.0)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("cosine")).toMap
    // driver-side recomputation with the same tokenizer and weighting
    val toks = Map(
      1L -> Seq("alpha", "beta", "gamma", "alpha"),
      2L -> Seq("alpha", "beta", "gamma"),
      3L -> Seq("delta", "epsilon", "zeta"),
      4L -> Seq("alpha", "delta"))
    val n = toks.size.toDouble
    val docFreq = toks.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    val vecs = toks.view.mapValues { ts =>
      ts.groupBy(identity).view.mapValues(_.size).toMap.collect {
        case (t, tf) if docFreq(t) < n => t -> tf * math.log(n / docFreq(t))
      }.toMap
    }.toMap
    def cos(a: Map[String, Double], b: Map[String, Double]): Double = {
      val dot = a.keySet.intersect(b.keySet).toSeq.map(t => a(t) * b(t)).sum
      dot / (math.sqrt(a.values.map(x => x * x).sum) *
        math.sqrt(b.values.map(x => x * x).sum))
    }
    val ids = toks.keys.toSeq.sorted
    for (i <- ids; j <- ids if i < j) {
      val expected = cos(vecs(i), vecs(j))
      if (expected > 0)
        assert(math.abs(got((i, j)) - expected) < 1e-5,
          s"pair ($i,$j): got ${got.get((i, j))}, want $expected")
      else assert(!got.contains((i, j)), s"pair ($i,$j) should share no terms")
    }
    // docs 1 and 2 differ only in one tf on the low-weight shared term
    assert(got((1L, 2L)) > 0.9)
  }

  test("sparse cosine AllPairs index path (vocab > 512) is exact") {
    import spark.implicits._
    // 15 groups × 40 group-private words (600 distinct terms total) force
    // the large-vocab regime, so this pins the prefix-index path that the
    // tiny-vocab oracle corpora never reach. Within a group, doc 2g keeps
    // all 40 words and doc 2g+1 swaps the last one out — a high-cosine
    // pair; different groups share nothing.
    def word(i: Int): String =
      s"${(97 + i / 676).toChar}${(97 + (i / 26) % 26).toChar}${(97 + i % 26).toChar}"
    val docs = (0 until 15).flatMap { g =>
      val ws = (0 until 40).map(k => word(g * 40 + k))
      Seq((2L * g, ws.mkString(" ")),
        (2L * g + 1, (ws.dropRight(1) :+ word(600 + g)).mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    val got = operators.Similarity.sparseCosinePairs(df, "doc_id", "text", 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("cosine")).toMap
    // driver-side exact recomputation over every pair
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = toks.size.toDouble
    val docFreq = toks.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    val vecs = toks.view.mapValues { ts =>
      ts.groupBy(identity).view.mapValues(_.size).collect {
        case (t, tf) if docFreq(t) < n => t -> tf * math.log(n / docFreq(t))
      }.toMap
    }.toMap
    def cos(a: Map[String, Double], b: Map[String, Double]): Double = {
      val dot = a.keySet.intersect(b.keySet).toSeq.sorted.map(t => a(t) * b(t)).sum
      dot / (math.sqrt(a.values.map(x => x * x).sum) *
        math.sqrt(b.values.map(x => x * x).sum))
    }
    val ids = toks.keys.toSeq.sorted
    var expectedPairs = 0
    for (i <- ids; j <- ids if i < j) {
      val e = cos(vecs(i), vecs(j))
      if (e >= 0.5) {
        expectedPairs += 1
        assert(math.abs(got((i, j)) - e) < 1e-5,
          s"pair ($i,$j): got ${got.get((i, j))}, want $e")
      } else assert(!got.contains((i, j)), s"pair ($i,$j) below threshold")
    }
    assert(expectedPairs == 15 && got.size == 15) // one pair per group
  }
}

/** Commits a job's output, then throws if the output is a
  * `dedup_marker_crash` index's `fingerprints` table — the last table a
  * dedup rebuild writes before its shard-count marker, so the index is
  * left exactly as a rebuild that crashed before the marker leaves it.
  */
class CrashAfterFingerprintsCommitter(
    out: org.apache.hadoop.fs.Path,
    ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    super.commitJob(job)
    if (out.getName == "fingerprints" &&
        out.toString.contains("dedup_marker_crash"))
      throw new java.io.IOException("injected crash before the marker write")
  }
}
