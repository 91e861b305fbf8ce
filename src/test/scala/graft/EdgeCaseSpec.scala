package graft

import graft.functions.{TextFns, VectorFns}
import graft.operators.{DedupOps, Enrichment, PrefixSum, Relational}
import org.apache.spark.sql.functions._

/** Edge-case behavior of the function library on inputs the synthetic
  * testdata never produces: nulls, empties, mismatched dimensions.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("text functions on null/empty strings") {
    val df = Seq(Some(""), None, Some("   "), Some("the the the"))
      .toDF("t")
    val out = df.select(
      TextFns.tokenCount(col("t")).as("toks"),
      TextFns.stopwordCount(col("t")).as("stops"),
      TextFns.languageId(col("t")).as("lang"),
      TextFns.qualityScore(col("t")).as("q")).collect()
    // empty string: zero counts, unknown language, zero-ish score
    assert(out(0).getLong(0) == 0 && out(0).getString(2) == "unknown")
    // null input propagates null (never throws)
    assert(out(1).isNullAt(0))
    // whitespace-only: no tokens
    assert(out(2).getLong(0) == 0)
    // all-stopword text: stopword count == token count, lang = en
    assert(out(3).getLong(0) == 3 && out(3).getLong(1) == 3)
    assert(out(3).getString(2) == "en")
  }

  test("dot product on empty and length-mismatched arrays") {
    val df = Seq(
      (Array.empty[Double], Array.empty[Double]),
      (Array(1.0, 2.0, 3.0), Array(1.0, 1.0)), // mismatched: min-length semantics
      (Array(2.0), Array(3.0)))
      .toDF("a", "b")
    val out = df.select(VectorFns.dot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) == 0.0)
    assert(out(1).getDouble(0) == 3.0) // 1*1 + 2*1, third element ignored
    assert(out(2).getDouble(0) == 6.0)
    // null array → null result, not a crash
    val withNull = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
      .select(VectorFns.dot(col("a"), col("b")).as("d")).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("shingles of degenerate documents") {
    val df = Seq((1L, ""), (2L, "one two"), (3L, "a b c d")).toDF("id", "t")
    val sh = DedupOps.shingles(df, "id", "t", 3).collect()
    // doc 1 empty, doc 2 below n → no shingles; doc 3 → 2 shingles
    assert(sh.forall(_.getLong(0) == 3L))
    assert(sh.map(_.getString(1)).toSet == Set("a b c", "b c d"))
  }

  test("distributed prefix sum equals the sequential scan") {
    // sparse, shuffled, negative-value keys across many buckets — the
    // bucket boundaries must not perturb the running sum
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((0 until 5000).toList)
      .map(i => (i * 17L + 3, (i % 13).toLong - 3))
    val df = rows.toDF("k", "v").repartition(16)
    val got = PrefixSum.runningSum(df, "k", "v", "cum", nBuckets = 8)
      .select("k", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    rows.sortBy(_._1).foreach { case (k, v) =>
      acc += v
      assert(got(k) == acc, s"k=$k")
    }
  }

  test("prefix sum on empty and single-row inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(PrefixSum.runningSum(empty, "k", "v", "cum").count() == 0)
    val one = Seq((5L, 42L)).toDF("k", "v")
    val out = PrefixSum.runningSum(one, "k", "v", "cum").collect()
    assert(out.length == 1 && out(0).getAs[Long]("cum") == 42L)
  }

  test("SQ8 handles constant dimensions and stays exact on them") {
    // a constant dimension has zero range: its scale guards to 1.0 and
    // every code is 0 — search must still rank by the varying dimensions
    val df = Seq(
      (0L, Array(1.0f, 5.0f, 0.1f)),
      (1L, Array(2.0f, 5.0f, 0.2f)),
      (2L, Array(9.0f, 5.0f, 0.9f))).toDF("vec_id", "embedding")
    val model = graft.operators.SqIndex.train(df, "embedding")
    assert(model.scales(1) == 1.0)
    val got = graft.operators.SqIndex.searchWithRerank(
      df, "vec_id", "embedding", model,
      Array(1.1, 5.0, 0.1), shortlist = 3, topK = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L), got.mkString(","))
  }

  test("plot sink renders empty and single-row aggregates without crashing") {
    val empty = graft.sinks.PlotSink.barChartPng(Seq.empty, "no data")
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(empty)) != null)
    val one = graft.sinks.PlotSink.pieChartPng(Seq(("only", 1.0)), "one")
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(one)) != null)
  }

  test("dedupKeepFirst on all-duplicate and single-row inputs") {
    val df = Seq(("k", 2), ("k", 1), ("k", 3)).toDF("key", "v")
    val out = Relational.dedupKeepFirst(df, Seq("key"), Seq(col("v"))).collect()
    assert(out.length == 1 && out(0).getInt(1) == 1)
    val single = Relational.dedupKeepFirst(
      Seq(("x", 9)).toDF("key", "v"), Seq("key"), Seq(col("v")))
    assert(single.count() == 1)
  }

  test("importance score clamps: zero value, ancient and future years") {
    val df = Seq((0.0, 2026), (1e12, 2026), (100.0, 1800), (100.0, 2100))
      .toDF("v", "y")
    val out = df.select(
      Enrichment.importanceScore(col("v"), col("y"), 2026).as("imp")).collect()
    assert(out(0).getLong(0) == 0L) // log10(1) = 0
    assert(out(1).getLong(0) == 1000000L) // clamped at 100 * 1e4
    assert(out(2).getLong(0) >= 0L) // recency floored at 0.5, never negative
    // future year: recency capped path still yields a finite score
    assert(out(3).getLong(0) <= 1000000L)
  }

  test("closedWorldFilter with an empty universe empties every array") {
    val df = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String])).toDF("id", "arr")
    val uni = Seq.empty[String].toDF("u")
    val out = Relational.closedWorldFilter(df, "id", "arr", uni, "u")
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[String]]("arr")).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
  }

  test("repetitionStats on null/empty/short/repetitive text") {
    val df = Seq((1L, null: String), (2L, ""), (3L, "one"),
      (4L, "spam spam spam spam")).toDF("id", "t")
    val out = DedupOps.repetitionStats(df, "id", "t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((0L, 0L, 0L, 0L))) // null -> zero counts, no throw
    assert(out(2L) == ((0L, 0L, 0L, 0L)))
    assert(out(3L) == ((1L, 0L, 0L, 0L))) // one token: no bigrams/trigrams
    // "spam spam spam spam": 3 identical bigrams, 2 identical trigrams
    assert(out(4L) == ((4L, 3L, 2L, 1L)))
  }

  test("mergeUpsert with empty changeset and empty deletes keeps the snapshot") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val empty = snap.limit(0)
    val out = Relational.mergeUpsert(snap, empty, "id", empty.select("id"))
    assert(out.count() == 2)
    assert(out.filter(col("action") === "keep").count() == 2)
  }

  test("mergeUpsert lets a source row clear a column to null") {
    val snap = Seq((1L, Some("open")), (2L, Some("closed"))).toDF("id", "v")
    val change = Seq((1L, None: Option[String])).toDF("id", "v")
    val out = Relational.mergeUpsert(snap, change, "id", snap.limit(0).select("id"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.getString(2))).toMap
    assert(out(1L) == ((true, "update")), out.toString) // null overrode 'open'
    assert(out(2L) == ((false, "keep")))
  }

  test("pageRank on a single edge converges to the closed-form values") {
    import graft.operators.GraphOps
    val edges = Seq((1L, 2L)).toDF("s", "d")
    val r = GraphOps.pageRank(edges, "s", "d", iters = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.15) < 1e-9) // no inbound: floor
    assert(math.abs(r(2L) - (0.15 + 0.85 * 0.15)) < 1e-9) // one inbound from a floored node
  }

  test("binnedIntervalJoin drops null probe values (no-match semantics)") {
    val probe = Seq((1L, Some(5.0)), (2L, None)).toDF("id", "v")
    val bands = Seq((10L, 0.0, 10.0)).toDF("b", "lo", "hi")
    val out = Relational.binnedIntervalJoin(probe, "v", bands, "lo", "hi", 5.0)
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("CEP batch twin: no cross-user, no out-of-window, first-B binding") {
    import graft.streaming.StreamingOps
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      (1L, ts(0), "a"),   // matches first b at +5 (not the later +8)
      (1L, ts(5), "b"), (1L, ts(8), "b"),
      (1L, ts(100), "a"), // no b within 10s -> no match
      (2L, ts(6), "b"),   // other user's b must not bind user 1's a
      (3L, ts(0), "b"), (3L, ts(1), "a") // b BEFORE a -> no match
    ).toDF("user_id", "ts", "event_type")
    val m = StreamingOps.patternMatchesBatch(ev, "a", "b", withinSeconds = 10)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    assert(m.toSeq == Seq((1L, ts(0), ts(5))))
  }

  test("hardNegatives returns nothing when all labels agree") {
    import graft.operators.Similarity
    val vecs = Seq((0L, Array(1.0f, 0.0f), 1), (1L, Array(0.9f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.hardNegatives(vecs, vecs, "vec_id", "embedding",
      "label", 3).count() == 0)
  }

  test("triplet mining on degenerate label layouts") {
    import graft.operators.PortableAnn
    // all labels agree: no negatives, positives still mined
    val same = Seq((0L, Array(0L), 1), (1L, Array(5L), 1), (2L, Array(9L), 1))
      .toDF("vec_id", "qv", "label")
    val a = PortableAnn.hardExamples(same.filter(col("vec_id") === 0L),
      same, "vec_id", "qv", "label", negK = 3).collect()
    assert(a.forall(_.getAs[String]("kind") == "pos") && a.length == 1)
    assert(a.head.getAs[Long]("vec_id") == 2L) // farthest same-label
    // anchor's label unique in the corpus: negatives only, no positive
    val uniq = Seq((0L, Array(0L), 7), (1L, Array(5L), 1), (2L, Array(9L), 2))
      .toDF("vec_id", "qv", "label")
    val b = PortableAnn.hardExamples(uniq.filter(col("vec_id") === 0L),
      uniq, "vec_id", "qv", "label", negK = 3).collect()
    assert(b.forall(_.getAs[String]("kind") == "neg") && b.length == 2)
  }

  test("triangle count of an empty edge set is (0, 0)") {
    import graft.operators.GraphOps
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val r = GraphOps.triangleCount(edges, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_edges") == 0 && r.getAs[Long]("n_triangles") == 0)
  }

  test("bm25 on an empty corpus returns no rows (scan and indexed paths)") {
    import graft.operators.Bm25
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bm25.topK(empty, "doc_id", "text",
      Seq("q" -> "anything here"), k = 5).count() == 0)
    val dir = Scratch.dir("bm25_empty")
    Bm25.writeIndex(empty, "doc_id", "text", dir)
    assert(Bm25.topKIndexed(spark, dir, "doc_id",
      Seq("q" -> "anything here"), k = 5).count() == 0)
    // the sharded dedup index mirrors dedupAgainst's empty-corpus row:
    // nothing flagged, one row per new doc
    val dDir = Scratch.dir("dedup_empty")
    graft.operators.DedupOps.writeDedupIndex(empty, "doc_id", "text", 3, dDir)
    val newDf = Seq((1L, "some new document text here")).toDF("doc_id", "text")
    val r = graft.operators.DedupOps.dedupAgainstIndex(spark, dDir, newDf,
      "doc_id", "text", 3, 0.5).collect()
    assert(r.length == 1 && r.head.getLong(1) == 0L && r.head.getLong(2) == 0L)
  }

  test("appending onto an empty-base dedup index replaces the readable-empty layout") {
    import graft.operators.DedupOps
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val dir = Scratch.dir("dedup_empty_base")
    DedupOps.writeDedupIndex(empty, "doc_id", "text", 3, dir)
    // the empty base wrote UNPARTITIONED (readable-empty); the append must
    // not leave shard=… dirs next to that bare file (unreadable mix) —
    // it replaces the layout with a fresh partitioned build
    val batch = Seq((1L, "some new document text here now")).toDF("doc_id", "text")
    DedupOps.appendToDedupIndex(batch, "doc_id", "text", 3, dir)
    val dup = Seq((2L, "some new document text here now")).toDF("doc_id", "text")
    val r = DedupOps.dedupAgainstIndex(spark, dir, dup,
      "doc_id", "text", 3, 0.5).collect()
    assert(r.length == 1 && r.head.getLong(2) == 1L) // flagged vs appended doc
    // a tokenless follow-up batch appends nothing and keeps the index readable
    DedupOps.appendToDedupIndex(
      Seq((3L, "xy")).toDF("doc_id", "text"), "doc_id", "text", 3, dir)
    assert(DedupOps.dedupAgainstIndex(spark, dir, dup,
      "doc_id", "text", 3, 0.5).count() == 1)
  }

  test("bm25 handles null docs and a query with no corpus hits") {
    import graft.operators.Bm25
    val docs = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Bm25.topK(docs, "doc_id", "text",
      Seq("q1" -> "alpha", "q2" -> "nomatchword"), k = 5).collect()
    // null doc scores nowhere; q2 matches nothing and yields zero rows
    assert(out.map(r => (r.getString(0), r.getLong(2))).toSeq == Seq(("q1", 1L)))
  }

  test("duplicate passages: null text and all-unique corpus yield zero dups") {
    val docs = Seq(
      (1L, "one two three four five"),
      (2L, null.asInstanceOf[String]),
      (3L, "six seven eight nine ten")).toDF("doc_id", "text")
    val out = DedupOps.duplicatePassages(docs, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 0L), (2L, 0L, 0L), (3L, 1L, 0L)))
  }

  test("shard export with one shard is a pure md5 global order") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val out = Relational.shardExport(docs, "doc_id", 1)
      .orderBy("position").collect()
    assert(out.map(_.getLong(1)).forall(_ == 0L))
    val keys = out.map(_.getString(3))
    assert(keys.sorted.toSeq == keys.toSeq, "positions must follow hash order")
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("bpe encode with an empty merge table is character segmentation") {
    import graft.operators.Bpe
    val docs = Seq((1L, "ab c")).toDF("doc_id", "text")
    val out = Bpe.encode(docs, "doc_id", "text", Bpe.Model(Nil)).collect()(0)
    // "ab" -> a b </w> (3) + "c" -> c </w> (2)
    assert(out.getLong(1) == 5L)
  }

  test("dedupAgainst with an empty corpus flags nothing") {
    val newDf = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = DedupOps.dedupAgainst(newDf, empty, "doc_id", "text", 3, 0.5)
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == ((0L, 0L, 0.0)))
  }

  test("round-5 selection family on empty and degenerate inputs") {
    import graft.operators.{DataSelection, GraphOps, QualityClassifier}
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DataSelection.packSequences(noDocs, "doc_id", "text", 96L, 8)
      .count() == 0)
    assert(DataSelection.packingStats(noDocs, "doc_id", "text", 96L, 8)
      .count() == 0)
    assert(DataSelection.concatPackStats(noDocs, "doc_id", "text", 96L, 8)
      .count() == 0)
    val noSrc = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(DataSelection.stratifiedInterleave(noSrc, "doc_id", "source", 8)
      .count() == 0)
    // empty scored input: top-fraction selects nothing, AUC reports the
    // single degenerate row without dividing by zero
    val noScores = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val noLabels = Seq.empty[(Long, Int)].toDF("doc_id", "label")
    assert(DataSelection.topFractionByScore(noScores, "doc_id", 1, 4)
      .count() == 0)
    val aucRow = QualityClassifier.auc(noScores, "doc_id", noLabels, "label")
      .head()
    assert(aucRow.getAs[Double]("auc") == 0.0)
    // empty seed set: BFS returns no labels, terminates immediately
    val edges = Seq((1L, 2L)).toDF("a", "b")
    assert(GraphOps.minHopFrom(Seq.empty[Long].toDF("id"), edges, "a", "b", 3)
      .count() == 0)
    // single doc: one bin, zero padding iff it exactly fills the budget
    val one = Seq((7L, Seq.fill(96)("w").mkString(" "))).toDF("doc_id", "text")
    val st = DataSelection.packingStats(one, "doc_id", "text", 96L, 1).head()
    assert(st.getAs[Long]("n_bins") == 1L
      && st.getAs[Long]("padding_tokens") == 0L
      && st.getAs[Long]("fill_x1e4") == 10000L)
  }

  test("semantic dedup threshold 1.0 only drops exact-direction duplicates") {
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), // same direction
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding", 1, 1, 1.0)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1L), (1L, 0L), (2L, 1L)))
  }

  test("selection ops on empty and single-element inputs") {
    import graft.operators.DataSelection
    val emptyVecs = Seq.empty[(Long, Array[Long])].toDF("vec_id", "qv")
    assert(DataSelection.kcenterCoreset(emptyVecs, "vec_id", "qv", 3)
      .count() === 0L)
    val one = Seq((7L, Array(5L, 5L))).toDF("vec_id", "qv")
    val kc = DataSelection.kcenterCoreset(one, "vec_id", "qv", 3).collect()
    // a single point: only the seed can ever be picked, radius 0
    assert(kc.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq === Seq((1L, 7L, 0L, 0L)))
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DataSelection.greedyCoverage(emptyDocs, "doc_id", "text", 1, 3)
      .count() === 0L)
    val nullDoc = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(DataSelection.greedyCoverage(nullDoc, "doc_id", "text", 1, 3)
      .count() === 0L)
  }
}
