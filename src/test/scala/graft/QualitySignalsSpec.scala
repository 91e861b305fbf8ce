package graft

import java.sql.Timestamp

/** Invariants for the statistical quality signals (q100 LM score, q101
  * PSI drift) on constructed corpora where the expected ordering is known
  * — the DuckDB oracle pins exact values on testdata; these pin direction.
  */
class QualitySignalsSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  private def eventsAt(dir: String,
      rows: Seq[(Long, Timestamp, Long, String, Double, String)]): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("DSIR scores rank target-like source docs above off-domain ones") {
    import org.apache.spark.sql.functions.col
    val docs = (
      (0 until 5).map(i => (i * 97L, "quantum physics entanglement spectrum")) ++ Seq(
        (1L, "quantum physics entanglement spectrum"),
        (2L, "mundane boring ordinary chatter"),
        (3L, "quantum chatter"))).toDF("doc_id", "text")
    val out = graft.operators.DataSelection
      .dsirScores(docs, "doc_id", "text", col("doc_id") % 97 === 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // only source docs are scored, and domain affinity orders them
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) > out(3L), s"pure target-vocab doc must rank first: $out")
    assert(out(3L) > out(2L), s"mixed doc must beat off-domain doc: $out")
  }

  test("q101 PSI is exactly zero when both periods share a distribution") {
    val dir = Scratch.dir("psi0")
    val rows = for {
      half <- Seq(5, 20) // Jan 5 → period 0, Jan 20 → period 1
      i <- 0 until 200
    } yield (half * 1000L + i, Timestamp.valueOf(f"2024-01-$half%02d 10:00:00"),
      i % 7L, "click", (i % 10) * 50.0 + 1, "{}")
    eventsAt(dir, rows)
    val out = run("q101_psi_drift", dir).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_a") == 200 && out(0).getAs[Long]("n_b") == 200)
    assert(out(0).getAs[Long]("psi_x1e6") == 0L)
  }

  test("q101 PSI alarms on a hard distribution shift") {
    val dir = Scratch.dir("psi1")
    val rows =
      (0 until 200).map(i => (i.toLong,
        Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "click", 10.0, "{}")) ++
      (0 until 200).map(i => (1000L + i,
        Timestamp.valueOf("2024-01-20 10:00:00"), 1L, "click", 480.0, "{}"))
    eventsAt(dir, rows)
    val psi = run("q101_psi_drift", dir).collect()(0).getAs[Long]("psi_x1e6")
    // classic thresholds: 0.1 investigate, 0.25 act — a full bin swap is
    // far beyond both
    assert(psi > 1000000L)
  }

  test("q100 LM score ranks fluent text above unique-bigram gibberish") {
    val dir = Scratch.dir("lm")
    val fluent = Array.fill(30)("the cat sat on the mat").mkString(" ")
    val gibberish = (0 until 180).map(i => s"zq$i xv$i").mkString(" ")
    Seq((0L, fluent, "en", "a", fluent.length.toLong),
      (1L, gibberish, "en", "a", gibberish.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = run("q100_lm_score", dir).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("logprob_x1e4") >
      out(1).getAs[Long]("logprob_x1e4"))
  }

  test("q209 Kneser-Ney matches the closed-form on a hand corpus") {
    val dir = Scratch.dir("kn")
    // corpus "a b a b": cb(a,b)=2 cb(b,a)=1 cu(a)=2 cu(b)=1,
    // n1r(a)=n1r(b)=1, n1l(a)=n1l(b)=1, T=2
    Seq((1L, "a b a b", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = run("q209_kneser_ney", dir).collect()(0)
    val pAB = (math.max(2 - 0.75, 0.0) + 0.75 * 1 * 1.0 / 2) / 2 // 0.8125
    val pBA = (math.max(1 - 0.75, 0.0) + 0.75 * 1 * 1.0 / 2) / 1 // 0.625
    val want = math.floor(
      (2 * math.log(pAB) + math.log(pBA)) / 3 * 10000 + 0.5).toLong
    assert(r.getAs[Long]("n_bigrams") == 3L)
    assert(r.getAs[Long]("kn_logprob_x1e4") == want)
  }

  test("q209 ranks fluent text above unique-bigram gibberish") {
    val dir = Scratch.dir("kn2")
    val fluent = Array.fill(30)("the cat sat on the mat").mkString(" ")
    val gibberish = (0 until 180).map(i => s"zq$i xv$i").mkString(" ")
    Seq((0L, fluent, "en", "a", fluent.length.toLong),
      (1L, gibberish, "en", "a", gibberish.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = run("q209_kneser_ney", dir).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("kn_logprob_x1e4") >
      out(1).getAs[Long]("kn_logprob_x1e4"))
  }

  test("q214 JS divergence: identical sources 0, disjoint sources ln 2") {
    val dir = Scratch.dir("js")
    Seq(
      (1L, "x y z", "en", "A", 5L), (2L, "x y z", "en", "B", 5L),
      (3L, "q r s t", "en", "C", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = run("q214_js_divergence", dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(out(("A", "B")) == 0L)                 // same distribution
    // (A,C)/(B,C) share no words: JS = ln 2 carried entirely by the
    // exclusive-mass term. The source-pair spine restores these rows
    // explicitly (n_shared_words = 0, js = ⌊ln 2·10⁴⌉) — an ADVICE.md
    // round-5 fix: absence used to BE the signal, which consumers
    // misread as "not computed"
    assert(out(("A", "C")) == 6931L && out(("B", "C")) == 6931L)
    // a partially-overlapping pair lands strictly inside (0, ln 2)
    val dir2 = Scratch.dir("js2")
    Seq((1L, "x y", "en", "A", 3L), (2L, "x q", "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val js = run("q214_js_divergence", dir2).collect()(0).getLong(3)
    assert(js > 0L && js < 6931L)
  }

  test("q213 assortativity: a bipartite star is exactly -1") {
    val dir = Scratch.dir("assort")
    Seq((1L, 11L), (2L, 12L), (3L, 13L), (4L, 14L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = run("q213_assortativity", dir).collect()(0)
    // hub degree 4 vs leaf degree 1: endpoint degrees are perfectly
    // anti-correlated on the symmetrized edge list
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  test("hashed linear classifier: integer features match the token hash") {
    import graft.operators.{DedupOps, QualityClassifier}
    val df = Seq((1L, "Alpha beta ALPHA"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rows = QualityClassifier.score(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: tokens [alpha, beta, alpha] — w_sum from the shared md5 hash
    val w = (t: String) =>
      java.lang.Long.remainderUnsigned(DedupOps.md5Low64Token(t), 2001L)
    assert(rows(0).getAs[Long]("n_tokens") == 3L)
    assert(rows(0).getAs[Long]("w_sum") == 2 * w("alpha") + w("beta"))
    val score = rows(0).getAs[Double]("score")
    assert(score > 0.0 && score < 1.0)
    assert(rows(0).getAs[Int]("keep") == (if (score >= 0.5) 1 else 0))
    // empty and null text: zero tokens, neutral 0.5 score, kept
    Seq(1, 2).foreach { i =>
      assert(rows(i).getAs[Long]("n_tokens") == 0L)
      assert(rows(i).getAs[Double]("score") == 0.5)
      assert(rows(i).getAs[Int]("keep") == 1)
    }
  }

  private def aucOf(rows: Seq[(Long, Double, Int)]): (Double, Long) = {
    import graft.operators.QualityClassifier
    val scored = rows.map { case (id, s, _) => (id, s) }.toDF("doc_id", "score")
    val labels = rows.map { case (id, _, l) => (id, l) }.toDF("doc_id", "label")
    val r = QualityClassifier.auc(scored, "doc_id", labels, "label").head()
    (r.getAs[Double]("auc"), r.getAs[Long]("u2"))
  }

  /** O(n²) pairwise reference: fraction of (pos, neg) pairs ranked
    * correctly, ties half — the definition the rank-sum must equal.
    */
  private def pairwiseAuc(rows: Seq[(Long, Double, Int)]): Double = {
    val pos = rows.filter(_._3 == 1).map(_._2)
    val neg = rows.filter(_._3 == 0).map(_._2)
    val hits = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    hits / (pos.size * neg.size)
  }

  test("AUC: rank-sum equals the O(n²) pairwise definition, ties included") {
    val rows = (1L to 60L).map { i =>
      // quantized scores with deliberate cross-class ties
      (i, (i * 7 % 10) / 10.0, if ((i * 3 % 7) < 3) 1 else 0)
    }
    val (auc, _) = aucOf(rows)
    assert(math.abs(auc - pairwiseAuc(rows)) < 5e-7) // 6dp rounding only
  }

  test("AUC: perfect separation is 1, inverted is 0, all-tied is 0.5") {
    val sep = Seq((1L, 0.9, 1), (2L, 0.8, 1), (3L, 0.2, 0), (4L, 0.1, 0))
    assert(aucOf(sep)._1 == 1.0)
    val inv = sep.map { case (id, s, l) => (id, s, 1 - l) }
    assert(aucOf(inv)._1 == 0.0)
    val tied = Seq((1L, 0.5, 1), (2L, 0.5, 0), (3L, 0.5, 1), (4L, 0.5, 0))
    assert(aucOf(tied)._1 == 0.5)
  }

  test("AUC: single-class input reports 0 without dividing by zero") {
    assert(aucOf(Seq((1L, 0.4, 1), (2L, 0.6, 1)))._1 == 0.0)
  }

  private def apOf(rows: Seq[(Long, Double, Int)]): Double = {
    import graft.operators.QualityClassifier
    val scored = rows.map { case (id, s, _) => (id, s) }.toDF("doc_id", "score")
    val labels = rows.map { case (id, _, l) => (id, l) }.toDF("doc_id", "label")
    QualityClassifier.averagePrecision(scored, "doc_id", labels, "label")
      .head().getAs[Double]("ap")
  }

  /** Step-form AP over quantized score levels, computed sequentially. */
  private def apReference(rows: Seq[(Long, Double, Int)]): Double = {
    val byLevel = rows
      .groupBy(r => math.floor(r._2 * 1000000.0 + 0.5).toLong)
      .toSeq.sortBy(-_._1)
      .map { case (_, g) => (g.count(_._3 == 1).toLong, g.size.toLong) }
    var cumP = 0L; var cumAll = 0L; var s = 0.0
    byLevel.foreach { case (np, n) =>
      cumP += np; cumAll += n
      s += np * (cumP.toDouble / cumAll)
    }
    if (cumP == 0L) 0.0 else s / cumP
  }

  test("average precision matches a sequential level replay, ties included") {
    val rows = (1L to 80L).map(i =>
      (i, (i * 7 % 10) / 10.0, if ((i * 3 % 7) < 3) 1 else 0))
    assert(math.abs(apOf(rows) - apReference(rows)) < 5e-7)
    // hand case: +0.9, -0.8, +0.7 -> AP = (1 + 2/3) / 2
    assert(apOf(Seq((1L, 0.9, 1), (2L, 0.8, 0), (3L, 0.7, 1))) == 0.833333)
    val sep = Seq((1L, 0.9, 1), (2L, 0.8, 1), (3L, 0.2, 0), (4L, 0.1, 0))
    assert(apOf(sep) == 1.0)
    assert(apOf(Seq((1L, 0.4, 0), (2L, 0.6, 0))) == 0.0) // no positives
  }

  test("threshold sweep: kept and recall fall monotonically, positives constant") {
    val rows = run("q193_threshold_sweep", sf).collect()
    assert(rows.length == 9)
    val kept = rows.map(_.getAs[Long]("n_kept"))
    val recall = rows.map(_.getAs[Long]("recall_x1e4"))
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b })
    assert(recall.zip(recall.tail).forall { case (a, b) => a >= b })
    // tp + fn is the positive count — threshold-invariant
    assert(rows.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fn"))
      .distinct.length == 1)
  }

  test("quality-weighted sample matches a driver-side A-ES recompute") {
    val out = run("q207_quality_weighted_sample", sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // independent recompute: score from the operator, key math in plain Scala
    val scored = graft.operators.QualityClassifier
      .score(Tables(spark, sf, "documents"), "doc_id", "text",
        carry = Seq("source"))
      .select("doc_id", "source", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = scored.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      rows.toSeq.map { case (id, _, sc) =>
        val u = java.lang.Long.parseLong(md5hex(id.toString).take(6), 16)
        (id, math.log((u + 0.5) / 16777216.0) / sc)
      }.sortBy { case (id, k) => (-k, id) }.take(5).zipWithIndex
        .map { case ((id, _), i) => (src, i + 1L) -> id }
    }.toMap
    assert(expected.size == out.size)
    expected.foreach { case (key, id) => assert(out(key) == id, key) }
  }

  test("greedy coverage follows the hand-traced submodular walk and " +
    "stops when saturated") {
    import spark.implicits._
    // unigram cover sets: d1 {a b c d}, d2 {c d e}, d3 {e f}
    val docs = Seq((1L, "a b c d"), (2L, "c d e"), (3L, "e f"))
      .toDF("doc_id", "text")
    val got = graft.operators.DataSelection
      .greedyCoverage(docs, "doc_id", "text", n = 1, k = 3)
      .orderBy("sel_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // d1 gains 4; then d3 gains {e f}=2 beats d2's {e}=1; then d2 gains
    // 0 uncovered grams -> saturated, only 2 rows despite k=3
    assert(got.toSeq === Seq((1L, 1L, 4L, 4L), (2L, 3L, 2L, 6L)))
  }

  test("greedy coverage gain ties break to the lowest doc id") {
    import spark.implicits._
    val docs = Seq((5L, "x y"), (2L, "p q"), (9L, "p q x y"))
      .toDF("doc_id", "text")
    val got = graft.operators.DataSelection
      .greedyCoverage(docs, "doc_id", "text", n = 1, k = 2)
      .orderBy("sel_rank").collect()
    assert(got(0).getLong(1) === 9L) // covers all 4
    // 2 and 5 both gain 0 -> saturated after one pick
    assert(got.length === 1)
  }
}
