package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (reference O2 — cosine top-k
  * against the full store — plus the ANN scale path the reference lacks).
  *
  * Scale design:
  *  - `topK`: one narrow scan computing sim, then TakeOrderedAndProject
  *    (per-partition top-k + driver merge of k·partitions rows — no global
  *    sort, no shuffle of the corpus).
  *  - `knnJoin`: broadcast the (small) query side against the corpus scan;
  *    per-query top-k via window over a (queryId)-partitioned shuffle of
  *    only (queryId, vecId, sim) triples — never the vectors themselves.
  *  - `nearDupPairs`: exact all-pairs within the corpus — O(n²/2); correct
  *    baseline for the LSH variant. At 100 TB use `lshNearDupCandidates`
  *    (random-hyperplane bucketing) so only per-bucket pairs are generated.
  */
object Similarity {

  /** Normalize corpus once: adds `__norm`. */
  private def withNorm(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("__norm", VectorFns.norm(col(embCol)))

  /** Top-k most-similar rows to one query vector (given as a literal array). */
  def topK(corpus: DataFrame, idCol: String, embCol: String,
           query: Array[Double], k: Int): DataFrame = {
    val q = lit(query)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    withNorm(corpus, embCol)
      .select(col(idCol),
        (VectorFns.dot(col(embCol), q) / (col("__norm") * lit(qNorm))).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** k-NN join: for every row of `queries`, its top-k neighbors from
    * `corpus` (self-matches excluded). Query side is broadcast.
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame,
              idCol: String, embCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("__qemb"),
        col("__norm").as("__qnorm"))
    val c = withNorm(corpus, embCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    c.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (VectorFns.dot(col(embCol), col("__qemb"))
          / (col("__norm") * col("__qnorm"))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): how much of full-dimension retrieval
    * survives truncating embeddings to their first `dims` components —
    * per query: the size of the top-k overlap between full-dim and
    * truncated-dim cosine retrieval, and both top-1 ids. The evidence
    * table for serving truncated vectors (memory/bandwidth ÷ d/dims) at a
    * known recall cost.
    *
    * Scale shape: each ranking is an independent broadcast-query pass
    * with a per-query top-k heap (rank-filtered window —
    * WindowGroupLimit pushdown applies to each, which an OR-of-ranks
    * single-pass formulation would forfeit); the overlap join touches
    * only the two k-sized lists per query. At corpus scale the candidate
    * pass is the same scan ANN shortlisting replaces.
    */
  def truncationAudit(queries: DataFrame, corpus: DataFrame, idCol: String,
                      embCol: String, dims: Int, k: Int): DataFrame = {
    def ranked(project: Column => Column, tag: String): DataFrame = {
      val q = queries.select(col(idCol).as("query_id"),
        project(col(embCol)).as("__qemb"))
        .withColumn("__qnorm", VectorFns.norm(col("__qemb")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col(idCol))
      corpus.select(col(idCol), project(col(embCol)).as("__cemb"))
        .withColumn("__norm", VectorFns.norm(col("__cemb")))
        .crossJoin(broadcast(q))
        .filter(col(idCol) =!= col("query_id"))
        .select(col("query_id"), col(idCol),
          (VectorFns.dot(col("__cemb"), col("__qemb"))
            / (col("__norm") * col("__qnorm"))).as("sim"))
        .withColumn(s"r_$tag", row_number().over(w).cast("long"))
        .filter(col(s"r_$tag") <= k)
        .select(col("query_id"), col(idCol), col(s"r_$tag"))
    }
    val f = ranked(identity, "full")
    val t = ranked(e => slice(e, 1, dims), "trunc")
    f.join(t, Seq("query_id", idCol), "full_outer")
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("r_full").isNotNull && col("r_trunc").isNotNull, 1L)
          .otherwise(0L)).cast("long").as("overlap"),
        max(when(col("r_full") === 1L, col(idCol))).as("top1_full"),
        max(when(col("r_trunc") === 1L, col(idCol))).as("top1_trunc"))
      .withColumn("overlap_frac",
        round(col("overlap").cast("double") / lit(k.toDouble), 6))
  }

  /** Hard-negative mining (contrastive-training data prep): for each query
    * row, its top-k most-similar corpus rows with a DIFFERENT label — the
    * negatives that sit closest to the decision boundary. Same shape as
    * [[knnJoin]] (query side broadcast, per-query top-k heap) with the
    * label-mismatch predicate inside the codegen'd filter, so excluded
    * same-label rows never reach the window.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    idCol: String, embCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val q = withNorm(queries, embCol)
      .select(col(idCol).as("query_id"), col(labelCol).as("__qlabel"),
        col(embCol).as("__qemb"), col("__norm").as("__qnorm"))
    val c = withNorm(corpus, embCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol))
    c.crossJoin(broadcast(q))
      .filter(col(labelCol) =!= col("__qlabel"))
      .select(col("query_id"), col(idCol), col(labelCol),
        (VectorFns.dot(col(embCol), col("__qemb"))
          / (col("__norm") * col("__qnorm"))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Dense retrieval ranking: (query_id, doc_id, rank 1..k) per query —
    * [[knnJoin]] WITHOUT the self-match exclusion, so the candidate set is
    * symmetric with a lexical ranker's when the two are fused ([[rrfFuse]]).
    * `queries` must carry (query_id, embCol); the query side broadcasts.
    */
  def rankJoin(queries: DataFrame, corpus: DataFrame,
               idCol: String, embCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, embCol)
      .select(col("query_id"), col(embCol).as("__qemb"),
        col("__norm").as("__qnorm"))
    val c = withNorm(corpus, embCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id"))
    c.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol).as("doc_id"),
        (VectorFns.dot(col(embCol), col("__qemb"))
          / (col("__norm") * col("__qnorm"))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of two
    * ranked lists (query_id, doc_id, rank): rrf = Σ 1/(rrfK + rank) over
    * the systems that ranked the doc, re-ranked to top-k per query.
    * Rank lists are (queries·k)-sized, so the full-outer join and the
    * re-rank window touch candidate rows only — never a corpus.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int,
              rrfK: Int = 60): DataFrame = {
    val ar = a.select(col("query_id"), col("doc_id"),
      col("rank").as("__rank_a"))
    val br = b.select(col("query_id"), col("doc_id"),
      col("rank").as("__rank_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    ar.join(br, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("__rank_a")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK) + col("__rank_b")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
  }

  /** Exact embedding near-duplicate pairs: all (a<b) with cosine ≥ threshold.
    * O(n²/2) — the correctness baseline the LSH variant is judged against.
    */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String,
                   threshold: Double): DataFrame = {
    val a = withNorm(df, embCol)
      .select(col(idCol).as("id_a"), col(embCol).as("__ea"), col("__norm").as("__na"))
    val b = withNorm(df, embCol)
      .select(col(idCol).as("id_b"), col(embCol).as("__eb"), col("__norm").as("__nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorFns.dot(col("__ea"), col("__eb")) / (col("__na") * col("__nb"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with the deterministic
    * [[IvfIndex]] k-means quantizer, then drop every vector that has a
    * lower-id neighbor IN THE SAME CLUSTER with cosine ≥ threshold. The
    * all-pairs search collapses to per-cluster pairs — O(Σ|c|²) instead of
    * O(n²), and each cluster's pair generation is local to its shuffle
    * partition, which is what makes semantic dedup feasible at corpus
    * scale. With nClusters = 1 the cluster restriction vanishes and the
    * drop set is exactly the all-pairs rule — that twin is SQL-oracled
    * (q137); the clustered path can only UNDER-drop (it misses cross-cluster
    * pairs), a containment pinned in SimilaritySpec.
    *
    * Output: (idCol, n_close_lower, kept) — kept = 1 iff no lower-id
    * same-cluster neighbor clears the threshold.
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
                    nClusters: Int, iters: Int, threshold: Double): DataFrame = {
    val model = IvfIndex.train(df, idCol, embCol, nClusters, iters)
    val assigned = withNorm(IvfIndex.assign(df, embCol, model), embCol)
    val a = assigned.select(col("cell"), col(idCol).as("id_a"),
      col(embCol).as("__ea"), col("__norm").as("__na"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"),
      col(embCol).as("__eb"), col("__norm").as("__nb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter((VectorFns.dot(col("__ea"), col("__eb"))
        / (col("__na") * col("__nb"))) >= threshold)
      .groupBy(col("id_b").as(idCol))
      .agg(count(lit(1)).as("n_close_lower"))
    df.select(col(idCol))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_close_lower"), lit(0L)).as("n_close_lower"),
        when(col("n_close_lower").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /** Deterministic random hyperplanes (fixed seed — no runtime RNG). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-random-projection LSH signature: bit i = (v · plane_i) >= 0. */
  def lshSignature(embCol: String, planes: Array[Array[Double]]) = {
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorFns.dot(col(embCol), lit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** ANN near-dup candidates via banded sign-LSH: rows sharing any band of
    * the signature land in one bucket; pairs are generated per bucket and
    * then verified with the exact cosine. Shuffle volume is O(n·bands), and
    * pair generation is local to each bucket — the 100 TB path.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                      threshold: Double, nPlanes: Int = 16, bands: Int = 4,
                      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bits = nPlanes / bands
    val sig = withNorm(df, embCol)
      .withColumn("__sig", lshSignature(embCol, planes))
    val banded = sig.select(
      col(idCol), col(embCol), col("__norm"), col("__sig"),
      explode(array((0 until bands).map { bIdx =>
        struct(lit(bIdx).as("band"),
          col("__sig").bitwiseAND(lit(((1L << bits) - 1) << (bIdx * bits))).as("key"))
      }: _*)).as("b"))
      .select(col(idCol), col(embCol), col("__norm"),
        col("b.band").as("band"), col("b.key").as("key"))
    val l = banded.select(col("band"), col("key"), col(idCol).as("id_a"),
      col(embCol).as("__ea"), col("__norm").as("__na"))
    val r = banded.select(col("band"), col("key"), col(idCol).as("id_b"),
      col(embCol).as("__eb"), col("__norm").as("__nb"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorFns.dot(col("__ea"), col("__eb")) / (col("__na") * col("__nb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Merge-join dot product of two term-sorted (term, weight) vectors —
    * deterministic O(|a|+|b|) per pair, no exploded pair×term rows.
    */
  private val sparseDot = udf {
    (a: Seq[org.apache.spark.sql.Row], b: Seq[org.apache.spark.sql.Row]) =>
      var i = 0; var j = 0; var dot = 0.0
      while (i < a.length && j < b.length) {
        val c = a(i).getString(0).compareTo(b(j).getString(0))
        if (c == 0) { dot += a(i).getDouble(1) * b(j).getDouble(1); i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      dot
  }

  /** Vocabulary size at or below which the dense brute-force path runs.
    * Above it, natural (Zipfian) vocabularies give the AllPairs prefix
    * index its pruning power; below it the space is effectively dense
    * and low-dimensional, where no inverted index can prune.
    */
  private val DenseVocabMax = 512L
  /** Cap on nDocs·vocab for the dense path: the densified corpus is
    * broadcast to every task (~8 bytes/cell), so 5e7 cells ≈ 400 MB —
    * comfortably under executor memory on any real cluster.
    */
  private val DenseCellsMax = 50000000L

  /** Exact sparse TF-IDF cosine pair join over a TEXT column — the
    * lexical-vector complement of the dense-embedding [[nearDupPairs]]
    * and the set-Jaccard family: pairs whose tf·ln(N/df) vectors clear
    * `threshold` cosine. Tokens are the P9 word tokenizer (`[a-z]{3,}`).
    * Corpus-saturating terms (df = N) carry ln(N/df) = 0 — they cannot
    * move any dot product or norm — and are dropped outright.
    *
    * Two exact regimes, switched on the MEASURED vocabulary:
    *
    * - **Large vocab** (natural text): the AllPairs prefix-index scheme
    *   (Bayardo, Ma & Srikant, WWW'07 §3). A naive term-keyed self-join
    *   costs Σ|postings|² and a single stopword-grade term makes that
    *   corpus-quadratic. Instead, each UNIT-NORMALIZED vector scans its
    *   terms in a fixed global order (df-descending, so the hottest
    *   terms come first) accumulating b = Σ ŵ_t·maxŵ_t, and only the
    *   SUFFIX from the first term where b ≥ τ is indexed. If a pair
    *   shares no term between one side's full vector and the other's
    *   indexed suffix, every shared term sits in the unindexed prefix,
    *   so cos = Σ ŵ_x·ŵ_y ≤ Σ_prefix(y) maxŵ·ŵ_y < τ — candidates are
    *   provably complete, and a stopword's postings land almost
    *   entirely in unindexed prefixes. df=1 terms are excluded from the
    *   scan and the index: a shared term has df ≥ 2 by definition, and
    *   the prefix bound stays valid over the df≥2 subset. The 1e-9
    *   slack on the τ comparison only ever indexes MORE. Candidates are
    *   verified with an exact merge-join dot over each doc's packed
    *   term vector — two pair-sized joins mirroring the oracle's
    *   arithmetic.
    *
    * - **Tiny vocab** (templated/synthetic corpora, ≤ [[DenseVocabMax]]
    *   terms): the vectors live in a |vocab|-dimensional DENSE space
    *   where every pair shares hot terms, so ANY index degenerates to
    *   near-N² candidate ROWS through a shuffle (PERF.md "Round-4e" measured
    *   315M join rows for 5,000 docs on a 31-term corpus). Exact
    *   all-pairs is inherently Ω(N²·d) there — the cheapest place to pay
    *   it is flops, not shuffled rows: densify each doc to an
    *   `Array[Double]` over the sorted vocab, broadcast one side, and
    *   stream the nested-loop join through the codegen'd
    *   [[graft.functions.DotProductExpr]] — zero shuffle, no
    *   materialized candidates. Dense dot in ascending-dimension order
    *   adds exactly the same doubles in the same order as the sorted
    *   merge-join dot (zeros are exact no-ops), so both paths emit
    *   bit-identical cosines.
    */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    val nDocs = df.count()
    val tf = df
      .select(col(idCol), explode(graft.functions.TextFns.words(col(textCol)))
        .as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val termDf = tf.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).cast("long").as("df"))
      .filter(col("df") < nDocs)
      .cache()
    val vocabSize = termDf.count()
    val w = tf.join(termDf.hint("shuffle_hash"), Seq("term"))
      .select(col(idCol), col("term"), col("df"),
        (col("tf") * log(lit(nDocs.toDouble) / col("df"))).as("w"))
      .cache() // backs the normalized index pass AND candidate verification
    // Term-sorted packed vector + a DETERMINISTIC norm (fixed summation
    // order, identical on both code paths; the oracle's unordered SQL sum
    // differs only in ulps, absorbed by the 6-dp round).
    val packed = w.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("term"), col("w")))).as("vec"))
      .withColumn("norm", sqrt(aggregate(col("vec"), lit(0.0),
        (acc, x) => acc + x.getField("w") * x.getField("w"))))
      .cache()

    val out = if (vocabSize <= DenseVocabMax &&
        nDocs * vocabSize <= DenseCellsMax) {
      val vocab = termDf.select(col("term")).orderBy(col("term"))
        .collect().map(_.getString(0))
      val vpos = vocab.zipWithIndex.toMap
      val dim = vocab.length
      val toDense = udf { (vec: Seq[org.apache.spark.sql.Row]) =>
        val a = new Array[Double](dim)
        vec.foreach(r => a(vpos(r.getString(0))) = r.getDouble(1))
        a
      }
      val dense = packed.select(col(idCol), toDense(col("vec")).as("v"),
        col("norm"))
      dense.select(col(idCol).as("id_a"), col("v").as("va"), col("norm").as("na"))
        .join(broadcast(dense.select(col(idCol).as("id_b"), col("v").as("vb"),
          col("norm").as("nb"))), col("id_a") < col("id_b"))
        .withColumn("dot",
          graft.functions.VectorFns.dot(col("va"), col("vb")))
        // dot > 0 ⟺ the pair shares a term (all tf·idf weights are
        // strictly positive) — keeps parity with the index path, which
        // can only ever surface term-sharing pairs (matters at τ ≤ 0)
        .filter(col("dot") > 0.0)
        .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    } else {
      val wn = w.filter(col("df") >= 2)
        .join(packed.select(col(idCol), col("norm")), Seq(idCol))
        .select(col(idCol), col("term"), col("df"), (col("w") / col("norm")).as("wn"))
      val maxw = wn.groupBy(col("term")).agg(max(col("wn")).as("mxw"))
      val byDoc = Window.partitionBy(col(idCol))
        .orderBy(col("df").desc, col("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val idx = wn.join(maxw.hint("shuffle_hash"), Seq("term"))
        .withColumn("b", sum(col("wn") * col("mxw")).over(byDoc))
        .filter(col("b") >= threshold - 1e-9)
        .select(col(idCol), col("term"))
      val cands = wn.select(col(idCol).as("id_x"), col("term"))
        .hint("shuffle_hash")
        .join(idx.select(col(idCol).as("id_y"), col("term")), Seq("term"))
        .filter(col("id_x") =!= col("id_y"))
        .select(least(col("id_x"), col("id_y")).as("id_a"),
          greatest(col("id_x"), col("id_y")).as("id_b"))
        .distinct()
      val pk = packed.select(col(idCol), col("vec"), col("norm"))
      cands
        .join(pk.select(col(idCol).as("id_a"), col("vec").as("vec_a"),
          col("norm").as("na")), Seq("id_a"))
        .join(pk.select(col(idCol).as("id_b"), col("vec").as("vec_b"),
          col("norm").as("nb")), Seq("id_b"))
        .withColumn("cosine",
          round(sparseDot(col("vec_a"), col("vec_b")) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
    val result = out.localCheckpoint()
    w.unpersist(); termDf.unpersist(); packed.unpersist()
    result
  }

  /** Embedding covariance spectrum audit: the top eigenvalue of the
    * corpus covariance via `iters` distributed power iterations, plus
    * the total variance (trace) — the anisotropy evidence behind
    * whitening and dimensionality decisions (complements q150's health
    * gate and q182's Matryoshka truncation audit). One row:
    * (n_vecs, dim, total_var, top_eig, explained_x1e6).
    *
    * Scale shape: the d×d covariance NEVER materializes — C·v unrolls as
    * (1/n)·Σ_r x_r·(x_r·v − μ·v), exact by Σx = n·μ, so each iteration
    * is ONE corpus scan (a codegen dot per row + a d-row aggregate).
    * Driver state is two d-vectors (μ and the iterate) shipped as plan
    * literals — the PageRank pattern on dense vectors. All scalar folds
    * (μ·v, norms, trace) run in ascending-dim order on the driver, the
    * same order as the oracle's `list_dot_product`/ordered lists, so the
    * 6dp-rounded outputs agree across engines.
    */
  /** One power-iteration step of [[spectrumAudit]] as a DataFrame:
    * per-row scalar s = x·v − μ·v, then Σ x_i·s per dimension — ONE scan,
    * one d-row shuffle keyed on the dimension index. Exposed so
    * PlanShapeSpec can pin that the d×d covariance never materializes
    * (no join, no corpus-scale exchange) without running the full audit.
    */
  private[graft] def spectrumStep(vecs: DataFrame, v: Array[Double],
                                  c: Double): DataFrame = vecs
    .select((VectorFns.dot(col("e"), lit(v)) - lit(c)).as("s"), col("e"))
    .select(col("s"), posexplode(col("e")).as(Seq("i", "x")))
    .groupBy(col("i")).agg(sum(col("x") * col("s")).as("xs"))
    .orderBy(col("i"))

  def spectrumAudit(df: DataFrame, idCol: String, embCol: String,
                    iters: Int): DataFrame = {
    val spark = df.sparkSession
    val vecs = df.select(col(idCol).as("id"),
      col(embCol).cast("array<double>").as("e"))
    val stats = vecs.select(posexplode(col("e")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(avg(col("x")).as("m"), avg(col("x") * col("x")).as("m2"))
      .orderBy(col("i")).collect()
    val d = stats.length
    val n = vecs.count().toDouble
    val mu = Array.tabulate(d)(i => stats(i).getDouble(1))
    var totalVar = 0.0
    var i = 0
    while (i < d) { totalVar += stats(i).getDouble(2) - mu(i) * mu(i); i += 1 }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      var c = 0.0
      var j = 0
      while (j < d) { c += mu(j) * v(j); j += 1 }
      val xs = spectrumStep(vecs, v, c).collect()
      val w = Array.tabulate(d)(k => xs(k).getDouble(1) / n)
      var nsq = 0.0
      j = 0
      while (j < d) { nsq += w(j) * w(j); j += 1 }
      lambda = math.sqrt(nsq)
      if (lambda > 0) v = w.map(_ / lambda)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tvR = r6(totalVar)
    val eigR = r6(lambda)
    val explained =
      if (tvR <= 0) 0L else math.floor(eigR * 1000000.0 / tvR + 0.5).toLong
    spark.range(1).select(
      lit(n.toLong).as("n_vecs"), lit(d.toLong).as("dim"),
      lit(tvR).as("total_var"), lit(eigR).as("top_eig"),
      lit(explained).as("explained_x1e6"))
  }
}
